"""Executor-side (partition-local) cache resolve — the real-cluster
read path.

The driver-mode resolve (``CacheManager.resolve_for_spark``) hands
Spark concrete local paths out of the DRIVER's mirror — correct only
while every scan task can see that same mirror root (local[k], shared
NVMe/NFS). On a real multi-node cluster each node has its OWN
node-local mirror (the per-node singleton design of the reference —
every node's ``SidecarCachingFileSystem`` serves its own reads,
``SidecarCachingFileSystem.java:96-119,273-288``), so a driver-chosen
path is unreadable on any other machine and a task scheduled on an
unwarmed node would die with FileNotFoundException.

``CachedParquetSource`` moves the resolve into the scan task itself:

* ``partitions()`` (driver): ONE remote listing → InputPartitions,
  plus the same file-level scan veto math as ``resolve_for_spark``
  (a table bigger than the mirror floor must stream from remote on
  every node, not churn caches cluster-wide). A file larger than
  ``split_bytes`` (the session's ``spark.sql.files.maxPartitionBytes``
  by default) is split into BYTE RANGES — each task reads the row
  groups whose midpoint falls in its range, the exact assignment rule
  of Spark's own parquet splits — so one big or skewed file no longer
  serializes on a single task;
* ``read(partition)`` (executor): opens the node-local
  ``CacheManager.get_or_create`` singleton for the shipped cache root
  and resolves THIS file hit-or-materialize-or-remote against THAT
  node's mirror — an unwarmed node self-heals by materializing (a
  node-local fill, never a driver funnel), and a vetoed or failed
  fill streams the bytes straight from remote;
* self-heal against mid-scan eviction: the local copy is OPENED
  before use — a POSIX unlink after open leaves the fd readable, so
  an eviction racing the scan can never produce wrong bytes; a copy
  already gone at open time falls back to materialize-or-remote.

Scale shape: the driver moves zero data bytes; each task touches only
its byte range on its own node. Batches cross into Spark as Arrow
RecordBatches (the DataSource API's vectorized path).

Trade-off vs driver mode (kept the default for local[k]): rows pass
through the Python worker as Arrow batches instead of the JVM-native
parquet scan. The Python DataSource API has no AUTOMATIC column
pruning hook (pyspark 4.1 exposes only partitions/pushFilters/read),
so ``Engine.read_parquet(..., columns=[...])`` takes an EXPLICIT
projection: the declared schema shrinks to those columns and every
task reads only their parquet column chunks — at 100 TB the
difference between scanning 2 columns and 16. Use executor mode where
it is the only correct choice (``sidecar.resolve.mode = executor`` on
real clusters with node-local cache roots).

The source and reader here are the one skeleton every executor source
shares: ``schema()`` (listing, layout, per-format data schema, then the
duplicate-name check and projection), ``partitions()``, ``read()`` and
``reader()``. ORC (``cached_orc.py``) and text/binaryFile
(``cached_rawfile.py``) override only their format hooks.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

_BATCH_ROWS = 65536


def _flag(options, key: str, default: bool = False) -> bool:
    """A boolean reader option: ``"true"`` in any case is True, any
    other set value False, an unset or empty one ``default``."""
    v = options.get(key)
    if v is None or v == "":
        return default
    return str(v).lower() == "true"


class _PageCachedFile:
    """Minimal file-object adapter so pyarrow's parquet reader can
    pull its ranged reads through the engine's page-granular
    ``CachingInputStream`` (pyarrow wraps any readable+seekable Python
    object via ``pa.PythonFile``)."""

    def __init__(self, stream):
        self._s = stream

    def read(self, n=-1):
        return self._s.read(n)

    def seek(self, pos, whence=0):
        if whence == 1:
            pos += self._s.tell()
        elif whence == 2:
            pos += self._s.length
        self._s.seek(pos)
        return pos

    def tell(self):
        return self._s.tell()

    def size(self):
        return self._s.length

    def readable(self):
        return True

    def seekable(self):
        return True

    def writable(self):
        return False

    def flush(self):
        pass

    def close(self):
        self._s.close()

    @property
    def closed(self):
        return self._s._closed


def _int96_leaves(pf) -> set:
    """Dotted parquet leaf paths stored as INT96 (nested included —
    ``st.ts``, ``arr.list.element``, ``mp.key_value.value``). Spark
    reads INT96 as TimestampType (an LTZ instant) REGARDLESS of the
    NTZ inference setting, while pyarrow decodes it tz-naive — those
    exact leaves must carry a UTC zone so the derived Spark type
    matches (the int64 micros are unchanged; INT96 stores UTC
    instants)."""
    try:
        ps = pf.schema
        return {ps.column(i).path for i in range(len(ps))
                if ps.column(i).physical_type == "INT96"}
    except Exception:  # noqa: BLE001 — coercion is best-effort
        return set()


def _target_type(t, path: str, int96: set, nanos=frozenset(),
                 unwraps=frozenset()):
    """Recursively derive the type Spark should see at this leaf
    path: ns coerced to µs (embedded-arrow-schema restores of
    µs-stored data — files ANNOTATED nanos are refused upstream like
    the JVM, ``_refuse_illegal_types``), unsigned ints widened the
    way the JVM reads parquet UINT_* (uint8→smallint, uint16→int,
    uint32→bigint, uint64→decimal(20,0) — probed), INT96 leaves
    zoned UTC, nested struct fields relaxed to nullable (FileFormat
    asNullable). Path segments follow parquet's naming for
    containers (``list.element``, ``key_value.key/value``) so the
    INT96 match is per-leaf exact."""
    import pyarrow as pa

    if (unwraps and path in unwraps and pa.types.is_struct(t)
            and t.num_fields == 1):
        # legacy nested-list name rule (_legacy_list_unwraps): the
        # single-field struct pyarrow fabricated IS the element —
        # drop the wrapper and keep deriving at the same path
        return _target_type(t.field(0).type, path, int96, nanos,
                            unwraps)
    if pa.types.is_timestamp(t):
        if path in nanos:
            # TIMESTAMP(NANOS)-annotated leaf under nanosAsLong=true:
            # the JVM serves the raw ns counts as bigint (probed)
            return pa.int64()
        unit = "us" if t.unit == "ns" else t.unit
        tz = "UTC" if (t.tz is None and path in int96) else t.tz
        if unit != t.unit or tz != t.tz:
            return pa.timestamp(unit, tz=tz)
        return t
    if pa.types.is_uint8(t):
        return pa.int16()
    if pa.types.is_uint16(t):
        return pa.int32()
    if pa.types.is_uint32(t):
        return pa.int64()
    if pa.types.is_uint64(t):
        return pa.decimal128(20, 0)
    if pa.types.is_large_string(t):
        return pa.string()
    if pa.types.is_large_binary(t):
        return pa.binary()
    if pa.types.is_list(t):
        return pa.list_(
            _target_type(t.value_type, path + ".list.element", int96,
                         nanos, unwraps))
    if pa.types.is_large_list(t):
        return pa.large_list(
            _target_type(t.value_type, path + ".list.element", int96,
                         nanos, unwraps))
    if pa.types.is_map(t):
        return pa.map_(
            _target_type(t.key_type, path + ".key_value.key", int96,
                         nanos, unwraps),
            _target_type(t.item_type, path + ".key_value.value",
                         int96, nanos, unwraps))
    if pa.types.is_struct(t):
        return pa.struct([
            pa.field(f.name,
                     _target_type(f.type, path + "." + f.name, int96,
                                  nanos, unwraps),
                     True)
            for f in t])
    return t


def _parse_schema_tree(txt: str):
    """pyarrow's textual ParquetSchema dump → group tree (pyarrow
    exposes no programmatic parquet group tree, so the stable dump is
    the only window into repetition levels). FAILS LOUDLY when the
    dump contains ``repeated group`` but the line grammar matched
    nothing — a pyarrow dump-format change would otherwise silently
    disable legacy-list unwrapping and revert to serving the
    struct-wrapped (wrong) values it exists to fix (ADVICE r7 #1)."""
    import re

    line_re = re.compile(
        r"^(\s*)(required|optional|repeated) (.+?) field_id=-?\d+ "
        r"(\S+?)(?: \((.+?)\))?( \{|;)$")
    root = {"name": "", "anno": None, "group": True, "children": []}
    stack = [root]
    matched = 0
    for line in txt.splitlines():
        if line.strip() == "}":
            if len(stack) > 1:
                stack.pop()
            continue
        m = line_re.match(line)
        if not m:
            if line.rstrip().endswith("{"):
                # a group whose name defeats the pattern (spaces,
                # parens): keep the stack balanced so later siblings
                # attach to the right parents; "?" never matches the
                # name rule, so no unwrap is ever derived from it
                node = {"name": "?", "rep": "", "anno": None,
                        "group": True, "children": []}
                stack[-1]["children"].append(node)
                stack.append(node)
            continue
        matched += 1
        _, rep, typ, name, anno, tail = m.groups()
        node = {"name": name, "rep": rep, "anno": anno,
                "group": typ == "group", "children": []}
        stack[-1]["children"].append(node)
        if tail == " {":
            stack.append(node)
    if matched == 0 and "repeated group" in txt:
        raise ValueError(
            "unrecognized pyarrow ParquetSchema dump format (zero "
            "lines matched the field grammar but the schema has "
            "repeated groups) — legacy nested-list handling cannot "
            "silently fall open; this pyarrow version's dump layout "
            "needs a parser update (sources/cached_parquet.py)")
    # the first group line is the schema root itself
    if root["children"] and root["children"][0]["group"]:
        root = root["children"][0]
    return root


def _legacy_list_unwraps(pf) -> frozenset:
    """Arrow-path positions where pyarrow's decode of a
    LEGACY-format (``spark.sql.parquet.writeLegacyFormat=true``,
    Hive-compat) NESTED list diverges from the JVM: parquet-mr's
    backward-compat name rule says a ``repeated group`` named
    ``array`` (or ``<parent>_tuple``) directly under a LIST group is
    ITSELF the element — so when that group is also LIST-annotated
    the element is a list (``array<array<int>>``), while pyarrow
    wraps it in a single-field struct
    (``array<struct<array:array<int>>>``), a silent schema AND value
    divergence (probed). Returns paths in the ``_target_type``
    grammar (e.g. ``aa.list.element``) whose single-field struct must
    be unwrapped."""
    txt = str(pf.schema)
    if "repeated group" not in txt:
        return frozenset()
    root = _parse_schema_tree(txt)

    out = set()

    def walk(node, path, degraded=False):
        """``degraded`` = inside a subtree pyarrow entered through
        the name-rule mis-parse: there it still honors List/Map
        annotations but no longer FLATTENS single-child repeated
        groups (probed: an inner 3-level 'bag' form under an
        unwrapped outer list surfaced as struct<array:int64> where
        the JVM serves int64), so those levels need unwrapping too."""
        anno = (node["anno"] or "").split("(")[0]
        if not node["group"]:
            return
        if anno == "List" and node["children"]:
            r = node["children"][0]
            elem = path + ".list.element"
            r_anno = (r["anno"] or "").split("(")[0]
            name_rule = (r["name"] == "array"
                         or r["name"] == node["name"] + "_tuple")
            if r["group"] and name_rule and r_anno == "List":
                # the divergent shape: unwrap, then continue in the
                # UNWRAPPED tree (the same path hosts the inner list)
                out.add(elem)
                walk(r, elem, True)
            elif r["group"] and not name_rule and len(r["children"]) == 1:
                # standard 3-level (or "bag" legacy): element is the
                # repeated group's single child — pyarrow flattens
                # this at top level but NOT inside a degraded subtree
                if degraded:
                    out.add(elem)
                walk(r["children"][0], elem, degraded)
            elif r["group"] and not name_rule:
                # element is a struct of the repeated group's fields
                for c in r["children"]:
                    walk(c, elem + "." + c["name"], degraded)
            elif r["group"]:
                # name-rule, not List-annotated: element = the group
                # itself (a struct), pyarrow agrees
                for c in r["children"]:
                    walk(c, elem + "." + c["name"], degraded)
            return
        if anno in ("Map", "MapKeyValue") and node["children"]:
            kv = node["children"][0]
            kids = kv["children"] if kv["group"] else []
            if len(kids) == 2:
                walk(kids[0], path + ".key_value.key", degraded)
                walk(kids[1], path + ".key_value.value", degraded)
            return
        for c in node["children"]:
            walk(c, (path + "." if path else "") + c["name"], degraded)

    walk(root, "")
    return frozenset(out)


def _leaf_recursion_names(pf):
    """Map each parquet dotted LEAF path to the name the rebase
    recursion (rebase.rebase_array) rebuilds for it, derived from the
    actual group tree: only genuine container levels drop out —
    repeated levels under a LIST annotation contribute no segment,
    a MAP's synthetic key_value group collapses to ``.key``/
    ``.value``. A struct field literally named ``list`` (child
    ``element``) or ``key_value`` keeps its segments, where blind
    substring surgery would mangle it (ADVICE r7 #4). Returns None
    when the tree has unparseable names ("?") — callers fall back to
    the anchored string replace."""
    txt = str(pf.schema)
    if "repeated group" not in txt:
        # no repeated levels anywhere: every dotted segment is a
        # genuine struct field — identity naming
        return {}
    root = _parse_schema_tree(txt)
    out = {}
    bad = []

    def visit(node, pq, rn):
        """node = a named field; pq = its full parquet segment list
        (its own name included); rn = its rebase-recursion name."""
        if node["name"] == "?":
            bad.append(pq)
            return
        anno = (node["anno"] or "").split("(")[0]
        if not node["group"]:
            out[".".join(pq)] = rn
            return
        if anno == "List" and node["children"]:
            r = node["children"][0]
            if r["name"] == "?":
                bad.append(pq)
                return
            rpq = pq + [r["name"]]
            if not r["group"]:
                # 2-level legacy: the repeated primitive IS the
                # element — its level adds no recursion segment
                out[".".join(rpq)] = rn
                return
            name_rule = (r["name"] == "array"
                         or r["name"] == node["name"] + "_tuple")
            r_anno = (r["anno"] or "").split("(")[0]
            if name_rule and r_anno == "List":
                # divergent legacy shape: the repeated group is
                # itself the element LIST and its struct wrapper is
                # unwrapped (_legacy_list_unwraps) — re-visit it as a
                # list container at the SAME recursion name (rpq: its
                # own level still appears in the parquet path)
                visit(r, rpq, rn)
                return
            if name_rule or len(r["children"]) != 1:
                # element is the repeated group as a STRUCT (name
                # rule, or multi-field legacy group): children are
                # struct fields of the element
                for c in r["children"]:
                    visit(c, rpq + [c["name"]], rn + "." + c["name"])
                return
            # standard 3-level: the single child IS the element
            visit(r["children"][0], rpq + [r["children"][0]["name"]],
                  rn)
            return
        if anno in ("Map", "MapKeyValue") and node["children"]:
            kv = node["children"][0]
            kids = kv["children"] if kv["group"] else []
            if len(kids) == 2 and kv["name"] != "?":
                visit(kids[0], pq + [kv["name"], kids[0]["name"]],
                      rn + ".key")
                visit(kids[1], pq + [kv["name"], kids[1]["name"]],
                      rn + ".value")
                return
            bad.append(pq)
            return
        for c in node["children"]:
            visit(c, pq + [c["name"]], (rn + "." if rn else "")
                  + c["name"])

    for c in root["children"]:
        visit(c, [c["name"]], c["name"])
    return None if bad else out


def _nanos_leaves(pf) -> set:
    """Dotted parquet leaf paths ANNOTATED ``TIMESTAMP(NANOS,*)`` —
    the annotation is the key, not the arrow type: an embedded arrow
    schema can restore ns for a µs-annotated file (probed: pyarrow
    version=1.0 writes), and those must keep serving µs timestamps."""
    try:
        ps = pf.schema
        return {ps.column(i).path for i in range(len(ps))
                if (getattr(ps.column(i).logical_type, "type", None)
                    == "TIMESTAMP"
                    and "nanoseconds" in str(ps.column(i).logical_type))}
    except Exception:  # noqa: BLE001 — introspection is best-effort
        return set()


def _refuse_illegal_types(pf, path: str, nanos_long: bool = False,
                          requested=None):
    """The JVM parquet scan refuses these annotations outright
    (probed: PARQUET_TYPE_ILLEGAL): ``TIMESTAMP(NANOS,*)`` — Spark
    has no ns precision; ``spark.sql.legacy.parquet.nanosAsLong=true``
    reads them as bigint (implemented natively, ``_nanos_leaves``) —
    and ``TIME(*)`` (no Spark TIME in the parquet reader). Refusing
    here keeps the two resolve modes and the JVM in agreement instead
    of silently serving coerced values the JVM never would. Files
    whose ANNOTATION is µs pass even when an embedded arrow schema
    restores ns (probed: pyarrow version=1.0 writes coerce the
    annotation).

    ``requested`` (a set of top-level FILE-spelling column names, or
    None for "everything"): the JVM clips the parquet schema to the
    requested columns FIRST, so under an explicit user schema it
    reads files fine when the offending column is not requested
    (ADVICE r7 #3) — leaves outside the projection are skipped."""
    try:
        ps = pf.schema
        cols = [(ps.column(i).path, ps.column(i).logical_type)
                for i in range(len(ps))]
    except Exception:  # noqa: BLE001 — introspection is best-effort
        return
    for p, lt in cols:
        if requested is not None and not any(
                p == n or p.startswith(n + ".") for n in requested):
            continue  # projected away: the JVM never decodes it
        kind = getattr(lt, "type", None)
        if kind == "TIME" or (kind == "TIMESTAMP"
                              and not nanos_long
                              and "nanoseconds" in str(lt)):
            raise ValueError(
                f"Illegal Parquet type {lt} at column {p!r} in "
                f"{path!r}: the JVM scan refuses it "
                "(PARQUET_TYPE_ILLEGAL). For nanosecond timestamps "
                "set spark.sql.legacy.parquet.nanosAsLong=true to "
                "read them as bigint.")


def _arrow_target(pf, nanos_long: bool = False, unwraps=None):
    """The Arrow schema Spark should see for this parquet file:
    ns→µs, unsigned widened, nested-nullable, INT96 zoned UTC (per
    leaf), NANOS-annotated leaves as int64 under nanosAsLong,
    legacy nested-list struct wrappers dropped."""
    import pyarrow as pa

    int96 = _int96_leaves(pf)
    nanos = _nanos_leaves(pf) if nanos_long else frozenset()
    if unwraps is None:
        unwraps = _legacy_list_unwraps(pf)
    return pa.schema([
        pa.field(f.name, _target_type(f.type, f.name, int96, nanos,
                                      unwraps),
                 f.nullable)
        for f in pf.schema_arrow])


def _unwrap_legacy_array(arr, path, unwraps):
    """Drop the single-field struct wrappers pyarrow fabricates for
    legacy nested lists (``_legacy_list_unwraps``), recursing into
    containers; identity (the same object) when nothing under this
    path needs unwrapping."""
    import pyarrow as pa

    t = arr.type
    if (pa.types.is_struct(t) and path in unwraps
            and t.num_fields == 1):
        if arr.null_count:
            # the wrapper is a parquet REPEATED group — it cannot be
            # null; a null here means the shape is not the probed one
            raise ValueError(
                f"unexpected null legacy-list wrapper at {path!r}")
        return _unwrap_legacy_array(arr.field(0), path, unwraps)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        src = arr.flatten()
        flat = _unwrap_legacy_array(src, path + ".list.element",
                                    unwraps)
        if flat is src:
            return arr
        import pyarrow.compute as pc

        off = arr.offsets
        if off.null_count:
            off = pc.fill_null_backward(pc.fill_null_forward(off))
        base = off[0].as_py() or 0
        if base:
            off = pc.subtract(off, base)
        cls = (pa.LargeListArray if pa.types.is_large_list(t)
               else pa.ListArray)
        return cls.from_arrays(
            off.cast(pa.int64() if pa.types.is_large_list(t)
                     else pa.int32()),
            flat, mask=arr.is_null())
    if pa.types.is_struct(t):
        srcs = [arr.field(i) for i in range(t.num_fields)]
        kids = [_unwrap_legacy_array(
                    s, f"{path}.{t.field(i).name}", unwraps)
                for i, s in enumerate(srcs)]
        if all(k is s for k, s in zip(kids, srcs)):
            return arr
        return pa.StructArray.from_arrays(
            kids, names=[t.field(i).name for i in range(t.num_fields)],
            mask=arr.is_null())
    if pa.types.is_map(t):
        entries = arr.values  # raw entries struct (never null)
        k0, i0 = entries.field(0), entries.field(1)
        k1 = _unwrap_legacy_array(k0, path + ".key_value.key", unwraps)
        i1 = _unwrap_legacy_array(i0, path + ".key_value.value",
                                  unwraps)
        if k1 is k0 and i1 is i0:
            return arr
        new_entries = pa.StructArray.from_arrays(
            [k1, i1], names=[entries.type.field(0).name,
                             entries.type.field(1).name])
        return pa.Array.from_buffers(
            pa.map_(k1.type, i1.type), len(arr), arr.buffers()[:2],
            null_count=arr.null_count, offset=arr.offset,
            children=[new_entries])
    return arr


def _coerce_batches(pf, target, columns=None, row_groups=None,
                    unwraps=frozenset(), safe=True):
    """iter_batches limited to ``columns`` / ``row_groups`` (both
    optional), with schema coercion applied only when needed. The
    target subtype is derived per batch-shape from the full-file
    target, so a projected read coerces only the columns it moved.
    ``unwraps`` drops legacy nested-list struct wrappers first — a
    structural change .cast() cannot express. ``safe=False`` is for
    the ns side of the parquet-cpp INT96 dual decode only: wrapped
    values carry sub-µs noise the merge discards, and truncation
    toward zero is the JVM's own nanos/1000 (probed)."""
    kwargs = {"batch_size": _BATCH_ROWS}
    if columns is not None:
        kwargs["columns"] = columns
    if row_groups is not None:
        kwargs["row_groups"] = row_groups
    import pyarrow as pa

    subs = {}
    for batch in pf.iter_batches(**kwargs):
        if unwraps:
            arrays = [_unwrap_legacy_array(batch.column(i),
                                           batch.schema.names[i],
                                           unwraps)
                      for i in range(batch.num_columns)]
            batch = pa.RecordBatch.from_arrays(
                arrays, names=list(batch.schema.names))
        key = tuple(batch.schema.names)
        sub = subs.get(key)
        if sub is None:
            sub = pa.schema([target.field(n) for n in key])
            subs[key] = sub
        yield (batch if batch.schema.equals(sub)
               else batch.cast(sub, safe=safe))


def _merge_int96_wrap(a_us, a_ns, name, int96_cols):
    """Per-value merge of the two INT96 decodes (µs-coerced and
    ns-coerced) into the JVM's exact signed arithmetic. Truth table
    (probed grid, PARITY.md): decodes EQUAL → exact for every value
    in [1677, 2262], all midnights, and everything ≥ 1970; ns ABOVE
    µs → ns wrapped upward (pre-1677 midnight: serve µs); µs ABOVE
    ns → either a pre-1970 value whose negative nanos wrapped the µs
    path (serve ns) or a genuine (2262, 2554) value whose ns decode
    wrapped down — distinguished by ns ≥ 1970 (serve µs), ambiguous
    only when the ns reading lands pre-1970, where the historical
    reading wins (documented residual). Recurses into lists/structs/
    maps with the rebase recursion's naming."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = a_us.type
    if pa.types.is_timestamp(t):
        if name not in int96_cols or a_us.equals(a_ns):
            return a_us
        i_us = a_us.cast(pa.int64())
        i_ns = a_ns.cast(pa.int64())
        mask = pc.and_kleene(pc.greater(i_us, i_ns),
                             pc.less(i_ns, 0))
        return pc.if_else(mask, i_ns, i_us).cast(t)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        src = a_us.flatten()
        flat = _merge_int96_wrap(src, a_ns.flatten(), name,
                                 int96_cols)
        if flat is src:
            return a_us
        off = a_us.offsets
        if off.null_count:
            off = pc.fill_null_backward(pc.fill_null_forward(off))
        base = off[0].as_py() or 0
        if base:
            off = pc.subtract(off, base)
        cls = (pa.LargeListArray if pa.types.is_large_list(t)
               else pa.ListArray)
        return cls.from_arrays(
            off.cast(pa.int64() if pa.types.is_large_list(t)
                     else pa.int32()),
            flat, mask=a_us.is_null())
    if pa.types.is_struct(t):
        srcs = [a_us.field(i) for i in range(t.num_fields)]
        kids = [_merge_int96_wrap(
            s, a_ns.field(i),
            f"{name}.{t.field(i).name}" if name else t.field(i).name,
            int96_cols) for i, s in enumerate(srcs)]
        if all(k is s for k, s in zip(kids, srcs)):
            return a_us
        return pa.StructArray.from_arrays(kids, fields=list(t),
                                          mask=a_us.is_null())
    if pa.types.is_map(t):
        entries = pa.list_(pa.struct([
            pa.field("key", t.key_type, False),
            pa.field("value", t.item_type)]))
        lv = a_us.cast(entries)
        out = _merge_int96_wrap(lv, a_ns.cast(entries), name,
                                int96_cols)
        if out is lv:
            return a_us
        vals = out.values
        if vals.null_count == 0 and vals.buffers()[0] is not None:
            vals = pa.StructArray.from_arrays(
                [vals.field(i) for i in range(vals.type.num_fields)],
                fields=list(vals.type))
        return pa.Array.from_buffers(
            t, len(out), out.buffers()[:2],
            null_count=out.null_count, children=[vals])
    return a_us


def _merged_int96_batches(fobj, pf, target, cols, rgs, unwraps):
    """Dual-decode pipeline for parquet-cpp-written INT96 files: one
    row group at a time, FULLY materialize the µs-coerced batches,
    then the ns-coerced ones (the two readers share one file object —
    strict alternation keeps their seek/read pairs from interleaving),
    then merge per value. Only this rare writer family pays the
    double decode; parquet-mr files take the single-pass path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sidecar_spark.sources.rebase import _recursion_names

    fobj.seek(0)
    pf_ns = pq.ParquetFile(fobj, coerce_int96_timestamp_unit="ns")
    int96_cols = _recursion_names(pf, _int96_leaves(pf))
    rg_list = list(rgs if rgs is not None
                   else range(pf.metadata.num_row_groups))
    for rg in rg_list:
        us = list(_coerce_batches(pf, target, cols, [rg],
                                  unwraps=unwraps))
        ns = list(_coerce_batches(pf_ns, target, cols, [rg],
                                  unwraps=unwraps, safe=False))
        for bu, bn in zip(us, ns):
            arrays = [_merge_int96_wrap(bu.column(i), bn.column(i),
                                        bu.schema.names[i],
                                        int96_cols)
                      for i in range(bu.num_columns)]
            yield pa.RecordBatch.from_arrays(
                arrays, schema=bu.schema)


def _merge_data_types(a, b, case_sensitive: bool, path: str):
    """Spark's ``StructType.merge`` type fusion, probed live against
    the Spark 4.1 JVM (round-7 probe sweep P1-P17): identical types
    pass; struct/array/map recurse; decimals with EQUAL scale take the
    max precision; EVERYTHING else (int vs bigint, bigint vs double,
    ntz vs ltz, string vs int, differing decimal scales, differing
    array elements) raises — the JVM's CANNOT_MERGE_SCHEMAS."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    if a == b:
        return a
    if isinstance(a, StructType) and isinstance(b, StructType):
        return _merge_struct_types(a, b, case_sensitive)
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        return ArrayType(
            _merge_data_types(a.elementType, b.elementType,
                              case_sensitive, path + ".element"),
            a.containsNull or b.containsNull)
    if isinstance(a, MapType) and isinstance(b, MapType):
        return MapType(
            _merge_data_types(a.keyType, b.keyType, case_sensitive,
                              path + ".key"),
            _merge_data_types(a.valueType, b.valueType, case_sensitive,
                              path + ".value"),
            a.valueContainsNull or b.valueContainsNull)
    if (isinstance(a, DecimalType) and isinstance(b, DecimalType)
            and a.scale == b.scale):
        return DecimalType(max(a.precision, b.precision), a.scale)
    raise ValueError(
        f"CANNOT_MERGE_SCHEMAS: failed merging field {path!r}: "
        f"{a.simpleString()} and {b.simpleString()} are incompatible "
        "(Spark mergeSchema semantics)")


def _merge_struct_types(left, right, case_sensitive: bool):
    """Fold one footer schema into the running merge, JVM semantics
    (probed): left fields keep their order AND their name case; a
    right field matching by name (case-insensitively unless
    spark.sql.caseSensitive) merges types in place; unmatched right
    fields append in right's order; nullability ORs."""
    from pyspark.sql.types import StructField, StructType

    def key(n):
        return n if case_sensitive else n.lower()

    left_by_key = {key(f.name): i for i, f in enumerate(left.fields)}
    out = list(left.fields)
    for f in right.fields:
        i = left_by_key.get(key(f.name))
        if i is None:
            out.append(f)
        else:
            cur = out[i]
            out[i] = StructField(
                cur.name,
                _merge_data_types(cur.dataType, f.dataType,
                                  case_sensitive, cur.name),
                cur.nullable or f.nullable, cur.metadata)
    return StructType(out)


def merge_structs(structs, case_sensitive: bool):
    """mergeSchema's left fold of footer schemas, in the given (path)
    order, through ``_merge_struct_types``. ``structs`` is non-empty."""
    import functools

    return functools.reduce(
        lambda a, b: _merge_struct_types(a, b, case_sensitive), structs)


def _binary_as_string_type(dt):
    """spark.sql.parquet.binaryAsString=true: unannotated BINARY
    infers as string — NESTED included (round 10, probed B5:
    struct/array element binaries turn string too; ORC unaffected).
    Recursive type transform over the inferred Spark type."""
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    if isinstance(dt, BinaryType):
        return StringType()
    if isinstance(dt, ArrayType):
        return ArrayType(_binary_as_string_type(dt.elementType),
                         dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(_binary_as_string_type(dt.keyType),
                       _binary_as_string_type(dt.valueType),
                       dt.valueContainsNull)
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name,
                        _binary_as_string_type(f.dataType),
                        True, f.metadata) for f in dt.fields])
    return dt


def _partition_types(specs, options):
    """Partition-column (name, ddl) pairs honoring
    ``spark.sql.sources.partitionColumnTypeInference.enabled``
    (round 10, probed): disabled → every column types STRING, except
    an all-null column which stays VOID exactly like the JVM (N1).
    Values decode identically either way (%-unescape,
    __HIVE_DEFAULT_PARTITION__ → null)."""
    from sidecar_spark.cache.partitions import infer_partition_types

    inferred = infer_partition_types(specs)
    if not _flag(options, "pt_inference", True):
        return [(k, ddl if ddl == "void" else "string")
                for k, ddl in inferred]
    return inferred


def open_footer(mgr, st, decode):
    """``decode(src)`` over the data file version ``st`` (a
    ``FileStat``), mirror-first through the node-local manager: ``src``
    is the mirror copy's local path when this node holds one (a warmed
    node's footer reads cost zero remote requests), else an open remote
    stream."""
    fs_, p_ = mgr._resolve(st.path)  # noqa: SLF001
    local = (mgr.mirror.lookup(dataclasses.replace(st, path=p_))
             if mgr.mirror is not None else None)
    if local is not None:
        return decode(local)
    with fs_.open_read(p_) as f:
        return decode(f)


def footer_spark_struct(mgr, st, ntz: bool,
                        nanos_long: bool, arrow_schema_of=None,
                        binary_as_string: bool = False):
    """ONE file's footer → the Spark StructType the JVM would derive
    for it: INT96/ns coercion, NTZ inference, then relaxed to
    all-nullable (FileFormat asNullable), read through
    ``open_footer``. Shared by the plan worker's thread fold and the
    Engine's distributed mergeSchema job."""
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructField, StructType

    if arrow_schema_of is None:
        arrow_schema_of = CachedParquetSource._file_arrow_schema
    arrow = open_footer(mgr, st,
                        lambda src: arrow_schema_of(src, nanos_long))
    s = from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)
    out = StructType([StructField(f.name, f.dataType, True,
                                  f.metadata) for f in s.fields])
    if binary_as_string:
        out = _binary_as_string_type(out)
    return out


def listing_filter(files, glob: str = "", mod_before=None,
                   mod_after=None):
    """LISTING-level option semantics, shared by every executor
    source (round-8): ``pathGlobFilter`` matches the file BASENAME
    only (probed), ``modifiedBefore``/``modifiedAfter`` compare the
    listing mtime (epoch ms) STRICTLY against the threshold (probed:
    a file at exactly the boundary is excluded by both)."""
    if not (glob or mod_before or mod_after):
        return files
    out = []
    for st in files:
        if glob:
            from sidecar_spark.sources.cached_rawfile import (
                glob_match,
            )

            if not glob_match(glob,
                              st.path.rstrip("/").rsplit("/", 1)[-1]):
                continue
        if mod_before is not None and not st.mtime < mod_before:
            continue
        if mod_after is not None and not st.mtime > mod_after:
            continue
        out.append(st)
    return out


def load_manifest(manifest):
    """The read's listing as shipped by the Engine
    (``Engine._ship_listing``): a driver-local JSONL file, readable
    here because the Python DataSource's plan stages run in worker
    processes ON the driver node. None when the option is absent or
    the file is gone/unreadable (pruned manifest, foreign node) — the
    caller lists itself, correct always."""
    if not manifest:
        return None
    try:
        import json

        from sidecar_spark.cache.fs import FileStat

        out = []
        with open(manifest, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    d = json.loads(line)
                    out.append(FileStat(path=d["p"], length=d["l"],
                                        mtime=d["m"], is_dir=False))
        return out
    except Exception:  # noqa: BLE001
        return None


def table_files(mgr, options):
    """A source's listing of its table: the Engine's shipped manifest
    (already filtered by the listing-level options), else one
    ``CacheManager.list_files`` with those options applied here."""
    files = load_manifest(options.get("files_manifest"))
    if files is None:
        files = listing_filter(mgr.list_files(options.get("path")),
                               *_listing_args(options))
    return files


def _listing_args(options):
    """(glob, mod_before, mod_after) from reader options."""
    def ms(key):
        raw = options.get(key)
        try:
            return int(raw) if raw else None
        except (TypeError, ValueError):
            return None

    return (options.get("pathglob") or "", ms("mod_before"),
            ms("mod_after"))


def table_layout(mgr, options, files):
    """Per-file hive partition specs of ``files``, shared by schema()
    and partitions(). Under recursiveFileLookup (the "rfl" option) the
    directory structure is not semantic: files at any depth, no
    partition columns (JVM-probed). A layout that is not a clean hive
    tree is refused, as Spark's partition discovery refuses it."""
    if _flag(options, "rfl"):
        return [[] for _ in files]
    from sidecar_spark.cache.partitions import layout_specs

    path = options.get("path")
    _, root = mgr._resolve(path)  # noqa: SLF001
    specs = layout_specs(root, files)
    if specs is None:
        raise ValueError(
            f"{path!r} is not a clean hive-partitioned layout (non "
            "key=value subdirectories, or files at mixed depths) — "
            "Spark's partition discovery refuses these too; read the "
            "original root with spark.read (add recursiveFileLookup="
            "true to flatten nested dirs)")
    return specs


class _FilePart(InputPartition):
    def __init__(self, path: str, mtime: int, length: int, veto: bool,
                 parts=(), start: int = 0, end=None, first: bool = False):
        self.path = path
        self.mtime = mtime
        self.length = length
        self.veto = veto
        #: ((key, raw value), ...) hive partition segments of this file
        self.parts = tuple(parts)
        #: byte range of this split — a task reads the row groups
        #: whose midpoint falls in [start, end); (0, length) = whole
        #: file. Ranges tile the file exactly, so every row group
        #: lands in exactly one task.
        self.start = start
        self.end = length if end is None else end
        #: True on the first partition of the scan — the veto
        #: scan-detected counter bumps once per EXECUTED scan there
        #: (not once per planning call; round-5 verdict "wrong #3")
        self.first = first


class _PackedPart(InputPartition):
    """Several WHOLE small files served by ONE task — Spark's own
    FilePartition bin-packing (maxSplitBytes from maxPartitionBytes /
    openCostInBytes / parallelism, greedy descending-size fill). At
    100 TB a directory of millions of small objects (images, logs)
    otherwise plans one task per file and scheduling + Python-worker
    round-trips dominate the scan (measured: a 6.7k-file PNG tree,
    29.5 s one-task-per-file -> ~2 s packed)."""

    def __init__(self, subs):
        self.subs = tuple(subs)


def _pack_whole_files(parts, split_bytes, open_cost, parallelism,
                      no_pack_above=None):
    """Pack whole-file parts into _PackedParts, Spark's rule: cost =
    length + openCost, bin target = min(maxPartitionBytes,
    max(openCost, (total + n*openCost) / parallelism)), greedy over
    files sorted by length descending. Byte-range and stripe-range
    splits pass through unpacked (they already tile big files), as
    do files above ``no_pack_above`` (ORC: files the stripe splitter
    will break up later must not hide inside a _PackedPart)."""
    whole, rest = [], []
    for p in parts:
        if (p.start == 0 and p.end == p.length
                and getattr(p, "stripes", None) is None
                and (no_pack_above is None
                     or p.length <= no_pack_above)):
            whole.append(p)
        else:
            rest.append(p)
    if len(whole) <= 1:
        return parts
    open_cost = max(0, int(open_cost))
    target = max(open_cost, 1)
    if parallelism > 0:
        per_core = (sum(p.length for p in whole)
                    + len(whole) * open_cost) // parallelism
        target = max(open_cost, per_core)
    if split_bytes:
        target = min(target, split_bytes)
    target = max(target, 1)
    whole.sort(key=lambda p: p.length, reverse=True)
    packs, cur, cur_cost = [], [], 0
    for p in whole:
        # exactly Spark's FilePartition test: the incoming file's
        # openCost is NOT counted in the overflow check (currentSize
        # + file.length > maxSplitBytes), but IS added to the bin
        # after placing — ADVICE r9: the previous `cur_cost + (length
        # + openCost) > target` drifted partition counts vs the JVM
        if cur and cur_cost + p.length > target:
            packs.append(cur)
            cur, cur_cost = [], 0
        cur.append(p)
        cur_cost += p.length + open_cost
    if cur:
        packs.append(cur)
    out = [pk[0] if len(pk) == 1 else _PackedPart(pk)
           for pk in packs]
    out.extend(rest)
    return out


def _select_row_groups(pf, start: int, end: int):
    """Row groups whose midpoint (first column-chunk offset + half the
    compressed size) falls in [start, end) — Spark's own split
    assignment rule for parquet, so splits are disjoint and
    complete."""
    md = pf.metadata
    out = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        first_off = None
        comp = 0
        for j in range(rg.num_columns):
            c = rg.column(j)
            off = c.dictionary_page_offset
            if off is None:
                off = c.data_page_offset
            if first_off is None or off < first_off:
                first_off = off
            comp += c.total_compressed_size
        mid = (first_off or 0) + comp // 2
        if start <= mid < end:
            out.append(i)
    return out


def _stat_comparable(r, v) -> bool:
    """True when a pushed-filter reference and a parquet statistics
    value can be compared soundly. Floats are excluded (a row group
    containing NaN may carry min/max stats that ignore it, and Spark
    orders NaN largest — pruning on them could drop matching rows);
    timestamps are excluded (stat values are instants, Spark
    references are session-zone-sensitive); bools/ints/strings/dates/
    decimals compare exactly."""
    import datetime
    import decimal

    if isinstance(r, bool) or isinstance(v, bool):
        return isinstance(r, bool) and isinstance(v, bool)
    if isinstance(r, datetime.datetime) or isinstance(v, datetime.datetime):
        return False
    if isinstance(r, int) and isinstance(v, int):
        return True
    if isinstance(r, str) and isinstance(v, str):
        return True
    if isinstance(r, datetime.date) and isinstance(v, datetime.date):
        return True
    if isinstance(r, decimal.Decimal) and isinstance(v, decimal.Decimal):
        return True
    return False  # floats, bytes, mixed types: keep the group


def _rg_may_match(md, i, col_idx, flt, present=frozenset()) -> bool:
    """Conservative per-row-group test for ONE pushed filter: False
    only when the group's statistics PROVE no row can satisfy it —
    any missing/unknown/incomparable statistic keeps the group, and
    every filter stays residual for Spark regardless. ``present`` is
    the file's top-level field names: a filter column in it but not
    in ``col_idx`` is present-but-unprunable, NOT null-filled."""
    col_key, op, ref = flt
    j = col_idx.get(col_key)
    if j is None:
        if col_key in present:
            # present but unprunable (nested/ambiguous-path column):
            # never prove anything about it — keep the group
            return True
        # the column is absent from this FILE (schema evolution):
        # every row null-fills it, and NULL satisfies only IsNull
        return op == "isnull"
    rg = md.row_group(i)
    try:
        st = rg.column(j).statistics
    except Exception:  # noqa: BLE001 — no stats: keep
        return True
    if st is None:
        return True
    nulls = None
    try:
        nulls = st.null_count
    except Exception:  # noqa: BLE001
        pass
    if op == "isnull":
        return nulls != 0  # unknown (None) keeps the group
    if op == "isnotnull":
        return not (nulls is not None and nulls == rg.num_rows)
    if not st.has_min_max:
        return True
    mn, mx = st.min, st.max
    refs = ref if op == "in" else (ref,)
    possible = False
    for r in refs:
        if r is None:
            continue  # NULL fails every comparison
        if not _stat_comparable(r, mn) or not _stat_comparable(r, mx):
            return True  # incomparable: keep
        try:
            if op in ("eq", "in"):
                possible = possible or (mn <= r <= mx)
            elif op == "gt":
                possible = possible or (mx > r)
            elif op == "ge":
                possible = possible or (mx >= r)
            elif op == "lt":
                possible = possible or (mn < r)
            elif op == "le":
                possible = possible or (mn <= r)
            else:
                return True  # unknown op: keep
        except TypeError:
            return True
        if possible:
            return True
    return possible


def _stat_prune(pf, rgs, filters, case_sensitive=False):
    """Drop row groups whose min/max/null statistics PROVABLY fail a
    pushed filter — the Python-source analog of the JVM parquet
    scan's row-group statistics filtering (round-6 verdict #2). On a
    table sorted or clustered by the filtered column this is the
    difference between touching 2% and 100% of the row groups at
    100 TB. ``rgs`` is the byte-range pre-selection (or every group);
    every filter stays residual for Spark, so pruning can only skip
    provably-empty groups."""
    md = pf.metadata
    if not filters or not md.num_row_groups:
        return rgs
    import pyarrow as pa

    def norm(n):
        return n if case_sensitive else n.lower()

    # map top-level PRIMITIVE field names to their column chunk —
    # by arrow field identity, not by "path has no dot": a flat
    # column literally named "a.b" has parquet path "a.b" too, and
    # excluding it used to read as "absent from the file" downstream,
    # wrongly pruning every group for an eq filter (probed: silent
    # empty result). A nested leaf sharing a flat column's path
    # (struct a{b} next to flat "a.b") is ambiguous — both drop out
    # (kept as unprunable), never mis-resolved.
    present = set()
    prim = set()
    for f in pf.schema_arrow:
        present.add(norm(f.name))
        if not pa.types.is_nested(f.type):
            prim.add(norm(f.name))
    col_idx = {}
    dup = set()
    try:
        rg0 = md.row_group(0)
        for j in range(rg0.num_columns):
            key = norm(rg0.column(j).path_in_schema)
            if key not in prim:
                continue  # nested leaf: stats don't line up
            if key in col_idx:
                dup.add(key)
            col_idx[key] = j
        for k in dup:
            col_idx.pop(k, None)
    except Exception:  # noqa: BLE001 — metadata trouble: no pruning
        return rgs
    flts = [(norm(c), op, ref) for c, op, ref in filters]
    return [i for i in rgs
            if all(_rg_may_match(md, i, col_idx, f, present)
                   for f in flts)]


def _resolve_file_columns(names, columns, case_sensitive, path):
    """Map requested (declared-schema) column names to THIS file's
    spellings. The JVM resolves file columns case-INsensitively under
    the default spark.sql.caseSensitive=false (probed): a file
    spelling "x" serves a declared "X"; ambiguous duplicates error
    loudly ("Found duplicate field(s)"), never serve whichever
    spelling enumerates last. A requested column the file lacks is
    omitted (null-filled downstream by _finalize_batches)."""
    if case_sensitive:
        present = set(names)
        return [c for c in columns if c in present]
    by_lower = {}
    for n in names:
        by_lower.setdefault(n.lower(), []).append(n)
    cols = []
    for c in columns:
        m = by_lower.get(c.lower())
        if m is None:
            continue
        if len(m) > 1:
            raise ValueError(
                f"Found duplicate field(s) {m!r} for column {c!r} "
                f"in {path!r} while reading in case-insensitive mode")
        cols.append(m[0])
    return cols


def _parquet_pass(fobj, part, columns, stat_filters, case_sensitive,
                  path, dt_rebase="CORRECTED", i96_rebase="CORRECTED",
                  ntz=True, nanos_long=False):
    """Decode ONE parquet file object into coerced Arrow batches:
    projection by file spelling, byte-range row-group selection,
    statistics pruning, calendar rebase."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(fobj, coerce_int96_timestamp_unit="us")
    cols = None
    if columns is not None:
        cols = _resolve_file_columns(pf.schema_arrow.names, columns,
                                     case_sensitive, path)
    # refusal is clipped to the projection: an unrequested TIME /
    # TIMESTAMP(NANOS) column must not fail a read the JVM serves
    # (it decodes only the requested columns — ADVICE r7 #3)
    _refuse_illegal_types(pf, path, nanos_long,
                          requested=None if cols is None else set(cols))
    is_split = part.start > 0 or part.end < part.length
    rgs = (_select_row_groups(pf, part.start, part.end)
           if is_split else None)
    if stat_filters:
        km = pf.metadata.metadata or {}
        if (b"org.apache.spark.legacyDateTime" in km
                or (dt_rebase == "LEGACY"
                    and b"org.apache.spark.version" not in km)):
            # LEGACY-read file (footer marker, or non-Spark file under
            # datetimeRebaseModeInRead=LEGACY): date statistics hold
            # HYBRID-calendar day counts while Spark's pushed
            # references are proleptic — comparing them could wrongly
            # skip a group whose rebased values match. Dates stop
            # pruning for this file; timestamps never prune anyway.
            import datetime as _dt

            stat_filters = [
                f for f in stat_filters
                if not any(isinstance(r, _dt.date) for r in
                           (f[2] if isinstance(f[2], tuple)
                            else (f[2],)))]
        rgs = _stat_prune(
            pf,
            rgs if rgs is not None
            else range(pf.metadata.num_row_groups),
            stat_filters, case_sensitive)
    unwraps = _legacy_list_unwraps(pf)
    target = _arrow_target(pf, nanos_long, unwraps=unwraps)
    int96 = _int96_leaves(pf)
    if (int96
            and (pf.metadata.created_by or "").startswith(
                "parquet-cpp")):
        # writer-signature guard (round-7 verdict wrong-#1):
        # parquet-cpp/pyarrow writes pre-1970 non-midnight INT96
        # with a nonstandard NEGATIVE nanos-of-day field. pyarrow's
        # µs-coercion decode accumulates it UNSIGNED (+2^64 ns, ~584
        # years); its ns-coercion decode is exact there (the int64
        # wrap cancels) but wraps values OUTSIDE [1677, 2262].
        # Decoding BOTH and merging per value recovers the JVM's
        # exact signed arithmetic everywhere except one provably
        # ambiguous corner — see _merged_int96_batches.
        batches = _merged_int96_batches(fobj, pf, target, cols, rgs,
                                        unwraps)
    else:
        batches = _coerce_batches(pf, target, cols, rgs,
                                  unwraps=unwraps)
    # Calendar rebase, matching the JVM scan's per-file mode choice
    # (probed — rebase.py docstrings): footer legacy markers →
    # rebase; Spark-written unmarked → pass through; non-Spark files
    # → the session's datetimeRebaseModeInRead / int96RebaseModeInRead
    # (shipped from the driver as reader options). NTZ columns are
    # exempt in every mode.
    from sidecar_spark.sources.rebase import rebase_batches

    return rebase_batches(batches, pf, _int96_leaves(pf),
                          dt_conf=dt_rebase, i96_conf=i96_rebase,
                          ntz_infer=ntz, path=path)


def _skip_file_errors(batches, corrupt: bool, missing: bool):
    """Per-file skip semantics of ``ignoreCorruptFiles`` /
    ``ignoreMissingFiles`` (round 10, probed — the JVM's FileScanRDD
    rules, tests/test_ignore_files.py): a FileNotFound ends the file
    silently only under ignoreMissingFiles; ANY other error only
    under ignoreCorruptFiles; batches already yielded STAY (the JVM
    keeps partially-emitted rows — probed P4c: a half-truncated gzip
    csv serves its decodable prefix). Wrapped UPSTREAM of
    ``_finalize_batches`` so the cast-gate's loud refuse-to-guess
    errors still raise — mirroring the JVM, whose schema-convert
    exceptions bypass the ignoreCorruptFiles catch."""
    try:
        yield from batches
    except FileNotFoundError:
        if not missing:
            raise
    except Exception:  # noqa: BLE001 — the JVM catch is this broad
        if not corrupt:
            raise


def _read_file_batches(mgr, part: _FilePart, one_pass):
    """Node-local hit-or-materialize-or-remote for ONE data file (or
    one byte-range split of it); yields Arrow RecordBatches from
    ``one_pass(fobj)`` — the format-specific decode (parquet row
    groups, ORC stripes). Runs inside the scan task (the caller
    applied the S3 endpoint override already — one authoritative
    site, ``_apply_endpoint``)."""
    from sidecar_spark.cache.fs import FileStat

    fs, p = mgr._resolve(part.path)  # noqa: SLF001 — package-internal
    st = FileStat(path=p, length=part.length, mtime=part.mtime,
                  is_dir=False)
    span = part.end - part.start  # bytes this task is responsible for

    handle = None
    hit = False
    if mgr.mirror is not None and mgr.is_cacheable_file(p, part.length):
        # EXISTING hits are served locally even under the veto — the
        # veto gates FILLS only (resolve_for_spark parity: "existing
        # hits are still served locally"); a warmed file must not
        # re-stream from remote just because the table grew
        local = mgr.mirror.lookup(st)
        if local is not None:
            try:
                # open BEFORE reading: once the fd exists, a racing
                # eviction's unlink cannot corrupt this scan (POSIX
                # keeps the inode alive)
                handle = open(local, "rb")
                hit = True
            except OSError:
                handle = None  # evicted between lookup and open
        if handle is None and not part.veto and part.start == 0:
            # unwarmed node (or lookup-to-open eviction race):
            # self-heal by materializing — a node-local fill, never an
            # error and never a driver funnel (the warm task step
            # inside the scan). Only the split owning byte 0 fills: N
            # cold split tasks would otherwise EACH copy the whole
            # file (the in-flight dedup is per-process; Spark workers
            # are separate processes) — the others range-stream this
            # first scan and hit the mirror from the next one.
            try:
                local = mgr.mirror.materialize(fs, st)
                handle = open(local, "rb")
            except Exception:  # noqa: BLE001 — cache trouble never
                handle = None  # fails the read: stream from remote
        if handle is not None:
            # stats only after the copy is OPEN — a hit that failed
            # to serve bytes must not count as one
            if hit:
                mgr.stats.add("total_read_requests_from_data_cache")
                mgr.stats.add("total_bytes_read_data_cache", span)
            mgr.stats.add("total_bytes_read", span)
    if handle is not None:
        with handle:
            yield from one_pass(handle)
        return
    # remote stream (vetoed / excluded / fill failed): when the page
    # store is live, route the ranged reads through the node-local
    # CachingInputStream — a table too big to file-mirror still gets
    # PAGE-granular caching of exactly the ranges this node's tasks
    # touch (footers, hot column chunks), the reference's readInternal
    # serving a real Spark scan. Otherwise ranged reads straight from
    # the store.
    if mgr.pages is not None and mgr.pages.enabled:
        try:
            stream = mgr.open(p)
        except Exception:  # noqa: BLE001 — page path is best-effort
            stream = None
        if stream is not None:
            emitted = []
            ok = True
            try:
                try:
                    for batch in one_pass(_PageCachedFile(stream)):
                        yield batch
                        emitted.append(batch)
                    emitted = None  # complete: drop the audit trail
                finally:
                    stream.close()
            except Exception:  # noqa: BLE001 — mid-stream page-store
                ok = False     # trouble never fails the read either
            if ok or emitted is None:  # None: all batches were
                return                 # emitted; only close() failed
            # restart from remote. The iteration is deterministic
            # (same bytes, same batch_size, same row groups, same
            # columns), so batch N of the remote pass is batch N of
            # the page pass — and the remote pass DECODES those
            # batches anyway, so instead of discarding them blindly
            # they are VERIFIED against what was already emitted: a
            # page store that served decodable-but-wrong bytes before
            # failing surfaces here as a loud task failure (Spark
            # retries the split atomically) rather than wrong rows
            # baked silently into the result (round-6 advice #2).
            mgr.stats.add("total_read_requests_from_remote")
            mgr.stats.add("total_bytes_read_remote", span)
            with fs.open_read(p) as f:
                for i, batch in enumerate(one_pass(f)):
                    if i < len(emitted):
                        if not batch.equals(emitted[i]):
                            raise RuntimeError(
                                f"page-cache served wrong bytes for "
                                f"{p!r} batch {i} before failing; "
                                "failing the task so Spark re-reads "
                                "the split atomically")
                    else:
                        yield batch
            return
    mgr.stats.add("total_read_requests_from_remote")
    mgr.stats.add("total_bytes_read_remote", span)
    with fs.open_read(p) as f:
        yield from one_pass(f)


def _apply_endpoint(endpoint) -> None:
    """Every Python stage of this source (plan process, scan workers)
    runs OUTSIDE the driver process and does not inherit env vars set
    after the worker daemon forked — the S3 endpoint override must
    travel as an option and be re-applied per process (the same
    reused-worker rule CacheManager.run_tasks follows)."""
    if endpoint:
        import os

        os.environ["SIDECAR_S3_ENDPOINT"] = endpoint


def _partition_scalar(raw, at, tz: str):
    """One raw hive directory value → a pyarrow scalar of the declared
    partition column type, matching the JVM's typed partition values
    (int/bigint/double/decimal/date/timestamp/string/null)."""
    import pyarrow as pa

    from sidecar_spark.cache.partitions import decode_value, java_parse_double

    val = decode_value(raw)
    if val is not None:
        if pa.types.is_integer(at):
            val = int(val)
        elif pa.types.is_floating(at):
            # Java parse, not Python float(): " 1", "1f", "0x1p3",
            # NaN/Infinity — everything the ladder typed as double
            val = java_parse_double(val)
        elif pa.types.is_decimal(at):
            import decimal

            # normalize 1e5 → 100000 (scale 0, the inferred type's)
            val = decimal.Decimal(int(decimal.Decimal(val)))
        elif pa.types.is_date(at):
            import datetime

            y, m, d = val.split("-")
            val = datetime.date(int(y), int(m), int(d))
        elif pa.types.is_timestamp(at):
            import datetime

            # a date-shaped value in a timestamp column (mixed
            # date+timestamp dirs) casts to midnight, JVM parity
            fmt = ("%Y-%m-%d %H:%M:%S" if " " in val else "%Y-%m-%d")
            naive = datetime.datetime.strptime(val, fmt)
            # partition timestamps are wall times in the SESSION zone
            val = naive.replace(tzinfo=_session_zone(tz))
    return pa.scalar(val, type=at)


def _session_zone(tz: str):
    """Spark session-timezone string → tzinfo. Spark accepts region
    IDs (ZoneInfo) AND offset forms ZoneInfo does not ("GMT+8",
    "UTC+08:00", "+08:00", "-0730") — parse those by hand instead of
    failing every scan task over a timestamp partition column."""
    import datetime
    import re as _re

    name = (tz or "UTC").strip()
    try:
        from zoneinfo import ZoneInfo

        return ZoneInfo(name)
    except Exception:  # noqa: BLE001 — offset forms fall through
        pass
    m = _re.fullmatch(
        r"(?:GMT|UTC|UT)?([+-])(\d{1,2})(?::?(\d{2}))?(?::?(\d{2}))?",
        name)
    if m:
        sign = -1 if m.group(1) == "-" else 1
        delta = datetime.timedelta(
            hours=int(m.group(2)), minutes=int(m.group(3) or 0),
            seconds=int(m.group(4) or 0))
        return datetime.timezone(sign * delta)
    return datetime.timezone.utc  # never fail the scan over a zone name


def _finalize_batches(batches, schema, parts, tz="UTC",
                      case_sensitive=False, gate=None):
    """Conform every Arrow batch to the DECLARED schema, in declared
    order — the executor-side equivalent of how the JVM scan reads a
    whole table through ONE footer's schema:

    * hive partition columns are materialized from the directory
      values (a shadowed data column is overridden — directory wins,
      JVM semantics; key matching is case-INsensitive like Spark's);
    * a column the declared schema has but this FILE lacks (schema
      evolution: the footer schema() sampled was newer/older) is
      null-filled, exactly as the JVM scan does without mergeSchema;
    * a column this file has but the schema lacks is dropped;
    * type drift casts to the declared type.

    Fast path: a batch already matching the declared names/types with
    no partition columns passes through untouched."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    from sidecar_spark.cache.partitions import decode_key

    # partition-key match follows the SAME case normalization as the
    # data/partition split in schema(): under caseSensitive=true a
    # declared column that merely lowercases to a directory key is a
    # distinct DATA column and must read from the file (ADVICE r7 #2)
    def _key(n):
        return n if case_sensitive else n.lower()

    part_vals = {_key(decode_key(k)): raw for k, raw in parts}
    targets = [(f.name, to_arrow_type(f.dataType)) for f in schema.fields]

    for batch in batches:
        names = batch.schema.names
        if not part_vals and names == [n for n, _ in targets] \
                and all(batch.schema.field(i).type.equals(t)
                        for i, (_, t) in enumerate(targets)):
            yield batch
            continue
        # declared-name → batch-column resolution follows the session's
        # spark.sql.caseSensitive (probed: default resolves a file
        # spelling "x" into a declared "X"; caseSensitive=true leaves
        # it null-filled)
        if case_sensitive:
            pos = {n: i for i, n in enumerate(names)}
        else:
            pos = {n.lower(): i for i, n in enumerate(names)}
        arrays = []
        for name, at in targets:
            idx = pos.get(name if case_sensitive else name.lower())
            if _key(name) in part_vals:
                arrays.append(pa.repeat(
                    _partition_scalar(part_vals[_key(name)], at, tz),
                    batch.num_rows))
            elif idx is not None:
                arrays.append(_conform_array(batch.column(idx), at,
                                             case_sensitive,
                                             gate=gate))
            else:
                arrays.append(pa.nulls(batch.num_rows, type=at))
        yield pa.RecordBatch.from_arrays(
            arrays, names=[n for n, _ in targets])


def _cast_gate(src, dst):
    """The JVM parquet reader's type-conversion matrix for reading a
    FILE type as a different DECLARED type — identical for explicit
    user schemas and un-merged schema evolution (same vectorized
    updaters; probed live, tests/test_type_parity.py):

    - signed int file ≤32 bits → narrower signed int TRUNCATES
      (mod 2^k, probed: 70000 as tinyint reads 112, -70000 → -112),
      wider int / double widen, decimal(p≥10, 0);
    - int64 file → decimal(p≥19, 0) only — NOT int/double (probed);
    - float → double; double → double only;
    - decimal(p,s) → decimal(p',s') iff s' ≥ s and p'-s' ≥ p-s
      (rescale probed: (9,2)→(18,4) rescales values exactly);
    - string ↔ binary reinterpret (binary→string unvalidated);
    - date32 → timestamp_ntz (midnight); NOT ltz/string (probed);
    - timestamp ltz ↔ ntz reinterpret the same micros (probed).

    Returns the Arrow ``safe`` flag for an allowed cast, or None to
    REFUSE — the JVM errors on those, and serving a silently-cast
    value would diverge."""
    import pyarrow as pa

    if src.equals(dst):
        return True
    if (pa.types.is_signed_integer(src) and src.bit_width <= 32):
        if pa.types.is_signed_integer(dst):
            return dst.bit_width >= src.bit_width  # narrower: truncate
        if pa.types.is_float64(dst):
            return True
        if (pa.types.is_decimal(dst) and dst.scale == 0
                and dst.precision >= 10):
            return True
        return None
    if pa.types.is_int64(src):
        if pa.types.is_int64(dst):
            return True
        if (pa.types.is_decimal(dst) and dst.scale == 0
                and dst.precision >= 19):
            return True
        return None
    if pa.types.is_float32(src):
        return True if (pa.types.is_float32(dst)
                        or pa.types.is_float64(dst)) else None
    if pa.types.is_decimal(src):
        if (pa.types.is_decimal(dst) and dst.scale >= src.scale
                and (dst.precision - dst.scale
                     >= src.precision - src.scale)):
            return True
        return None
    if pa.types.is_string(src) or pa.types.is_large_string(src):
        if pa.types.is_string(dst) or pa.types.is_binary(dst):
            return True
        return None
    if pa.types.is_binary(src) or pa.types.is_large_binary(src):
        if pa.types.is_binary(dst):
            return True
        if pa.types.is_string(dst):
            return False  # reinterpret, no utf8 validation
        return None
    if pa.types.is_date32(src):
        if pa.types.is_timestamp(dst) and dst.tz is None:
            return True
        return None
    if (pa.types.is_timestamp(src) and pa.types.is_timestamp(dst)
            and src.unit == dst.unit):
        return True  # ltz<->ntz reinterpret (units already µs)
    return None


def _conform_array(col, at, case_sensitive=False, gate=None):
    """Conform one Arrow array to the declared type. Containers
    rebuild structurally — structs get missing children null-filled
    (matched by the session's case rule), lists/maps recurse into
    their values, validity bitmaps preserved at every level. Scalar
    drift goes through the format's cast ``gate`` (parquet's
    ``_cast_gate`` by default; the ORC reader passes its own probed
    matrix) so only conversions the JVM scan itself performs are
    served; everything else fails LOUDLY instead of silently casting
    values the JVM would refuse. A gate may return a CALLABLE for
    conversions pa.cast cannot express (ORC's null-on-overflow
    narrowing, hex-dump binary→string, ...)."""
    import pyarrow as pa

    if gate is None:
        gate = _cast_gate
    if col.type.equals(at):
        return col
    if pa.types.is_struct(at) and pa.types.is_struct(col.type):
        names = [col.type.field(i).name
                 for i in range(col.type.num_fields)]
        if case_sensitive:
            pos = {n: i for i, n in enumerate(names)}
        else:
            pos = {n.lower(): i for i, n in enumerate(names)}
        children = []
        for f in at:
            i = pos.get(f.name if case_sensitive else f.name.lower())
            if i is None:
                children.append(pa.nulls(len(col), type=f.type))
            else:
                children.append(_conform_array(col.field(i), f.type,
                                               case_sensitive,
                                               gate=gate))
        return pa.StructArray.from_arrays(
            children, fields=list(at), mask=col.is_null())
    if ((pa.types.is_list(at) or pa.types.is_large_list(at))
            and (pa.types.is_list(col.type)
                 or pa.types.is_large_list(col.type))):
        import pyarrow.compute as pc

        flat = _conform_array(col.flatten(), at.value_type,
                              case_sensitive, gate=gate)
        # offsets may carry nulls at null slots and start past zero
        # (sliced batch): fill, then rebase to flatten()'s origin
        off = col.offsets
        if off.null_count:
            off = pc.fill_null_backward(pc.fill_null_forward(off))
        base = off[0].as_py() or 0
        if base:
            off = pc.subtract(off, base)
        if pa.types.is_large_list(at):
            cls, off = pa.LargeListArray, off.cast(pa.int64())
        else:
            cls, off = pa.ListArray, off.cast(pa.int32())
        return cls.from_arrays(off, flat, mask=col.is_null())
    if pa.types.is_map(at) and pa.types.is_map(col.type):
        # view the map as list<struct<key,value>> (zero-copy-ish cast,
        # validity preserved — probed), conform THAT through the
        # list+struct rules above, then reattach the map type: the
        # conformed list is offset-0 (batches come unsliced from
        # iter_batches; the rebuild paths emit offset-0 arrays), so
        # its [validity, offsets] buffers and entries child transfer
        # directly. MapArray.from_arrays has no mask parameter, hence
        # from_buffers.
        def entries(mt):
            return pa.list_(pa.struct([
                pa.field("key", mt.key_type, False),
                pa.field("value", mt.item_type)]))

        lv = _conform_array(col.cast(entries(col.type)), entries(at),
                            case_sensitive, gate=gate)
        vals = lv.values
        if vals.null_count == 0 and vals.buffers()[0] is not None:
            # the struct rebuild attaches an all-valid validity
            # buffer; Map validation demands the entries child carry
            # NONE — rebuild the struct without one
            vals = pa.StructArray.from_arrays(
                [vals.field(i) for i in range(vals.type.num_fields)],
                fields=list(vals.type))
        return pa.Array.from_buffers(
            at, len(lv), lv.buffers()[:2], null_count=lv.null_count,
            children=[vals])
    safe = gate(col.type, at)
    if safe is None:
        raise ValueError(
            f"cannot read a file column of type {col.type} as "
            f"declared type {at}: the JVM scan refuses this "
            "conversion (unsupported vectorized updater) — matching "
            "refusal instead of silently casting values")
    if callable(safe):
        return safe(col)
    return col.cast(at, safe=safe)


def _filter_matches(raw: str, op: str, ref) -> bool:
    """Evaluate one pushed filter against a file's raw partition
    value. Conservative: any doubt (cast failure, unknown shape)
    returns True — pruning may only skip files that PROVABLY fail,
    and every filter stays residual for Spark anyway."""
    import datetime
    import decimal

    from sidecar_spark.cache.partitions import decode_value, java_parse_double

    val = decode_value(raw)
    if op == "isnull":
        return val is None
    if op == "isnotnull":
        return val is not None
    if val is None:
        return False  # NULL fails every comparison
    refs = ref if op == "in" else (ref,)
    outcomes = []
    for r in refs:
        try:
            if isinstance(r, bool):
                v = val.lower() in ("true", "1")
            elif isinstance(r, int):
                v, r = int(val), r
            elif isinstance(r, float):
                v = java_parse_double(val)
                if v is None:
                    return True  # not a double the JVM would parse
            elif isinstance(r, decimal.Decimal):
                v = decimal.Decimal(val)
            elif isinstance(r, datetime.datetime):
                # timestamp comparison is session-zone-sensitive —
                # skip pruning, Spark's residual filter decides
                return True
            elif isinstance(r, datetime.date):
                v = datetime.date.fromisoformat(val)
            else:
                v, r = val, str(r)
        except (ValueError, ArithmeticError):
            return True  # incomparable: keep the file
        if op in ("eq", "in"):
            outcomes.append(v == r)
        elif op == "gt":
            outcomes.append(v > r)
        elif op == "ge":
            outcomes.append(v >= r)
        elif op == "lt":
            outcomes.append(v < r)
        elif op == "le":
            outcomes.append(v <= r)
        else:
            return True
    return any(outcomes)


class CachedParquetReader(DataSourceReader):
    def __init__(self, options, schema=None):
        if not options.get("path"):
            raise ValueError("sidecar_cached_parquet requires option 'path'")
        self.options = options  # table_files/table_layout read these
        self.conf_json = options.get("conf")
        if not self.conf_json:
            raise ValueError("sidecar_cached_parquet requires option 'conf'")
        self.endpoint = options.get("endpoint")
        self.schema = schema
        self.tz = options.get("tz") or "UTC"
        self.case_sensitive = _flag(options, "case_sensitive")
        # rebase modes for NON-Spark-written files (footer markers /
        # spark.version win over these — rebase.rebase_batches);
        # defaults match Spark 4's CORRECTED, so direct format() use
        # without the Engine behaves like an untouched session
        self.dt_rebase = str(options.get("dt_rebase")
                             or "CORRECTED").upper()
        self.i96_rebase = str(options.get("i96_rebase")
                              or "CORRECTED").upper()
        self.ntz = _flag(options, "ntz", True)
        self.nanos_long = _flag(options, "nanos_long")
        #: per-file scan skips (round 10, probed
        #: tests/test_ignore_files.py): resolved option-over-conf by
        #: the Engine (plan/scan workers have no session)
        self.ignore_corrupt = _flag(options, "ignore_corrupt")
        self.ignore_missing = _flag(options, "ignore_missing")
        try:
            # clamp: a negative value must mean "no splitting", never
            # an empty range list that silently drops a file's rows
            self.split_bytes = max(0, int(options.get("split_bytes") or 0))
        except ValueError:
            self.split_bytes = 0
        self._part_filters = []
        #: small-file bin-packing knobs (round-9): the JVM scan packs
        #: whole files into FilePartitions by exactly these two
        try:
            self.open_cost = int(options.get("open_cost")
                                 or 4 * 1024 * 1024)
        except ValueError:
            self.open_cost = 4 * 1024 * 1024
        try:
            self.parallelism = int(options.get("parallelism") or 0)
        except ValueError:
            self.parallelism = 0
        _apply_endpoint(self.endpoint)

    def _conf(self):
        from sidecar_spark.config import SidecarConfig

        return SidecarConfig.from_json(self.conf_json)

    def partitions(self):
        from sidecar_spark.cache.manager import CacheManager

        _apply_endpoint(self.endpoint)
        # keep-alive singleton (no release), like read(): the planner
        # process serves every later plan too — tearing the manager
        # down here would pay FileMirror._rebuild + adopt_disk (two
        # full cache-root walks) per query planned
        mgr = CacheManager.get_or_create(self._conf())
        # format-specific exclusions (binaryFile's empty-file drop,
        # provable length-filter prunes) happen BEFORE the veto math:
        # excluded files are never read, so they must not count
        # toward the mirror-floor check either
        files = self._filter_files(table_files(mgr, self.options))
        # the same veto as resolve_for_spark (CacheManager.admit): a
        # table bigger than the mirror floor is not FILLED on any node
        # (existing hits still serve locally in read()); the
        # scan-detected counter bumps in read() on the first
        # partition — once per EXECUTED scan, not once per planning
        # call
        _, veto = mgr.admit(files)
        out = []
        for st, spec in zip(files, table_layout(mgr, self.options, files)):
            if spec and self._part_filters:
                from sidecar_spark.cache.partitions import decode_key

                # case-sensitive sessions must not let a filter on a
                # case-COLLIDING data column (PART_K vs part_k=) prune
                # by the directory value — a silent wrong result
                def _k(n):
                    return n if self.case_sensitive else n.lower()

                keys = {_k(decode_key(k)): v for k, v in spec}
                if not all(_filter_matches(keys[_k(col)], op, ref)
                           for col, op, ref in self._part_filters
                           if _k(col) in keys):
                    continue  # pruned: provably outside the predicate
            ranges = [(0, st.length)]
            if (self.split_bytes and st.length > self.split_bytes
                    and self._splittable(st)):
                # byte-range splits restore intra-file parallelism:
                # a 1 GiB file becomes length/split_bytes tasks, each
                # reading the row groups whose midpoint it owns
                ranges = [
                    (off, min(off + self.split_bytes, st.length))
                    for off in range(0, st.length, self.split_bytes)]
            for s, e in ranges:
                out.append(_FilePart(st.path, st.mtime, st.length,
                                     veto, parts=spec, start=s, end=e))
        cap, limit = self._pack_policy()
        out = _pack_whole_files(out, cap, self.open_cost,
                                self.parallelism, no_pack_above=limit)
        if out:
            first = out[0]
            (first.subs[0] if isinstance(first, _PackedPart)
             else first).first = True
        return out

    def _filter_files(self, files):
        """Format-specific file drops, applied to the table's listing
        before veto math and partition planning; none for parquet/ORC.
        The raw-file readers (cached_rawfile.py) drop empty files and
        provable length prunes here."""
        return files

    def _splittable(self, st) -> bool:
        """May this file be byte-range split? Parquet/ORC: always
        (row-group/stripe ownership re-synchronizes). The text reader
        overrides this for compression-codec files, which only a
        whole-stream decode can frame (cached_rawfile.codec_of)."""
        return True

    def _pack_policy(self):
        """(bin cap, no-pack-above) for ``_pack_whole_files``. The
        ORC reader zeroes ``split_bytes`` (stripes split by index,
        not byte range) but must still cap packing at the JVM's
        maxSplitBytes and keep stripe-split candidates out of
        _PackedParts (ADVICE r9) — it overrides this."""
        return self.split_bytes, None

    def _file_pass(self, fobj, part, columns, stat_filters):
        """Format-specific decode of one open file object into Arrow
        batches; ORC (cached_orc.py) overrides this."""
        return _parquet_pass(fobj, part, columns, stat_filters,
                             self.case_sensitive, part.path,
                             self.dt_rebase, self.i96_rebase,
                             self.ntz, self.nanos_long)

    def read(self, part: _FilePart):
        if isinstance(part, _PackedPart):
            # one task, several whole small files (bin-packing)
            for sub in part.subs:
                yield from self.read(sub)
            return
        from sidecar_spark.cache.manager import CacheManager

        _apply_endpoint(self.endpoint)
        # worker-lifetime singleton, exactly like the task steps of
        # CacheManager.run_tasks: get_or_create with no release — the node-local
        # manager outlives the task, serving every later scan's hits
        mgr = CacheManager.get_or_create(self._conf())
        if part.first and part.veto:
            # one detected scan per scan EXECUTED (reference
            # semantics: the ScanDetector fires on reads, not plans).
            # Documented approximation (round-6 advice #5): a Spark
            # retry/speculative run of THIS partition double-counts,
            # and a plan that prunes every partition counts zero —
            # exact-once would need a driver-side scan-id dedup, a
            # heavier mechanism than a monitoring counter warrants
            mgr.stats.add("total_scans_detected")
        from sidecar_spark.cache.partitions import decode_key

        keys = [decode_key(k) for k, _ in part.parts]
        columns = None
        if self.schema is not None:
            # read only the declared schema's data columns from the
            # file: partition (and shadowed) columns come from the
            # directory name, dropped columns are never moved. Same
            # case normalization as the schema()-side split: a
            # case-colliding data column under caseSensitive=true
            # reads from the FILE, not the directory (ADVICE r7 #2)
            def norm(n):
                return n if self.case_sensitive else n.lower()

            part_keys = {norm(k) for k in keys}
            columns = [f.name for f in self.schema.fields
                       if norm(f.name) not in part_keys]
        # row-group statistics pruning from the pushed filters —
        # partition-column filters are excluded: their values live in
        # the DIRECTORY (already file-pruned in partitions()), and a
        # missing-from-file partition column must not read as
        # all-NULL here
        pk = {k.lower() for k in keys}
        stat_filters = [f for f in self._part_filters
                        if f[0].lower() not in pk]
        batches = self._file_batches(mgr, part, columns, stat_filters)
        if self.ignore_corrupt or self.ignore_missing:
            batches = _skip_file_errors(batches, self.ignore_corrupt,
                                        self.ignore_missing)
        if self.schema is not None:
            batches = _finalize_batches(batches, self.schema,
                                        part.parts, tz=self.tz,
                                        case_sensitive=self.case_sensitive,
                                        gate=self._gate())
        yield from batches

    def _file_batches(self, mgr, part, columns, stat_filters):
        """The per-file batch hook of ``read()``: Arrow batches of one
        file (or split) holding ``columns`` (None = every column),
        served hit-or-materialize-or-remote by ``_read_file_batches``
        and decoded by ``_file_pass``. binaryFile overrides this (its
        metadata-only scan never opens the file). Errors raised here,
        before the first batch, bypass the ignoreCorrupt/MissingFiles
        skip."""
        return _read_file_batches(
            mgr, part,
            lambda fobj: self._file_pass(fobj, part, columns,
                                         stat_filters))

    def _gate(self):
        """The format's scalar cast-conversion matrix for conforming
        file types to the declared schema (None = parquet's
        ``_cast_gate``); the ORC reader overrides with its own probed
        matrix (``cached_orc._orc_cast_gate``)."""
        return None


class PruningCachedParquetReader(CachedParquetReader):
    """CachedParquetReader + pushFilters-based partition pruning.

    Split into a subclass because Spark 4.1 HARD-FAILS any reader that
    defines pushFilters while spark.sql.python.filterPushdown.enabled
    is false — the source picks this variant only when the session
    conf (shipped as the "pushdown" option) allows it."""

    def pushFilters(self, filters):
        """Partition pruning — the one pushdown that matters at 100 TB
        for this source: a filter on a hive partition column skips the
        non-matching FILES at planning time, so their bytes are never
        listed into partitions (the JVM scan's PartitionFilters
        equivalent). Every filter is also returned to Spark as
        residual, so pruning can only ever skip provably-non-matching
        files — acceptance here is optimistic (any single-column
        filter), and partitions() applies only those naming actual
        partition keys."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        ops = [(EqualTo, "eq"), (In, "in"), (GreaterThan, "gt"),
               (GreaterThanOrEqual, "ge"), (LessThan, "lt"),
               (LessThanOrEqual, "le"), (IsNull, "isnull"),
               (IsNotNull, "isnotnull")]
        for f in filters:
            try:
                attr = f.attribute
                if isinstance(attr, tuple) and len(attr) == 1:
                    for cls, op in ops:
                        if type(f) is cls:
                            # In's field is `value` (a tuple) —
                            # NOT `values`; a wrong attribute here
                            # silently disables IN pruning
                            ref = (tuple(f.value) if op == "in" else
                                   getattr(f, "value", None))
                            self._part_filters.append(
                                (attr[0], op, ref))
                            break
            except Exception:  # noqa: BLE001 — pruning is best-effort
                pass
            yield f  # residual: Spark re-evaluates everything


class CachedParquetSource(DataSource):
    """``spark.read.format("sidecar_cached_parquet")
    .option("path", uri).option("conf", conf.to_json()).load()`` —
    wired automatically by ``Engine.read_parquet`` when
    ``sidecar.resolve.mode = executor``. The base of every executor
    source: the others override ``_data_schema`` (or the footer hooks
    under it) and the two reader classes."""

    #: ``reader()`` picks the plain class, or the pushFilters variant
    #: when the session allows Python filter pushdown
    _reader_cls = CachedParquetReader
    _pruning_reader_cls = PruningCachedParquetReader

    @classmethod
    def name(cls) -> str:
        return "sidecar_cached_parquet"

    @staticmethod
    def _file_arrow_schema(src, nanos_long: bool = False):
        """One file (path or open file object) → the Arrow schema
        Spark should see for it; the format-specific footer decode
        (ORC overrides, cached_orc.py)."""
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(src, coerce_int96_timestamp_unit="us")
        _refuse_illegal_types(pf, getattr(src, "name", None)
                              or str(src), nanos_long)
        return _arrow_target(pf, nanos_long)

    @staticmethod
    def _ntz_flag(ntz: bool) -> bool:
        """Whether from_arrow_schema should prefer timestamp_ntz for
        tz-NAIVE arrow timestamps. Parquet: the session's NTZ
        inference setting (shipped as the "ntz" option). ORC forces
        True: its target schema zones every LTZ timestamp UTC, so a
        naive timestamp there IS an ntz value (catalyst metadata)."""
        return ntz

    def schema(self):
        """The declared schema, one pipeline for every format: the
        table's listing and hive layout, the format's data schema
        (``_data_schema``), then the duplicate-name check and the
        ``columns`` projection (``_schema_tail``). Driver-side
        metadata only — no data bytes."""
        from sidecar_spark.cache.manager import CacheManager
        from sidecar_spark.config import SidecarConfig

        _apply_endpoint(self.options.get("endpoint"))
        # keep-alive singleton (no release) — see the reader's
        # partitions()
        mgr = CacheManager.get_or_create(
            SidecarConfig.from_json(self.options["conf"]))
        # deterministic footer pick: FIRST file by path, matching the
        # JVM scan's choice under schema evolution (a listing in OS
        # order sampled a different file and diverged the schema).
        # The listing is already filtered by the listing-level options
        # (round-8: pathGlobFilter, modifiedBefore/After), so the
        # footer pick, mergeSchema fold and partition shapes all see
        # the filtered file set, as in the JVM
        files = sorted(table_files(mgr, self.options),
                       key=lambda s: s.path)
        if not files:
            raise FileNotFoundError(
                f"no data files under {self.options.get('path')!r} "
                "(after any pathGlobFilter/modifiedBefore/"
                "modifiedAfter) — the JVM scan cannot plan an empty "
                "listing either")
        # hive partition columns live in the DIRECTORY names of the
        # files the scan plans (the reader's _filter_files: binaryFile
        # and wholetext drop empty files, which yield no row), typed
        # exactly as Spark's partition discovery would
        # (cache/partitions.py ladder, JVM-probed)
        scanned = self._reader_cls(self.options)._filter_files(files)
        parts = _partition_types(
            table_layout(mgr, self.options, scanned), self.options)
        return self._schema_tail(self._data_schema(mgr, files, parts))

    def _data_schema(self, mgr, files, parts):
        """The format's schema before the shared tail: the user schema
        with the partition columns relocated, else the footer schema
        with them appended. ``parts``: (name, ddl) partition columns."""
        user_json = self.options.get("user_schema")
        if user_json:
            import json

            from pyspark.sql.types import StructType

            return self._user_schema(
                StructType.fromJson(json.loads(user_json)), parts)
        return self._append_partitions(
            self._footer_schema(mgr, files), parts)

    def _user_schema(self, user, parts):
        """Explicit USER schema: no footer inference at all — the
        declared schema is the user's, reshaped by partition discovery
        exactly like the JVM (probed): partition columns RELOCATE to
        the end (even when the user listed them first), typed by the
        USER when named in the schema, by the inference ladder
        otherwise; an omitted partition column is APPENDED anyway.
        Data columns keep the user's order and case; per-file
        conformance (subset/superset/upcasts) happens in
        _finalize_batches through the _cast_gate matrix."""
        from pyspark.sql.types import StructField, StructType

        cs = _flag(self.options, "case_sensitive")

        def key(n):
            return n if cs else n.lower()

        # the data/partition split uses the SAME normalization as the
        # partition match: under caseSensitive=true a user data column
        # whose lowercase merely collides with a directory key (PART_K
        # vs part_k=) is a distinct column and must stay in the data
        # fields (ADVICE r7 #2)
        pk_keys = {key(k) for k, _ in parts}
        user_by_key = {}
        for f in user.fields:
            user_by_key.setdefault(key(f.name), f)
        data_fields = [
            StructField(f.name, f.dataType, True, f.metadata)
            for f in user.fields if key(f.name) not in pk_keys]
        part_fields = []
        for k, ddl in parts:
            uf = user_by_key.get(key(k))
            if uf is not None:
                part_fields.append(StructField(uf.name, uf.dataType,
                                               True, uf.metadata))
            else:
                part_fields.append(StructField(k, _ddl_type(ddl), True))
        return StructType(data_fields + part_fields)

    def _footer_schema(self, mgr, files):
        """Footer inference over the sorted listing: the head file's
        footer, or under mergeSchema the fold of every footer."""
        import json

        from pyspark.sql.types import StructType

        path = self.options.get("path")
        # match the JVM parquet reader's NTZ inference (tz-less
        # parquet timestamps read as timestamp_ntz when
        # spark.sql.parquet.inferTimestampNTZ.enabled, default true) —
        # the two resolve modes must yield identical schemas. The
        # Engine ships the session's setting as an option because this
        # code runs in the plan worker process, which has no active
        # session; the probe below covers direct format() use from the
        # driver, and the Spark default covers everything else.
        if self.options.get("ntz") is not None:
            ntz = _flag(self.options, "ntz")
        else:
            ntz = True
            try:
                from pyspark.sql import SparkSession

                active = SparkSession.getActiveSession()
                if active is not None:
                    ntz = (active.conf.get(
                        "spark.sql.parquet.inferTimestampNTZ.enabled",
                        "true").lower() == "true")
            except Exception:  # noqa: BLE001 — keep the default
                pass
        ntz = self._ntz_flag(ntz)
        nanos_long = _flag(self.options, "nanos_long")
        binary_as_string = _flag(self.options, "binary_as_string")
        # ignoreCorrupt/MissingFiles apply to schema INFERENCE too
        # (probed: the JVM skips a corrupt footer and infers from
        # the next file); None marks a skipped file
        icf = _flag(self.options, "ignore_corrupt")
        imf = _flag(self.options, "ignore_missing")

        def footer_struct(st):
            try:
                return footer_spark_struct(
                    mgr, st, ntz, nanos_long,
                    arrow_schema_of=self._file_arrow_schema,
                    binary_as_string=binary_as_string)
            except FileNotFoundError:
                if imf:
                    return None
                raise
            except Exception:
                if icf:
                    return None
                raise

        if _flag(self.options, "merge"):
            merged = self.options.get("merged_schema")
            if merged:
                # the Engine pre-folded the footers in a SPARK JOB
                # (large file counts — _maybe_merged_schema_job) and
                # ships the result. A table mutated between the
                # Engine's listing and this one could make the fold
                # stale — the same TOCTOU window every re-planned
                # query has; re-executions re-list AND re-fold.
                return StructType.fromJson(json.loads(merged))
            if len(files) > 1:
                # mergeSchema=true: the declared schema is the left
                # fold of EVERY footer in path order (JVM-probed:
                # path-sorted seed, new columns appended, case-
                # insensitive name match keeping the first spelling,
                # decimal same-scale→max-precision, anything else
                # CANNOT_MERGE_SCHEMAS). Footers are metadata-only
                # reads fanned over a thread pool — the JVM
                # distributes this over tasks; a plan worker has no
                # session to launch jobs from, so I/O-parallel threads
                # are the honest equivalent up to ~10k files.
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(min(16, len(files))) as pool:
                    structs = [s for s in pool.map(footer_struct, files)
                               if s is not None]
                if not structs:
                    raise FileNotFoundError(
                        f"every data file under {path!r} was skipped "
                        "by ignoreCorruptFiles/ignoreMissingFiles — "
                        "the JVM cannot infer a schema either")
                return merge_structs(
                    structs, _flag(self.options, "case_sensitive"))
        # WITHOUT mergeSchema the JVM infers from the HEAD file only —
        # ignoreCorruptFiles skipping it leaves nothing to infer from
        # and the read fails UNABLE_TO_INFER_SCHEMA (probed: it does
        # NOT fall through to the next footer)
        base = footer_struct(files[0])
        if base is None:
            raise FileNotFoundError(
                f"the head data file under {path!r} was skipped by "
                "ignoreCorruptFiles/ignoreMissingFiles — the JVM "
                "cannot infer a schema either (UNABLE_TO_INFER_SCHEMA)")
        return base

    @staticmethod
    def _append_partitions(base, parts):
        """Footer schema + partition columns: a data column with a
        partition key's name is served the DIRECTORY value with the
        partition-inferred type at the file position, and takes the
        DIRECTORY's case (probed); the other keys append."""
        from pyspark.sql.types import StructField, StructType

        base_lower = {f.name.lower() for f in base.fields}
        shadowed = {}    # lower(name) -> (directory-case name, type)
        part_fields = []
        for k, ddl in parts:
            dt = _ddl_type(ddl)
            if k.lower() in base_lower:
                shadowed[k.lower()] = (k, dt)
            else:
                part_fields.append(StructField(k, dt))
        if shadowed:
            base = StructType([
                StructField(*shadowed[f.name.lower()], True)
                if f.name.lower() in shadowed
                else StructField(f.name, f.dataType, True)
                for f in base.fields])
        if part_fields:
            base = StructType(list(base.fields) + part_fields)
        return base

    def _schema_tail(self, base):
        """The steps every schema branch ends with: the duplicate-name
        check, then the explicit ``columns`` projection."""
        from pyspark.sql.types import StructType

        path = self.options.get("path")
        cs = _flag(self.options, "case_sensitive")
        if not cs:
            # JVM parity (probed): a schema with case-duplicate names
            # is refused at PLAN time under the default
            # spark.sql.caseSensitive=false — COLUMN_ALREADY_EXISTS
            lowers = [f.name.lower() for f in base.fields]
            dups = {n for n in lowers if lowers.count(n) > 1}
            if dups:
                raise ValueError(
                    f"COLUMN_ALREADY_EXISTS: duplicate column name(s) "
                    f"{sorted(dups)!r} in {path!r} under "
                    "case-insensitive resolution — the JVM scan "
                    "refuses this schema too (set "
                    "spark.sql.caseSensitive=true to read it)")
        # explicit projection (Engine.read_parquet(columns=[...])):
        # the declared schema shrinks to the requested columns in the
        # requested order — the DataSource API has no automatic prune
        # hook, so this is the 100 TB column-pruning path. Resolution
        # follows the session's case rule, like the JVM's own select:
        # under caseSensitive=true a wrong-case name is an error
        cols_opt = self.options.get("columns")
        if not cols_opt:
            return base
        import json

        by_key = {(f.name if cs else f.name.lower()): f
                  for f in base.fields}
        picked = []
        for c in json.loads(cols_opt):
            f = by_key.get(str(c) if cs else str(c).lower())
            if f is None:
                raise ValueError(
                    f"column {c!r} not found in {path!r}; "
                    f"available: {[x.name for x in base.fields]}")
            picked.append(f)
        return StructType(picked)

    def reader(self, schema) -> CachedParquetReader:
        # the pruning variant defines pushFilters, which Spark 4.1
        # hard-rejects while spark.sql.python.filterPushdown.enabled
        # is false — the Engine ships the session conf's query-time
        # value as the "pushdown" option
        cls = (self._pruning_reader_cls
               if _flag(self.options, "pushdown") else self._reader_cls)
        return cls(self.options, schema)


def _ddl_type(ddl: str):
    """Partition-column ddl (cache/partitions.py) → Spark type.
    Direct map — _parse_datatype_string needs a live SparkContext,
    which the plan worker process does not have."""
    from pyspark.sql.types import (
        DateType,
        DecimalType,
        DoubleType,
        IntegerType,
        LongType,
        NullType,
        StringType,
        TimestampType,
    )

    if ddl.startswith("decimal("):
        prec = int(ddl[len("decimal("):].split(",", 1)[0])
        return DecimalType(prec, 0)
    return {"int": IntegerType(), "bigint": LongType(),
            "double": DoubleType(), "string": StringType(),
            "date": DateType(), "timestamp": TimestampType(),
            "void": NullType()}[ddl]
