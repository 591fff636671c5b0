"""Executor-side cached ORC source — ``cached_parquet.py``'s resolve
machinery (node-local hit-or-materialize-or-remote, hive partition
discovery, veto, mergeSchema fold) with an ORC footer/stripe decode.

The reference caches every file format because it IS a FileSystem
(``SidecarCachingFileSystem.java:1596-1619`` serves any ``open()``);
this source brings the #2 lake format onto the cached REAL-CLUSTER
read path. ORC is self-describing (schema in the file footer), so —
unlike csv/json, whose Spark schema inference cannot be reproduced
from Python without silent divergence (PARITY.md) — schema parity
with the JVM scan is derivable:

* ORC timestamps decode in pyarrow as tz-NAIVE ns whose wall time is
  the UTC rendering of the stored instant (probed cross-zone: write
  session Asia/Tokyo, read session UTC — the naive value zoned UTC
  equals the JVM's ``unix_timestamp``), so the target zones them UTC
  and coerces ns→µs exactly like the parquet INT96 rule. KNOWN
  LIMIT: pyarrow's ns decode wraps timestamps outside
  [1677-09-21, 2262-04-11] inside the C++ reader itself, and a
  wrapped value is indistinguishable from a genuine one post-hoc
  (every decode lands inside that window) — ancient ORC timestamps
  need the raw JVM scan (driver mode serves them correctly through
  the view; PARITY.md);
* ORC DATES are stored as HYBRID-calendar day counts — a format
  semantic, not a writer option (probed: the JVM rebases them for
  every writer, including pyarrow-written files, and across all
  ``datetimeRebaseModeInWrite`` settings) — so the decode rebases
  julian→proleptic ALWAYS (``rebase.py``; identity at/after
  1582-10-15, fast-pathed);
* Spark writes ``timestamp_ntz`` to ORC as raw int64 MICROS with the
  field metadata ``spark.sql.catalyst.type = timestamp_ntz`` (probed)
  — the target reinterprets those as ``timestamp[us]`` (Arrow's
  int64→timestamp cast is a reinterpret), and ``_ntz_flag`` forces
  the naive-→NTZ mapping so the declared Spark type matches;
* nested fields relax to nullable (FileFormat asNullable), same as
  parquet.

Scale differences vs the parquet source, both deliberate:

* splits are stripe-INDEX ranges, not byte ranges — pyarrow exposes
  stripes only as indexed reads (``read_stripe(i)``), so a file
  larger than the split size is split by reading its footer's stripe
  count at plan time (mirror-first; the same footer read Hadoop's
  OrcInputFormat pays for its stripe-offset splits) and tiling
  [0, nstripes) across ceil(length/split) tasks;
* stripe-STATISTICS pruning (round 8) comes from a manual parse of
  the file's metadata protobuf — pyarrow exposes no stripe-stats API
  but does expose the section lengths (``sources/orc_stats.py``:
  NONE/ZLIB/SNAPPY/ZSTD sections decode, covering every codec Spark
  writes; integers and full-string min/max prune, dates/doubles/
  timestamps/decimals conservatively never do). Measured 7.5× on a
  sorted 25-stripe ZSTD table at 0.8% selectivity (BASELINE.md);
  partition-FILE pruning (``pushFilters``) applies unchanged.
"""

from __future__ import annotations

from sidecar_spark.sources.cached_parquet import (
    _BATCH_ROWS,
    CachedParquetReader,
    CachedParquetSource,
    PruningCachedParquetReader,
    _FilePart,
    _flag,
    _resolve_file_columns,
    open_footer,
)

#: field metadata key Spark stamps on ORC columns it wrote
_CATALYST_KEY = b"spark.sql.catalyst.type"


def _orc_target_type(field):
    """One ORC-derived Arrow field → the type Spark should see."""
    import pyarrow as pa

    t = field.type
    meta = field.metadata or {}
    if (pa.types.is_int64(t)
            and meta.get(_CATALYST_KEY) == b"timestamp_ntz"):
        # Spark stores timestamp_ntz in ORC as int64 micros (probed)
        return pa.timestamp("us")
    if pa.types.is_timestamp(t) and t.tz is None:
        # ORC timestamps are instants; pyarrow's naive wall time is
        # the UTC rendering (probed cross-zone) — zone it UTC, µs
        return pa.timestamp("us", tz="UTC")
    if pa.types.is_list(t):
        return pa.list_(_orc_target_type(
            pa.field("item", t.value_type,
                     metadata=t.value_field.metadata)))
    if pa.types.is_large_list(t):
        return pa.large_list(_orc_target_type(
            pa.field("item", t.value_type,
                     metadata=t.value_field.metadata)))
    if pa.types.is_map(t):
        return pa.map_(
            _orc_target_type(pa.field("key", t.key_type,
                                      metadata=t.key_field.metadata)),
            _orc_target_type(pa.field("value", t.item_type,
                                      metadata=t.item_field.metadata)))
    if pa.types.is_struct(t):
        return pa.struct([
            pa.field(f.name, _orc_target_type(f), True)
            for f in t])
    return t


def _orc_arrow_target(schema):
    """The Arrow schema Spark should see for an ORC file: timestamps
    zoned UTC at µs, int64 catalyst-ntz reinterpreted, nested fields
    relaxed nullable."""
    import pyarrow as pa

    return pa.schema([
        pa.field(f.name, _orc_target_type(f), f.nullable)
        for f in schema])


def _orc_pass(fobj, part, columns, case_sensitive, path,
              stat_filters=()):
    """Decode ONE ORC file object into coerced Arrow batches, stripe
    by stripe (pyarrow's unit of ORC granularity), sliced to the same
    batch rows as the parquet path. A stripe-range split (set by
    ``CachedOrcReader.partitions`` for files larger than the split
    size) reads only its [stripe_start, stripe_end) — disjoint and
    complete across the file's tasks. ``stat_filters`` drive stripe-
    statistics pruning (round-8: manual metadata-protobuf parse,
    sources/orc_stats.py) — stripes whose min/max PROVE no row
    matches are skipped; every filter stays residual for Spark."""
    import pyarrow as pa
    import pyarrow.orc as po

    of = po.ORCFile(fobj)
    target = _orc_arrow_target(of.schema)
    cols = None
    if columns is not None:
        cols = _resolve_file_columns(of.schema.names, columns,
                                     case_sensitive, path)
    stripes = getattr(part, "stripes", None)
    lo, hi = stripes if stripes else (0, of.nstripes)
    todo = range(lo, min(hi, of.nstripes))
    if stat_filters:
        from sidecar_spark.sources.orc_stats import prune_stripes

        todo = prune_stripes(fobj, of, todo, stat_filters,
                             case_sensitive)
    subs = {}
    from sidecar_spark.sources.rebase import has_date as _hd

    any_date = any(_hd(f.type) for f in target)
    for i in todo:
        rb = (of.read_stripe(i, columns=cols) if cols is not None
              else of.read_stripe(i))
        key = tuple(rb.schema.names)
        sub = subs.get(key)
        if sub is None:
            sub = pa.schema([target.field(n) for n in key])
            subs[key] = sub
        conform = not rb.schema.equals(sub)
        for off in range(0, rb.num_rows, _BATCH_ROWS):
            chunk = rb.slice(off, _BATCH_ROWS)
            if conform:
                chunk = chunk.cast(sub)
            if any_date:
                # ORC day counts are HYBRID-calendar labels (format
                # semantic, probed: the JVM rebases them for EVERY
                # writer, incl. pyarrow-written files) — rebase to
                # proleptic; modern values fast-path through. ORC
                # TIMESTAMPS are not rebased: see module docstring.
                from sidecar_spark.sources.rebase import rebase_array

                arrays = [rebase_array(chunk.column(j), True, False,
                                       False)
                          for j in range(chunk.num_columns)]
                chunk = pa.RecordBatch.from_arrays(
                    arrays, schema=chunk.schema)
            yield chunk


def _null_on_overflow(col, dst, lo, hi):
    """Cast with ORC's null-on-overflow rule (probed: narrowing an
    out-of-range int, an overflowing double→long, NaN/Inf→int, an
    int→too-small-decimal all read NULL, never truncate/wrap)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ok = pc.fill_null(pc.and_kleene(pc.greater_equal(col, lo),
                                    pc.less_equal(col, hi)), False)
    # clamp-then-cast-then-mask: the clamp keeps every value inside
    # the target's range so the unsafe cast cannot wrap OR trip
    # Arrow's precision check (int32 → decimal(5,0)), and the mask
    # then nulls the out-of-range slots like the JVM
    clamped = pc.if_else(ok, col, pa.scalar(0, type=col.type))
    if pa.types.is_decimal(dst) and dst.precision < 38:
        # Arrow's int→decimal cast statically demands precision ≥ the
        # int's max digits even when every value fits — go through a
        # wide intermediate (values are already clamped in range)
        clamped = clamped.cast(pa.decimal128(38, dst.scale),
                               safe=False)
    casted = clamped.cast(dst, safe=False)
    return pc.if_else(ok, casted, pa.nulls(len(col), type=dst))


def _orc_cast_gate(src, dst):
    """The JVM ORC reader's type-conversion matrix (SchemaEvolution /
    ConvertTreeReaderFactory), probed live round 9
    (tests/test_orc_user_schema.py):

    - signed int widening: exact; NARROWING reads NULL on overflow
      (probed: 300 as tinyint → NULL — unlike parquet's mod-2^k);
    - int → float/double: IEEE-nearest; float → double exact;
      double → float overflows to ±Inf (probed 4e38);
    - float/double → int kinds: TRUNCATE toward zero (probed 2.5→2,
      -2.5→-2, 1.9→1), NaN/±Inf/out-of-range → NULL;
    - int → decimal: exact, NULL on overflow; decimal → decimal
      widens losslessly, and scale REDUCTION rounds HALF_UP — half
      away from zero — with NULL on overflow (probed: -0.05 → -0.1,
      99999999.99 → (10,1) carries to 100000000.0, → (5,2) NULL);
      decimal → int truncates toward zero, NULL on overflow;
      decimal → double lossy-casts;
    - boolean ↔ int (0/false, nonzero/true — probed both directions);
      boolean → string renders 'TRUE'/'FALSE' (probed, uppercase);
    - int → string and date → string render identically to Arrow's
      own formatting (probed); float/double/decimal → string follow
      Java's shortest-repr rendering — REFUSED (Arrow renders 1e20
      differently);
    - string → binary reinterprets; binary → string renders a
      SPACE-SEPARATED HEX dump (probed: b'bin' → '62 69 6e');
    - every temporal cross-kind (ts↔ntz reads garbage in the JVM,
      date→ntz errors, long→ts treats seconds, ...), string→numeric
      parsing and double→decimal (Java shortest-repr rounding) are
      REFUSED — the Engine's footer gate routes those reads to the
      raw JVM scan, so the JVM applies its own semantics.

    Returns True/False (pa.cast safe flag), a callable(col)→array,
    or None to refuse."""
    import pyarrow as pa

    if src.equals(dst):
        return True
    ints = {pa.types.is_int8: (-2**7, 2**7 - 1, 8),
            pa.types.is_int16: (-2**15, 2**15 - 1, 16),
            pa.types.is_int32: (-2**31, 2**31 - 1, 32),
            pa.types.is_int64: (-2**63, 2**63 - 1, 64)}

    def int_bounds(t):
        for pred, (lo, hi, w) in ints.items():
            if pred(t):
                return lo, hi, w
        return None

    sb, db = int_bounds(src), int_bounds(dst)
    if sb and db:
        if db[2] >= sb[2]:
            return True  # widening: exact
        lo, hi, _ = db
        return lambda col: _null_on_overflow(col, dst, lo, hi)
    if sb:
        if pa.types.is_floating(dst):
            return False  # (float)/(double) v — IEEE nearest
        if pa.types.is_decimal(dst):
            def to_dec(col):
                import pyarrow.compute as pc
                digits = dst.precision - dst.scale
                if digits >= 19:
                    return col.cast(dst, safe=False)
                lim = 10 ** digits
                return _null_on_overflow(col, dst, -lim + 1, lim - 1)
            return to_dec
        if pa.types.is_boolean(dst):
            def to_bool(col):
                import pyarrow.compute as pc
                return pc.if_else(
                    col.is_null(), pa.nulls(len(col), pa.bool_()),
                    pc.not_equal(col, 0))
            return to_bool
        if pa.types.is_string(dst):
            return False  # digit rendering identical
        return None
    if pa.types.is_float32(src) or pa.types.is_float64(src):
        if pa.types.is_float64(dst):
            return False
        if pa.types.is_float32(dst):
            return False  # overflow → ±Inf, like Java's (float)d
        if (b := int_bounds(dst)) is not None:
            def f_to_i(col):
                import pyarrow.compute as pc
                tr = pc.trunc(col)  # toward zero (probed 2.5/-2.5)
                lo, _hi, w = b
                # strict upper bound: float64(2^63-1) rounds UP to
                # 2^63, so `tr <= hi*1.0` would admit exactly 2^63
                # and the unsafe cast wraps to -2^63 where the JVM
                # reads NULL (ADVICE r9). 2^(w-1) and lo = -2^(w-1)
                # are exact in float64, so `>= lo` / `< 2^(w-1)` is
                # the precise int range
                ok = pc.and_kleene(
                    pc.and_kleene(pc.greater_equal(tr, lo * 1.0),
                                  pc.less(tr, float(2 ** (w - 1)))),
                    pc.is_finite(col))
                masked = pc.if_else(pc.fill_null(ok, False), tr,
                                    pa.nulls(len(col), type=col.type))
                return masked.cast(dst, safe=False)
            return f_to_i
        return None
    if pa.types.is_decimal(src):
        if (pa.types.is_decimal(dst) and dst.scale >= src.scale
                and (dst.precision - dst.scale
                     >= src.precision - src.scale)):
            return True  # lossless widen
        if pa.types.is_decimal(dst):
            def dec_rescale(col):
                # scale reduction rounds HALF_UP — half away from
                # zero — and overflow reads NULL (probed: -0.05 →
                # -0.1; 99999999.99 → (10,1) carries to 100000000.0;
                # → (5,2) NULL). Round in a WIDE intermediate:
                # pc.round at the source precision silently wraps a
                # carry past it (measured), and the bounds compare is
                # decimal-typed so no float rounding near the edge.
                import decimal as _dec

                import pyarrow.compute as pc
                # decimal256 intermediate: a decimal128(38, s) bound
                # of 10^(38-s) needs 39 digits and ArrowInvalids at
                # scan time (ADVICE r9: (38,10)→(38,2) failed), and
                # a scale INCREASE can carry past 38 digits too
                wide = pa.decimal256(76, dst.scale)
                r = pc.round(col.cast(pa.decimal256(76, src.scale),
                                      safe=False),
                             ndigits=dst.scale,
                             round_mode="half_towards_infinity")
                r = r.cast(wide, safe=False)
                # inclusive bounds at the destination's max
                # representable value — the bound itself fits wide
                step = _dec.Decimal(1).scaleb(-dst.scale)
                lim = (_dec.Decimal(10)
                       ** (dst.precision - dst.scale)) - step
                ok = pc.and_kleene(
                    pc.greater_equal(r, pa.scalar(-lim, type=wide)),
                    pc.less_equal(r, pa.scalar(lim, type=wide)))
                ok = pc.fill_null(ok, False)
                clamped = pc.if_else(ok, r,
                                     pa.scalar(0, type=wide))
                return pc.if_else(
                    ok, clamped.cast(dst, safe=False),
                    pa.nulls(len(col), type=dst))
            return dec_rescale
        if int_bounds(dst) is not None:
            def dec_to_i(col):
                import decimal as _dec

                import pyarrow.compute as pc
                # decimal → int truncates toward zero, NULL on
                # overflow (probed: -0.05 → 0, 1e8 as tinyint → NULL)
                big = col.cast(pa.decimal256(76, src.scale),
                               safe=False)
                tr = big.cast(pa.decimal256(76, 0), safe=False)
                lo, hi, _ = int_bounds(dst)
                # compare in DECIMAL space: a float64 round-trip
                # rounds 2^63-1 up to 2^63 (and -2^63-1 to -2^63),
                # so exact-boundary values passed the check and the
                # unsafe cast wrapped where the JVM reads NULL
                # (ADVICE r9, high)
                ok = pc.and_kleene(
                    pc.greater_equal(
                        tr, pa.scalar(_dec.Decimal(lo), type=tr.type)),
                    pc.less_equal(
                        tr, pa.scalar(_dec.Decimal(hi), type=tr.type)))
                masked = pc.if_else(pc.fill_null(ok, False), tr,
                                    pa.nulls(len(col), type=tr.type))
                return masked.cast(dst, safe=False)
            return dec_to_i
        if pa.types.is_float64(dst) or pa.types.is_float32(dst):
            return False
        return None
    if pa.types.is_boolean(src):
        if int_bounds(dst) is not None:
            return False  # false→0 / true→1
        if pa.types.is_string(dst):
            def b_to_s(col):
                import pyarrow.compute as pc
                return pc.if_else(
                    col.is_null(), pa.nulls(len(col), pa.string()),
                    pc.if_else(col, pa.scalar("TRUE"),
                               pa.scalar("FALSE")))
            return b_to_s
        return None
    if pa.types.is_string(src) or pa.types.is_large_string(src):
        if pa.types.is_string(dst) or pa.types.is_binary(dst):
            return True
        return None
    if pa.types.is_binary(src) or pa.types.is_large_binary(src):
        if pa.types.is_binary(dst):
            return True
        if pa.types.is_string(dst):
            def hex_dump(col):
                # probed: ORC renders binary→string as space-joined
                # ZERO-PADDED hex bytes (b'\x0a\xff\x00' → '0a ff 00')
                import pyarrow as pa
                vals = [None if v is None
                        else " ".join(f"{b:02x}" for b in v)
                        for v in col.to_pylist()]
                return pa.array(vals, type=pa.string())
            return hex_dump
        return None
    if pa.types.is_date32(src) and pa.types.is_string(dst):
        return False  # ISO yyyy-MM-dd, identical rendering (probed)
    return None


class CachedOrcReader(CachedParquetReader):
    def __init__(self, options, schema=None):
        super().__init__(options, schema)
        # stripes are not byte-ADDRESSABLE through pyarrow, so the
        # parquet byte-range splitter cannot apply — partitions()
        # splits big files by stripe INDEX ranges instead (one footer
        # read per large file at plan time, the same cost Hadoop's
        # OrcInputFormat pays for its stripe-offset splits)
        self._orc_split, self.split_bytes = self.split_bytes, 0

    def _pack_policy(self):
        # split_bytes is zeroed above (ORC splits by stripe index),
        # but bin-packing must still honor the JVM's maxSplitBytes
        # cap, and a file the stripe splitter will break up must not
        # hide inside a _PackedPart (ADVICE r9)
        return self._orc_split, self._orc_split or None

    def partitions(self):
        from sidecar_spark.sources.cached_parquet import _PackedPart

        parts = super().partitions()
        if not self._orc_split:
            return parts
        # _PackedParts hold whole SMALL files (bin-packing) — never
        # stripe-split candidates
        big = [p for p in parts if not isinstance(p, _PackedPart)
               and p.length > self._orc_split]
        if not big:
            return parts
        from sidecar_spark.cache.manager import CacheManager

        mgr = CacheManager.get_or_create(self._conf())
        out = []
        for p in parts:
            if (isinstance(p, _PackedPart)
                    or p.length <= self._orc_split):
                out.append(p)
                continue
            try:
                n = self._nstripes(mgr, p)
            except Exception:  # noqa: BLE001 — footer trouble: the
                out.append(p)  # whole file stays one task
                continue
            want = max(1, min(n, -(-p.length // self._orc_split)))
            per = -(-n // want)  # ceil: ranges tile [0, n) exactly
            first_flag = p.first
            for lo in range(0, n, per):
                hi = min(lo + per, n)
                # proportional byte attribution: stats span, and the
                # cold-fill gate (only the split owning byte 0
                # materializes; the others range-stream the first
                # scan) both key off start/end
                sp = _FilePart(p.path, p.mtime, p.length, p.veto,
                               parts=p.parts,
                               start=lo * p.length // n,
                               end=hi * p.length // n)
                sp.stripes = (lo, hi)
                sp.first = first_flag and lo == 0
                out.append(sp)
        return out

    @staticmethod
    def _nstripes(mgr, p) -> int:
        """Stripe count from the file footer, mirror-first (a warmed
        table's split planning costs zero remote requests)."""
        import pyarrow.orc as po

        return open_footer(mgr, p.path, p.mtime,
                           lambda src: po.ORCFile(src).nstripes)

    def _file_pass(self, fobj, part, columns, stat_filters):
        return _orc_pass(fobj, part, columns, self.case_sensitive,
                         part.path, stat_filters)

    def _gate(self):
        # ORC's conversion matrix, not parquet's (probed: null-on-
        # overflow narrowing vs parquet's mod-2^k truncation, ...)
        return _orc_cast_gate


class PruningCachedOrcReader(PruningCachedParquetReader,
                             CachedOrcReader):
    """CachedOrcReader + pushFilters partition-FILE pruning (the
    pushdown gate and filter capture are format-agnostic)."""


class CachedOrcSource(CachedParquetSource):
    """``spark.read.format("sidecar_cached_orc")...`` — wired by
    ``Engine.read_format(location, "orc")`` when
    ``sidecar.resolve.mode = executor``."""

    _reader_cls = CachedOrcReader
    _pruning_reader_cls = PruningCachedOrcReader

    @classmethod
    def name(cls) -> str:
        return "sidecar_cached_orc"

    def _data_schema(self, mgr, files, parts):
        if _flag(self.options, "merge"):
            # the JVM's ORC mergeSchema column order follows an
            # internal hash order over file basenames (probed) —
            # refusing beats silently declaring a differently-ordered
            # schema; the Engine routes this case to the raw scan
            raise ValueError(
                "ORC mergeSchema column order follows JVM-internal "
                "hash order and cannot be reproduced here — read the "
                "original location with spark.read.option("
                "'mergeSchema','true').orc(...) (Engine.read_format "
                "does this automatically)")
        return super()._data_schema(mgr, files, parts)

    @staticmethod
    def _file_arrow_schema(src, nanos_long: bool = False):
        # nanos_long is parquet-only (TIMESTAMP(NANOS) annotation);
        # ORC timestamps always decode to µs here
        import pyarrow.orc as po

        return _orc_arrow_target(po.ORCFile(src).schema)

    @staticmethod
    def _ntz_flag(ntz: bool) -> bool:
        # the ORC target zones every LTZ timestamp UTC, so a naive
        # timestamp surviving to here IS an ntz value (catalyst
        # metadata); parquet's NTZ-inference session setting is
        # parquet-only and must not leak in
        return True
