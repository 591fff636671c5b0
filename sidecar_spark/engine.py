"""Engine — the query surface over the caching layer.

``Engine(spark, base_dir)`` exposes ``table(name)`` / ``sql(q)`` /
``write(df, name)`` where table reads resolve through the CacheManager
(remote → local materialization when admitted, SURVEY.md §7.1) and
return ordinary DataFrames — the full relational operator set
(join/groupBy/window/sort/set-ops/…) is Catalyst's, exactly as the
reference delegates "queries" to whatever engine sits on top of the
cached FileSystem.

In the sidecar world this split is: sidecar = I/O layer, Spark/Hive/
HBase = query layer (README.md:1-3 of the reference). Here both halves
live in one repo.
"""

from __future__ import annotations

import os
from typing import Dict, List, Optional

from sidecar_spark.cache.manager import CacheManager
from sidecar_spark.config import SidecarConfig

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: reader options whose semantics are tied to the ORIGINAL file paths
#: or mtimes — they cannot be applied to content-addressed mirror
#: copies, so reads carrying them go to the original tree raw
_PATH_SEMANTIC_OPTS = {"basepath", "pathglobfilter",
                       "modifiedbefore", "modifiedafter"}

#: an executor-mode mergeSchema read of more files than this folds its
#: footers in a Spark job (``Engine._maybe_merged_schema_job``)
MERGE_SCHEMA_JOB_THRESHOLD = 1000


def _session_conf(spark, key: str, default: Optional[str], parse=None):
    """``spark.conf.get(key, default)``, passed through ``parse`` when
    given. An unreadable conf means unset, and a value ``parse``
    rejects means the default: both yield ``default`` (parsed)."""
    try:
        v = spark.conf.get(key, default)
        return v if parse is None else parse(v)
    except Exception:  # noqa: BLE001
        return default if parse is None else parse(default)


def _listing_opts(options, spark) -> Optional[Dict[str, str]]:
    """Peel LISTING-level reader options the executor sources
    implement natively (round-8): ``pathGlobFilter`` (basename glob,
    probed) and ``modifiedBefore``/``modifiedAfter`` (strict
    comparisons against the listing mtime, probed) — parsed HERE,
    where the session zone is known, and shipped as epoch millis.
    Returns the reader-option dict, or None when a value is outside
    the implementable shape (backslash glob escapes, unparseable
    timestamps, an explicit timeZone option) — the caller goes raw
    and the JVM applies or rejects the original option itself.
    MUTATES ``options``: peeled keys are removed."""
    out: Dict[str, str] = {}
    if any(k.lower() == "timezone" for k in (options or {})):
        return None  # option zone overrides the session's: raw
    for k in list(options or ()):
        kl = k.lower()
        if kl in ("ignorecorruptfiles", "ignoremissingfiles"):
            # SCAN-level skips (round 10, probed — the reader option
            # overrides the session conf, which
            # _read_executor_resolved resolves when no option rides):
            # every executor source implements the per-file skip
            # natively (tests/test_ignore_files.py)
            key = ("ignore_corrupt" if kl == "ignorecorruptfiles"
                   else "ignore_missing")
            out[key] = str(options[k]).lower()
            options.pop(k)
        elif kl == "pathglobfilter":
            v = str(options[k])
            if "\\" in v:
                return None
            out["pathglob"] = v
            options.pop(k)
        elif kl in ("modifiedbefore", "modifiedafter"):
            import datetime

            tz = _session_conf(spark, "spark.sql.session.timeZone", "UTC")
            if tz.upper() not in ("UTC", "GMT", "Z", "ETC/UTC",
                                  "ETC/GMT", "+00:00"):
                # non-UTC sessions: the JVM applies a DOUBLE zone
                # shift here (file mtime rendered to local wall time
                # vs the stamp parsed as a zoned instant — probed:
                # under Asia/Tokyo a stamp 12h past the mtime still
                # matched modifiedAfter). Quirk reproduced only
                # empirically — refuse to guess, read raw (the JVM
                # applies its own rule). PARITY.md round-8.
                return None
            try:
                dt = datetime.datetime.fromisoformat(
                    str(options[k]).replace(" ", "T"))
            except ValueError:
                return None  # let the JVM raise on its own parse
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=datetime.timezone.utc)
            key = ("mod_before" if kl == "modifiedbefore"
                   else "mod_after")
            out[key] = str(int(dt.timestamp() * 1000))
            options.pop(k)
    return out


def _rawfile_opts(fmt: str, options) -> Optional[Dict[str, str]]:
    """Map user reader options for a text/binaryFile read onto the
    cached raw-file source's option names, or None when any option is
    outside the natively-implemented set (the read then goes to the
    original location raw — correct everywhere, merely uncached).
    Listing-level options (pathGlobFilter, modifiedBefore/After) are
    peeled by ``_listing_opts`` before this runs."""
    out: Dict[str, str] = {}
    allowed = ({"wholetext", "linesep", "recursivefilelookup"}
               if fmt == "text" else {"recursivefilelookup"})
    for k, v in (options or {}).items():
        kl = k.lower()
        if kl not in allowed:
            return None
        if kl == "wholetext":
            out["wholetext"] = str(v).lower()
        elif kl == "linesep":
            if not v:
                return None  # empty lineSep: let the JVM raise
            out["linesep"] = str(v)
        elif kl == "recursivefilelookup":
            out["rfl"] = str(v).lower()
    return out


class Engine:
    def __init__(self, spark, base_dir: Optional[str] = None,
                 conf: Optional[SidecarConfig] = None,
                 cache_enabled: bool = True) -> None:
        self.spark = spark
        self.base_dir = base_dir
        if conf is None:
            conf = SidecarConfig.from_spark(spark)
        if conf.cache_dir is None:
            # default cache root under the Spark local dir — replace
            # ONLY cache_dir: an allowlist re-create here silently
            # dropped every other user setting (exclude lists, hint
            # detector, scan detector, pool sizes, ...)
            import dataclasses
            conf = dataclasses.replace(conf, cache_dir=os.path.join(
                os.environ.get("SPARK_LOCAL_DIRS", "/tmp"),
                "sidecar-cache"))
        self.conf = conf
        self.cache_enabled = cache_enabled
        self.cache: Optional[CacheManager] = (
            CacheManager.get_or_create(conf) if cache_enabled else None
        )
        self._registered: Dict[str, str] = {}
        self._result_cache = None

    # ---- reads ---------------------------------------------------------

    def _location(self, name: str) -> str:
        if self.base_dir is None:
            raise ValueError("Engine has no base_dir; pass explicit paths")
        return os.path.join(self.base_dir, f"{name}.parquet")

    def table(self, name: str, sf_dir: Optional[str] = None,
              columns: Optional[List[str]] = None):
        """Read a named table through the cache; returns a DataFrame.
        ``columns`` is an explicit projection — in executor mode it is
        the column-pruning path (the Python DataSource API has no
        automatic prune hook), in driver mode it is a plain select
        that Catalyst pushes into the JVM scan."""
        location = (os.path.join(sf_dir, f"{name}.parquet")
                    if sf_dir else self._location(name))
        return self.read_parquet(location, columns=columns)

    def read_parquet(self, location: str,
                     columns: Optional[List[str]] = None, **options):
        """Cached parquet read. ``options`` pass through to Spark's
        parquet reader (``mergeSchema``, ``datetimeRebaseMode``, ...)
        — they apply to the RESOLVED local paths exactly as to the
        originals, since both are the same parquet bytes. Executor
        mode implements the default option set plus ``mergeSchema``
        (union-of-footers declared schema, JVM merge semantics —
        sources/cached_parquet.py); any OTHER option there goes to
        the ORIGINAL remote location raw — correct on every node of a
        real cluster (driver-resolved mirror paths would be unreadable
        on workers), merely uncached. ``columns`` projects the read:
        executor mode prunes the parquet column chunks each task
        moves; driver mode selects (Catalyst prunes the JVM scan)."""
        return self._cached_read(location, "parquet", columns, options)

    def read_format(self, location: str, format: str,  # noqa: A002
                    columns: Optional[List[str]] = None, **options):
        """Cached read for ANY Spark file-source format (csv, json,
        orc, text, xml, avro, ...) — the reference caches every file
        type because it IS a FileSystem, so format-agnostic caching is
        part of the capability. Driver mode resolves through the
        mirror exactly like parquet (hive-partitioned layouts
        included); executor mode serves parquet AND orc through the
        cached Python sources (both self-describing — schema parity
        is derivable) and reads the remaining formats from the
        original location raw: csv/json schema inference cannot be
        reproduced from Python without silent divergence (PARITY.md),
        and a wrong-but-cached read is never an acceptable trade."""
        return self._cached_read(location, format, columns, options)

    def _cached_read(self, location: str, fmt: str, columns, options):
        def _select(df):
            return df.select(*columns) if columns else df

        # `schema` is a reader METHOD, not an option — silently
        # passing it through .options() would be ignored and the read
        # would fall back to inference with different types
        schema = (options or {}).pop("schema", None)
        # per-READ split-size override for the executor scan (cleaner
        # than mutating the shared session conf and restoring it);
        # popped here so it never reaches Spark's reader and never
        # forces the everything-else raw fallback below
        split_bytes = None
        for k in list(options or ()):
            if k.lower() in ("split_bytes",
                             "spark.sidecar.scan.splitbytes"):
                split_bytes = options.pop(k)

        # options for reads over RESOLVED (mirror/view) paths: when
        # the driver path filters the listing natively (round-8,
        # pathGlobFilter + modified windows), the peeled copy rides —
        # re-passing a glob would match it against content-addressed
        # mirror names (the probed wrong-file bug). Reads of the
        # ORIGINAL location always carry the user's full option set.
        resolved_opts = {"v": options}

        def _raw(*paths):
            opts = resolved_opts["v"] if paths else options
            reader = self.spark.read.options(**(opts or {})).format(fmt)
            if schema is not None:
                reader = reader.schema(schema)
            return reader.load(list(paths) if paths else location)

        def _cached(df):
            # None: the executor read declined (empty or unlistable
            # location, out-of-matrix ORC footer) — read it raw
            return df if df is not None else _select(_raw())

        if self.cache is None:
            return _select(_raw())
        if (self.conf.resolve_mode == "executor"
                and not location.startswith("mem://")):
            # real-cluster mode: the resolve happens INSIDE each scan
            # task against that node's own mirror (an unwarmed node
            # materializes node-locally instead of erroring; see
            # sources/cached_parquet.py). mem:// is process-local —
            # unreachable from workers — so it stays driver-resolved.
            # mergeSchema is implemented by the Python source (round-6
            # verdict #1: union-of-footers declared schema, JVM merge
            # semantics) — peel it off so a mergeSchema-only read
            # stays on the cached path; None = defer to the session
            # conf spark.sql.parquet.mergeSchema (option overrides
            # conf, probed)
            merge = None
            rest = {}
            for k, v in (options or {}).items():
                if k.lower() == "mergeschema":
                    merge = str(v).lower() == "true"
                else:
                    rest[k] = v
            # LISTING-level options (pathGlobFilter, modifiedBefore/
            # After) are implemented natively by every executor
            # source (round-8) — peel them; None = a value outside
            # the implementable shape, the whole read goes raw
            listing = _listing_opts(rest, self.spark)
            if listing is None:
                return _select(_raw())
            fl = fmt.lower()
            if fl in ("text", "binaryfile") and schema is None:
                # FIXED schemas — no inference to reproduce, so the
                # refuse-to-guess policy that keeps csv/json raw does
                # not apply (VERDICT r7 #1). Options are implemented
                # natively (probed semantics, sources/cached_rawfile)
                # or the read goes raw.
                raw_opts = _rawfile_opts(fl, rest)
                if raw_opts is not None:
                    raw_opts.update(listing)
                    if fl == "binaryfile":
                        raw_opts["maxlength"] = _session_conf(
                            self.spark,
                            "spark.sql.sources.binaryFile.maxLength",
                            "2147483647")
                    return _cached(self._read_executor_resolved(
                        location, columns, split_bytes=split_bytes,
                        fmt=fl, raw_opts=raw_opts))
                return _select(_raw())
            if fl in ("csv", "json") and schema is not None:
                # EXPLICIT user schema: no inference to reproduce
                # (round-7 verdict #3). The cached TEXT source
                # supplies record framing (probed identical: Hadoop
                # line reader, BOM strip, blank-line skip) and the
                # JVM's OWN from_csv/from_json expressions supply the
                # value parsing — the same UnivocityParser/
                # JacksonParser classes the file sources use, so the
                # parse matrix is parity-by-construction. Only
                # value-level options ride; record-level ones
                # (header, multiLine, lineSep, encoding, comment,
                # non-PERMISSIVE modes) route raw.
                return _cached(self._read_csv_json_composed(
                    location, fl, schema, rest, columns,
                    split_bytes, listing))
            user_schema = None
            if schema is not None and fmt in ("parquet",
                                              "orc") and not rest:
                # explicit USER schema: implemented by the Python
                # sources — no footer inference, per-file conformance
                # through the format's own probed conversion matrix
                # (parquet _cast_gate; ORC _orc_cast_gate, round 9),
                # partition columns relocated/typed like the JVM
                # (probed). mergeSchema is irrelevant under a user
                # schema (the JVM skips merging too). For ORC a
                # footer gate (_orc_user_schema_ok) routes
                # out-of-matrix conversions raw.
                try:
                    if isinstance(schema, str):
                        from pyspark.sql.types import (
                            _parse_datatype_string,
                        )

                        user_schema = _parse_datatype_string(schema)
                    else:
                        user_schema = schema
                except Exception:  # noqa: BLE001 — unparseable DDL:
                    return _select(_raw())  # let the JVM error on it
            if fmt in ("parquet", "orc") and not rest and (
                    schema is None or user_schema is not None):
                if merge is None:
                    merge = _session_conf(
                        self.spark, f"spark.sql.{fmt}.mergeSchema",
                        "false").lower() == "true"
                if fmt == "orc" and merge:
                    # ORC mergeSchema column ORDER follows a JVM-
                    # internal hash order over the file BASENAMES
                    # (probed: same order across directories, changed
                    # by renaming files) — unreproducible from Python
                    # by policy (refuse-to-guess), so the read goes to
                    # the original location raw. Driver mode keeps it
                    # cached: the symlink view preserves basenames,
                    # so the JVM applies the same order there.
                    return _select(_raw())
                return _cached(self._read_executor_resolved(
                    location, columns, split_bytes=split_bytes,
                    merge=merge, fmt=fmt, user_schema=user_schema,
                    raw_opts=listing))
            # the Python sources decode parquet and ORC (both
            # self-describing) with the default option set plus
            # mergeSchema. csv/json schema INFERENCE cannot be
            # reproduced from Python without silent divergence
            # (PARITY.md), and a driver-resolve fallback here would
            # hand scan tasks driver-LOCAL mirror paths — unreadable
            # on the multi-node clusters executor mode exists for —
            # so everything else goes to the ORIGINAL location raw:
            # correct everywhere, merely uncached (round-5 advice).
            return _select(_raw())
        if fmt.lower() == "binaryfile":
            # driver mode cannot cache binaryFile: the JVM scan of a
            # symlink view would render the VIEW path in the `path`
            # column and the mirror copy's mtime in
            # `modificationTime` — silent wrong values. Executor mode
            # serves it cached (the Python source renders the
            # ORIGINAL path and the listing mtime). PARITY.md.
            return _select(_raw())
        # pathGlobFilter + modified windows are served NATIVELY in
        # driver mode too (round-8): the ENGINE filters the original
        # listing (original basenames, original mtimes — the mirror-
        # name hazard never arises) and resolves only the survivors;
        # the peeled option copy rides on resolved-path reads. A
        # basePath, a backslash glob, an unparseable stamp or a
        # non-UTC session (the JVM's double-shift quirk, PARITY.md)
        # still reads the original tree raw.
        driver_listing = None
        if options and any(
                k.lower() in ("pathglobfilter", "modifiedbefore",
                              "modifiedafter") for k in options):
            peeled = dict(options)
            driver_listing = _listing_opts(peeled, self.spark)
            if driver_listing is None:
                return _select(_raw())
            resolved_opts["v"] = peeled
        if (resolved_opts["v"]
                and any(k.lower() in _PATH_SEMANTIC_OPTS
                        for k in resolved_opts["v"])):
            # basePath (and anything still path-semantic after the
            # peel) is about the ORIGINAL paths — read the original
            # tree raw, correctness over caching
            return _select(_raw())
        files = self._table_files(location, driver_listing)
        if not files:
            return _select(_raw())
        # ONE remote listing feeds the resolve, including its
        # auto-warm choice (a cold table at/over auto_warm_bytes is
        # filled by Spark tasks, so the driver never funnels table
        # bytes) — on an object store, re-listing a 10k-file table per
        # step would dominate the metadata path
        paths = self.cache.resolve_for_spark(location, files=files,
                                             spark=self.spark)
        view_read = self._view_read(location, files, paths,
                                    resolved_opts["v"],
                                    fmt=fmt, schema=schema)
        if view_read is not None:
            return _select(view_read)
        # some files stream remote (veto / exclusion / fill failure):
        # a partial symlink tree cannot represent them. Under
        # recursiveFileLookup the directory structure is NON-semantic
        # (the JVM flattens and skips partition discovery — probed),
        # so the mixed flat-path read stays correct and cached where
        # local; otherwise a partitioned or non-clean layout scans
        # the ORIGINAL root (structure is semantic there —
        # correctness over caching) and only a flat table keeps the
        # mixed flat-path read.
        rfl = next((v for k, v in (options or {}).items()
                    if k.lower() == "recursivefilelookup"), "false")
        if str(rfl).lower() == "true":
            return _select(_raw(*paths))
        from sidecar_spark.cache.partitions import layout_specs

        _, root = self.cache._resolve(location)  # noqa: SLF001
        specs = layout_specs(root, files)
        if specs is None or any(specs):
            return _select(_raw())
        return _select(_raw(*paths))

    def _view_read(self, location, files, paths, options=None,
                   fmt="parquet", schema=None):
        """When every file resolved LOCAL: scan a 1:1 symlink view of
        the ORIGINAL tree — original relative paths and basenames,
        each name pointing at that file's mirror copy — so the JVM
        applies its OWN semantics to an identical structure. That
        makes every path-structure behavior parity-by-construction,
        on cached bytes, with zero data copies:

        * partition discovery and typed partition values (key=value
          dirs are reproduced verbatim);
        * the deterministic footer pick under schema evolution and
          the mergeSchema fold order (both follow PATH order, probed
          — a flat list of content-hash mirror names would reorder
          them);
        * layout refusals and drops (nested plain dirs error,
          mixed-depth root files dropped, case-conflicting keys
          merged by the JVM's own rule) — the view reproduces the
          exact layout, so whatever the JVM does there IS the parity;
        * recursiveFileLookup, which flattens the view exactly as it
          would the original.

        The ONE structure behavior a view cannot reproduce: keys with
        CONFLICTING case across directories (``b=1`` next to ``B=2``)
        — the JVM names the merged column after whichever ABSOLUTE
        path its internal hash map iterates first, and the view's
        paths hash differently than the originals (probed: the view
        picked the other case). That edge returns None so the caller
        delegates to the original root raw, verbatim parity.

        Returns None when any file still streams remote (the caller
        falls back). The view dir is content-addressed by its (rel,
        mirror-path) pairs, so a repeat resolve of the same snapshot
        reuses it and a changed table gets a fresh dir."""
        from sidecar_spark.cache.partitions import (
            build_symlink_view,
            decode_key,
        )

        local = [p for p in paths if p is not None
                 and self.conf.cache_dir
                 and p.startswith(self.conf.cache_dir)]
        if len(local) != len(paths):
            return None
        _, root = self.cache._resolve(location)  # noqa: SLF001
        root_s = root.rstrip("/")
        pairs = []
        key_case = {}
        for st, lp in zip(files, local):
            fp = st.path.rstrip("/")
            if fp == root_s:
                rel = os.path.basename(fp)  # location IS one file
            elif fp.startswith(root_s + "/"):
                rel = fp[len(root_s) + 1:]
            else:
                return None  # listing escaped the root: fall back
            for seg in rel.split("/")[:-1]:
                if "=" in seg:
                    k = decode_key(seg.partition("=")[0])
                    if key_case.setdefault(k.lower(), k) != k:
                        return None  # case-conflicting keys: delegate
            pairs.append((rel, lp))
        view = build_symlink_view(
            os.path.join(self.conf.cache_dir, "views"), pairs)
        return self._reader(options, fmt, schema).load(view)

    def _reader(self, options, fmt, schema=None):
        reader = (self.spark.read.options(**(options or {}))
                  .format(fmt))
        if schema is not None:
            reader = reader.schema(schema)
        return reader

    def _read_executor_resolved(self, location: str, columns=None,
                                split_bytes=None, merge=None,
                                fmt="parquet", user_schema=None,
                                raw_opts=None):
        """Build the scan through the cache-backed Python DataSource:
        byte-range partitions over the data files, each task resolving
        against ITS node's CacheManager (sources/cached_parquet.py
        docstring for the full design). Registered once per Engine.
        Every session-dependent setting travels as an option — the
        source's plan/scan stages run in worker processes with no
        active session — and so does the read's one listing
        (``_ship_listing``). Returns None when the read must go raw:
        an empty listing, or an ORC footer outside the user schema's
        conversion matrix."""
        files = self._table_files(location, raw_opts)
        if not files or (fmt == "orc" and user_schema is not None
                         and not self._orc_user_schema_ok(files,
                                                          user_schema)):
            return None
        if not getattr(self, "_cached_source_registered", False):
            from sidecar_spark.sources.cached_orc import CachedOrcSource
            from sidecar_spark.sources.cached_parquet import (
                CachedParquetSource,
            )
            from sidecar_spark.sources.cached_rawfile import (
                CachedBinaryFileSource,
                CachedTextSource,
            )

            self.spark.dataSource.register(CachedParquetSource)
            self.spark.dataSource.register(CachedOrcSource)
            self.spark.dataSource.register(CachedTextSource)
            self.spark.dataSource.register(CachedBinaryFileSource)
            self._cached_source_registered = True
            # partition pruning for the Python source is gated by a
            # session conf (default false in Spark 4.1). Executor
            # mode is itself opt-in, and pruning is the difference
            # between scanning one partition and scanning the table
            # at 100 TB — enable it, but ONLY when the user has not
            # set the key themselves (an explicit false may be
            # guarding some other Python source's broken pushFilters;
            # SQLConf.contains distinguishes unset from default)
            key = "spark.sql.python.filterPushdown.enabled"
            try:
                jconf = self.spark._jsparkSession.sessionState().conf()
                if not jconf.contains(key):
                    self.spark.conf.set(key, "true")
            except Exception:  # noqa: BLE001 — pruning is optional
                pass
        def conf(key, default):
            return _session_conf(self.spark, key, default)

        ntz = conf("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        pushdown = conf("spark.sql.python.filterPushdown.enabled", "false")
        tz = conf("spark.sql.session.timeZone", "UTC")
        if merge is None:
            # option absent: the session conf decides (JVM parity;
            # an explicit option value overrides the conf — probed);
            # each format has its own conf key
            merge = conf(f"spark.sql.{fmt}.mergeSchema",
                         "false").lower() == "true"
        case_sensitive = conf("spark.sql.caseSensitive", "false")
        # rebase modes for non-Spark-written files: the JVM consults
        # these confs when a footer has neither a legacy marker nor
        # org.apache.spark.version (probed, sources/rebase.py) — ship
        # them so executor-mode reads pick the same per-file mode
        dt_rebase = conf("spark.sql.parquet.datetimeRebaseModeInRead",
                         "CORRECTED")
        i96_rebase = conf("spark.sql.parquet.int96RebaseModeInRead",
                          "CORRECTED")
        # NANOS-annotated columns: refused by default (JVM
        # PARQUET_TYPE_ILLEGAL), served as bigint when the legacy
        # conf is on — implemented natively in the source (the query
        # battery leaves this conf set for the events table)
        nanos_long = conf("spark.sql.legacy.parquet.nanosAsLong", "false")
        # two more session confs served natively (round 10, probed):
        # inference-off partition columns type STRING (void stays);
        # binaryAsString remaps unannotated parquet BINARY (nested
        # included) at schema inference — user schemas still win.
        # int96AsTimestamp=false needs nothing: Spark 4.1's own reader
        # ignores it (probed — tests/test_type_parity.py)
        pt_inference = conf(
            "spark.sql.sources.partitionColumnTypeInference.enabled",
            "true")
        bin_str = conf("spark.sql.parquet.binaryAsString", "false")
        if fmt != "parquet":
            bin_str = "false"  # PARQUET-only conf (probed B6: an
            # ORC binary column stays binary under the flag)
        source = {"orc": "sidecar_cached_orc",
                  "text": "sidecar_cached_text",
                  "binaryfile": "sidecar_cached_binaryfile",
                  }.get(fmt, "sidecar_cached_parquet")
        manifest = self._ship_listing(files)
        reader = (self.spark.read.format(source)
                  .option("path", location)
                  .option("conf", self.conf.to_json())
                  # plan workers have no active session: ship the NTZ
                  # inference setting so schemas match the JVM scan,
                  # the pushdown gate so the source only defines
                  # pushFilters when the session allows it, the
                  # session zone (typed timestamp partition values),
                  # and the split size (intra-file parallelism)
                  .option("ntz", ntz)
                  .option("pushdown", pushdown)
                  .option("tz", tz)
                  .option("merge", "true" if merge else "false")
                  .option("case_sensitive", case_sensitive)
                  .option("dt_rebase", dt_rebase)
                  .option("i96_rebase", i96_rebase)
                  .option("nanos_long", nanos_long)
                  .option("pt_inference", pt_inference)
                  .option("binary_as_string", bin_str)
                  .option("split_bytes", str(
                      _parse_bytes(str(split_bytes))
                      if split_bytes is not None
                      else self._scan_split_bytes()))
                  # small-file bin-packing (round-9): the same two
                  # knobs the JVM scan packs FilePartitions by
                  .option("open_cost", self._open_cost_bytes())
                  .option("parallelism", str(
                      self.spark.sparkContext.defaultParallelism)))
        if manifest:
            reader = reader.option("files_manifest", manifest)
        if user_schema is not None:
            import json

            reader = reader.option(
                "user_schema", json.dumps(user_schema.jsonValue()))
        if merge and fmt == "parquet" and user_schema is None:
            merged = self._maybe_merged_schema_job(
                files, ntz="true" == str(ntz).lower(),
                nanos_long="true" == str(nanos_long).lower(),
                case_sensitive="true" == str(case_sensitive).lower(),
                binary_as_string="true" == str(bin_str).lower())
            if merged is not None:
                import json

                reader = reader.option(
                    "merged_schema", json.dumps(merged.jsonValue()))
        for k, v in (raw_opts or {}).items():
            # text/binaryFile semantics (wholetext, linesep,
            # pathglob, rfl, maxlength) — validated by _rawfile_opts
            reader = reader.option(k, v)
        # ignoreCorruptFiles / ignoreMissingFiles: the reader option
        # rides in raw_opts (peeled by _listing_opts, option wins);
        # otherwise the session conf decides (JVM FileSourceOptions
        # precedence, probed) — resolved HERE because the source's
        # plan/scan workers have no active session
        have = {k.lower() for k in (raw_opts or {})}
        for opt, conf_key in (
                ("ignore_corrupt",
                 "spark.sql.files.ignoreCorruptFiles"),
                ("ignore_missing",
                 "spark.sql.files.ignoreMissingFiles")):
            if (opt not in have
                    and conf(conf_key, "false").lower() == "true"):
                reader = reader.option(opt, "true")
        if columns:
            import json

            # explicit projection: the one column-pruning path the
            # Python DataSource API offers (no automatic prune hook)
            reader = reader.option("columns", json.dumps(list(columns)))
        endpoint = os.environ.get("SIDECAR_S3_ENDPOINT")
        if endpoint:
            # the source's plan/scan stages run in separate Python
            # processes that do not inherit driver env set after the
            # worker daemon forked — ship the endpoint as an option
            reader = reader.option("endpoint", endpoint)
        return reader.load()

    #: value-level reader options safe to forward to from_csv /
    #: from_json (the SAME options classes the file sources build, so
    #: semantics are identical by construction). csv `header` and
    #: `comment` are RECORD-level options served by the cached text
    #: source's framing (round 9, probed), csv `multiLine` by its
    #: quote-aware record framing (round 10, probed). Everything
    #: outside these sets — and the remaining record-level options
    #: (encoding, non-PERMISSIVE modes, json multiLine) — routes the
    #: read raw.
    #: csv/json `lineSep` is served by the text source's custom
    #: separator framing (round 9, probed).
    _CSV_VALUE_OPTS = {
        "sep", "delimiter", "quote", "escape", "nullvalue",
        "nanvalue", "positiveinf", "negativeinf", "dateformat",
        "timestampformat", "timestampntzformat", "emptyvalue",
        "locale", "ignoreleadingwhitespace",
        "ignoretrailingwhitespace", "chartoescapequoteescaping",
        "maxcharspercolumn", "maxcolumns",
        "columnnameofcorruptrecord", "mode",
    }
    _JSON_VALUE_OPTS = {
        "dateformat", "timestampformat", "timestampntzformat",
        "locale", "allowcomments", "allowunquotedfieldnames",
        "allowsinglequotes", "allownumericleadingzeros",
        "allowbackslashescapinganycharacter",
        "allowunquotedcontrolchars", "allownonnumericnumbers",
        "columnnameofcorruptrecord", "mode",
    }

    def _read_csv_json_composed(self, location, fmt, schema, options,
                                columns, split_bytes, listing=None):
        """Cached csv/json-with-user-schema: cached text framing +
        JVM-side from_csv/from_json parsing. Returns None (caller
        goes raw) when any option is outside the value-level set,
        mode is not PERMISSIVE, the schema is unparseable, or a
        partition/corrupt column would collide with a schema field.
        Probed parity cells (tests/test_csv_json_schema.py): quotes,
        escaped quotes, embedded separators, fewer/more tokens,
        type-cast failures, _corrupt_record (option AND session
        conf), blank/whitespace-only line skip (Java trim: chars
        <= 0x20), UTF-8 BOM strip, dates/timestamps. Round 9 adds the
        csv RECORD-level options `header` (skip the first non-blank
        non-comment line of each file — first PHYSICAL line even when
        it opens a quote; per-file under splits; after the BOM strip
        and any codec decompression; a header-only file yields no
        rows) and `comment` (drop raw-startswith lines; one char max
        — longer goes raw for the JVM's own error; empty = disabled).
        enforceSchema=false under header=true VALIDATES names against
        the schema — unprobed case/dedup rules, routes raw. `lineSep`
        (csv AND json) replaces the default framing entirely — \\n
        inside a record stays in the value, blank-record skip follows
        the custom framing, multi-char separators work (all probed)
        (tests/test_csv_header_comment.py). Round 10 adds csv
        `multiLine=true`: quote-aware RECORD framing in the text
        source (`_csv_multiline_records` — separator auto-detection,
        close-always quotes under escape != quote, garbage reverts,
        in-quote separator normalization, never-split files, all
        probed in tests/test_csv_multiline.py); field values stay
        with from_csv, whose univocity parser reproduces the quirky
        raw-revert values byte-for-byte (probed V1-V8). Unprobed
        corners route raw: explicit lineSep with multiLine, json
        multiLine, degenerate marker collisions."""
        import pyspark.sql.functions as F

        allowed = (self._CSV_VALUE_OPTS if fmt == "csv"
                   else self._JSON_VALUE_OPTS)
        fwd = {}
        header = False
        comment = ""
        linesep = None
        rfl = None
        enforce = True
        multiline = False
        enc = None
        for k, v in (options or {}).items():
            kl = k.lower()
            if kl == "recursivefilelookup":
                # LISTING-level: the text source implements the
                # flatten natively (no partition discovery, nested
                # files at any depth — probed for text/binaryFile,
                # and the csv/json file sources list the same way)
                rfl = str(v).lower()
                continue
            if kl == "linesep":
                # RECORD framing for csv AND json (round 9, probed):
                # the custom separator replaces \n/\r\n/\r entirely
                # (a \n inside a record stays in the value), the
                # blank-record skip applies to the custom framing,
                # multi-char separators work, and a quoted separator
                # char still splits — all exactly the text source's
                # custom-lineSep behavior. Empty goes raw for the
                # JVM's own error.
                if not str(v):
                    return None
                linesep = str(v)
                continue
            # RECORD-level csv options implemented by the cached text
            # source's framing (round 9, every cell probed):
            # header=true drops the first non-blank non-comment line
            # of each file; comment drops raw-startswith lines. They
            # are framing, not value parsing — never forwarded to
            # from_csv.
            if kl == "encoding" or (fmt == "csv" and kl == "charset"):
                # RECORD-level charset (round 10, probed): served by
                # the cached text source's transcode — gate below
                enc = str(v)
                continue
            if kl == "multiline":
                # csv: quote-aware RECORD framing in the text source;
                # json: whole-file document parse through from_json
                # (both round 10, probed — gates below the loop)
                multiline = str(v).lower() == "true"
                continue
            if fmt == "csv" and kl == "header":
                header = str(v).lower() == "true"
                continue
            if fmt == "csv" and kl == "comment":
                comment = str(v)
                if len(comment) > 1:
                    return None  # JVM raises its own one-char error
                continue
            if fmt == "csv" and kl == "enforceschema":
                enforce = str(v).lower() != "false"
                continue
            if kl not in allowed:
                return None
            if kl == "mode" and str(v).upper() != "PERMISSIVE":
                # DROPMALFORMED is unreproducible from a composed
                # expression BY DESIGN (round-10 probes): the JVM
                # evaluates malformed-ness against the projection's
                # REQUIRED schema, so `select(b)` KEEPS a row whose
                # `a` fails to cast and `count()` keeps every raw
                # line — a compose-time parse sees the full schema
                # and cannot know the downstream projection.
                # FAILFAST's error text differs. Raw keeps parity.
                return None
            fwd[k] = str(v)
        if header and not enforce:
            # enforceSchema=false VALIDATES header names against the
            # schema (case/dedup rules unprobed) — refuse to guess
            return None
        try:
            if isinstance(schema, str):
                from pyspark.sql.types import _parse_datatype_string

                user = _parse_datatype_string(schema)
            else:
                user = schema
            fields = list(user.fields)
        except Exception:  # noqa: BLE001 — let the JVM error on it
            return None
        framing = dict(listing or {})
        if header:
            framing["skip_header"] = "true"
        if comment:
            framing["comment"] = comment
        if linesep is not None:
            framing["linesep"] = linesep
        if rfl is not None:
            framing["rfl"] = rfl
        if enc is not None:
            # non-UTF8 encoding (round 10, probed —
            # tests/test_csv_encoding.py). Composable cells: the
            # 8-bit charsets and explicit utf-8 everywhere; utf-16le/
            # be with an explicit lineSep (framing on the ENCODED
            # separator, file never split) or under multiLine
            # (whole-file decode); the BOM-detecting utf-16/utf-32
            # only under multiLine. Raw routes: anything outside the
            # JVM's csv allowlist (its own error), utf-16/32 without
            # multiLine (byte-0x0A framing garbage — probed E4/E5/F1,
            # refuse to reproduce), json non-UTF8 without lineSep
            # (the JVM requires it, E11) or utf-16/32 (denyList,
            # E12), and a lineSep the charset cannot encode (Java
            # silently replaces with '?', unprobed).
            aliases = {"iso-8859-1": "latin-1", "us-ascii": "ascii",
                       "utf-8": None, "utf-16le": "utf-16-le",
                       "utf-16be": "utf-16-be", "utf-16": "utf-16",
                       "utf-32": "utf-32"}
            c = enc.strip().lower()
            if c not in aliases:
                return None
            transcode = aliases[c]
            if transcode is not None:
                if fmt == "json":
                    if multiline:
                        pass  # whole-file decode — any allowed
                        # charset, no lineSep needed (probed J14)
                    elif linesep is None or transcode in ("utf-16",
                                                          "utf-32"):
                        return None
                elif transcode in ("utf-16", "utf-32"):
                    if not multiline:
                        return None
                elif transcode in ("utf-16-le", "utf-16-be"):
                    if not multiline and linesep is None:
                        return None
                if linesep is not None:
                    from sidecar_spark.sources.cached_rawfile import (
                        _TRANSCODE,
                    )

                    try:
                        linesep.encode(_TRANSCODE[transcode][0])
                    except (UnicodeEncodeError, KeyError):
                        return None
                framing["transcode"] = transcode
        if multiline and fmt == "json":
            # json multiLine = whole-file DOCUMENT parse (round 10,
            # probed J1-J28 — tests/test_json_multiline.py): each
            # file is one JSON value; a top-level array yields one
            # row per element, an object one row (from_json's array
            # schema wraps it — probed X1), trailing content after
            # the first value is ignored, a malformed/scalar/
            # null-element document collapses to ONE all-null row,
            # empty/whitespace-only files yield nothing, files never
            # split. Routes raw: explicit lineSep (ignored-vs-error
            # unprobed), and any corrupt-record column in play —
            # array-mode from_json cannot reproduce the JVM's
            # partial-corruption fills.
            if linesep is not None:
                return None
            corrupt_name = next(
                (str(v2) for k2, v2 in fwd.items()
                 if k2.lower() == "columnnameofcorruptrecord"), None)
            if corrupt_name is None:
                corrupt_name = _session_conf(
                    self.spark, "spark.sql.columnNameOfCorruptRecord",
                    "_corrupt_record")
            if any(f.name.lower() == corrupt_name.lower()
                   for f in fields):
                return None
            framing["wholetext"] = "true"
            framing["strip_bom"] = "true"
        if multiline and fmt == "csv":
            # csv multiLine record framing (round 10, every boundary
            # rule probed — tests/test_csv_multiline.py). Routes raw
            # for the unprobed/degenerate corners: explicit lineSep
            # (the JVM's framing there is bizarre — probed m3/p12
            # keep the separator INSIDE values), multi-char markers
            # (the JVM raises its own one-char errors), newline bytes
            # or marker collisions inside the delimiter, and an
            # explicit charToEscapeQuoteEscaping when escape == quote.
            def _opt(name, default):
                for k2, v2 in fwd.items():
                    if k2.lower() == name:
                        return v2
                return default

            if linesep is not None:
                return None
            q = _opt("quote", '"')
            e = _opt("escape", "\\")
            cq = _opt("chartoescapequoteescaping", None)
            sepv = _opt("delimiter", None)
            if sepv is None:
                sepv = _opt("sep", ",")
            ilw = (str(_opt("ignoreleadingwhitespace", "false"))
                   .lower() == "true")
            if len(q) > 1 or len(e) > 1:
                return None
            if cq is not None and len(cq) != 1:
                return None
            if not sepv or any(c in sepv for c in "\r\n"):
                return None
            if any(c in "\r\n" for c in q + e + (cq or "")):
                return None
            if (q and q in sepv) or (e and e in sepv):
                return None
            if cq is not None and q and e == q:
                return None
            framing["multiline_csv"] = "true"
            framing["ml_quote"] = q
            framing["ml_escape"] = e
            if cq is not None:
                framing["ml_ceqe"] = cq
            framing["ml_sep"] = sepv
            if ilw:
                framing["ml_ilw"] = "true"
        text = self._read_executor_resolved(
            location, split_bytes=split_bytes, fmt="text",
            raw_opts=framing)
        if text is None:
            return None
        part_cols = [c for c in text.columns if c != "value"]
        corrupt = next((v for k, v in fwd.items()
                        if k.lower() == "columnnameofcorruptrecord"),
                       None)
        taken = {f.name.lower() for f in fields}
        if corrupt is not None and corrupt.lower() not in taken:
            # corrupt column only materializes when the schema names
            # it; a dangling option is harmless either way
            pass
        if any(p.lower() in taken for p in part_cols):
            # user schema naming a partition key: the JVM relocates
            # and serves the DIRECTORY value — unprobed for csv/json,
            # refuse to guess
            return None
        if multiline and fmt == "csv":
            # the multiLine framing already applied the RECORD-level
            # drops, with DIFFERENT rules than line mode: only
            # length-0 records drop (a whitespace-only record is a
            # row — probed p10/h4), comment matches the framed
            # record's first bytes, and the header is the first
            # surviving record
            kept = text
        else:
            # blank-line skip: the sources drop lines whose Java trim
            # (chars <= U+0020) is empty — probed for csv AND json
            kept = text.where(F.col("value").rlike("[^\\x00-\\x20]"))
            if comment:
                # comment lines drop on a RAW startswith (probed:
                # leading whitespace disqualifies, a quoted first
                # field keeps its opening quote as char 0, mid-line
                # chars never match)
                kept = kept.where(
                    ~F.col("value").startswith(F.lit(comment)))
        if multiline and fmt == "json":
            from pyspark.sql.types import ArrayType, StructType

            st = StructType(fields)
            arr = F.from_json(F.col("value"), ArrayType(st),
                              fwd or None)
            # malformed document (unparseable, top-level scalar,
            # scalar/nested elements, or an explicit null element —
            # probed J4/J10/J11/J15/J16/J20) → exactly ONE all-null
            # row: a single null struct through explode
            bad = arr.isNull() | F.exists(arr, lambda e: e.isNull())
            arr = F.when(bad, F.array(F.lit(None).cast(st))
                         ).otherwise(arr)
            parsed = kept.select(F.explode(arr).alias("_r"),
                                 *[F.col(p) for p in part_cols])
            out = parsed.select(
                *[F.col("_r").getItem(f.name).alias(f.name)
                  for f in fields],
                *[F.col(p) for p in part_cols])
            if columns:
                out = out.select(*columns)
            return out
        parser = F.from_csv if fmt == "csv" else F.from_json
        sch = user if fmt == "json" else ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in fields)
        parsed = kept.select(
            parser(F.col("value"), sch, fwd or None).alias("_r"),
            *[F.col(p) for p in part_cols])
        out = parsed.select(
            *[F.col("_r").getItem(f.name).alias(f.name)
              for f in fields],
            *[F.col(p) for p in part_cols])
        if columns:
            out = out.select(*columns)
        return out

    def _orc_user_schema_ok(self, files, user_schema) -> bool:
        """Footer gate for ORC reads with an explicit user schema
        (round 9): every user field that exists in the FIRST data
        file of ``files`` (the read's listing) must convert through
        the probed ORC matrix (``cached_orc._orc_cast_gate``); complex
        types must match exactly. Fields absent from the footer
        null-fill or come from partition directories — both fine. One
        metadata-only footer read (mirror-first), the same read the
        source's own schema() pays. Any trouble → False (raw JVM scan,
        correct always). Later files with drifted types conform
        per-file at scan through the same gate — an out-of-matrix cell
        there fails LOUDLY instead of serving silently-wrong values
        (PARITY.md)."""
        try:
            import pyarrow.orc as po
            from pyspark.sql.pandas.types import to_arrow_type

            from sidecar_spark.sources.cached_orc import (
                _orc_arrow_target,
                _orc_cast_gate,
            )
            from sidecar_spark.sources.cached_parquet import open_footer

            st = min(files, key=lambda s: s.path)
            target = _orc_arrow_target(open_footer(
                self.cache, st, lambda src: po.ORCFile(src).schema))
            cs = _session_conf(self.spark, "spark.sql.caseSensitive",
                               "false").lower() == "true"
            by_key = {(f.name if cs else f.name.lower()): f
                      for f in target}
            import pyarrow as pa

            for uf in user_schema.fields:
                tf = by_key.get(uf.name if cs else uf.name.lower())
                if tf is None:
                    continue  # null-fill or partition column
                dst = to_arrow_type(uf.dataType)
                if tf.type.equals(dst):
                    continue
                if (pa.types.is_nested(tf.type)
                        or pa.types.is_nested(dst)):
                    return False  # complex drift: exact match only
                if _orc_cast_gate(tf.type, dst) is None:
                    return False
            return True
        except Exception:  # noqa: BLE001 — footer/parse trouble:
            return False   # the raw JVM scan handles it

    def _table_files(self, location: str, listing=None):
        """The read's one listing: ``CacheManager.list_files`` with
        this session (so a wide tree lists as a Spark job), with the
        listing-level options applied once (``listing_filter``:
        pathGlobFilter on basenames, strict modified windows). Empty
        for a missing or empty location, a filter that keeps nothing,
        or a listing that failed: the caller then reads the original
        location raw, and the JVM gives its own answer."""
        from sidecar_spark.sources.cached_parquet import (
            _listing_args,
            listing_filter,
        )

        try:
            files = self.cache.list_files(location, spark=self.spark)
        except Exception:  # noqa: BLE001 — listing trouble: read raw
            return []
        return listing_filter(files, *_listing_args(listing or {}))

    def _ship_listing(self, files):
        """Write the read's listing to a driver-local JSONL manifest
        under the cache root and return its path, for the source's
        ``files_manifest`` option: the source's plan stages run in
        worker processes ON THE DRIVER NODE and read it instead of
        listing again. The listing is frozen for the DataFrame's
        lifetime, like the JVM's InMemoryFileIndex. Manifests older
        than an hour are pruned; a pruned or unwritable manifest
        (None) makes the source list itself, correct always."""
        import glob
        import json
        import tempfile
        import time

        try:
            d = os.path.join(self.conf.cache_dir, ".listing_manifests")
            os.makedirs(d, exist_ok=True)
            now = time.time()
            for old in glob.glob(os.path.join(d, "listing-*.jsonl")):
                try:
                    if now - os.path.getmtime(old) > 3600:
                        os.unlink(old)
                except OSError:
                    pass
            fd, mpath = tempfile.mkstemp(prefix="listing-",
                                         suffix=".jsonl", dir=d)
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                for s in files:
                    f.write(json.dumps(
                        {"p": s.path, "l": s.length, "m": s.mtime})
                        + "\n")
        except Exception:  # noqa: BLE001
            return None
        return mpath

    def _maybe_merged_schema_job(self, files, ntz: bool,
                                 nanos_long: bool,
                                 case_sensitive: bool,
                                 binary_as_string: bool = False):
        """mergeSchema planning at LARGE file counts: the plan worker
        process cannot launch Spark jobs, so its footer fold is a
        16-thread pool — honest to ~10k files (round-7 BASELINE.md).
        The Engine HAS a session, so past
        ``MERGE_SCHEMA_JOB_THRESHOLD`` files it pre-folds the footers
        of ``files`` (the read's filtered listing, so no excluded file
        contributes columns) in a SPARK JOB — each task reads its
        slice of footers against ITS node's mirror and left-folds them
        in path order (``merge_structs``); the driver
        folds the per-slice results in slice order (the merge is
        associative in name-case pick, decimal widening and
        column-append order, so the distributed fold equals the
        sequential one) — and ships the merged StructType to the
        source as an option (round-7 verdict #2). Returns None below
        the threshold or on any trouble (the source's own fold then
        applies, correct either way)."""
        if len(files) <= MERGE_SCHEMA_JOB_THRESHOLD:
            return None
        items = sorted(files, key=lambda s: s.path)
        per_task = 256  # footers per task: metadata-only reads
        chunks = [(i, items[i:i + per_task])
                  for i in range(0, len(items), per_task)]

        def fold(mgr, pairs):
            from sidecar_spark.sources.cached_parquet import (
                footer_spark_struct,
                merge_structs,
            )

            for idx, chunk in pairs:
                yield idx, merge_structs(
                    (footer_spark_struct(
                        mgr, st, ntz, nanos_long,
                        binary_as_string=binary_as_string)
                     for st in chunk), case_sensitive).json()

        import json

        from pyspark.sql.types import StructType

        from sidecar_spark.sources.cached_parquet import merge_structs

        try:
            parts = self.cache.run_tasks(self.spark, chunks, fold,
                                         slices=len(chunks))
            return merge_structs(
                (StructType.fromJson(json.loads(js))
                 for _, js in sorted(parts, key=lambda x: x[0])),
                case_sensitive)
        except Exception:  # noqa: BLE001 — job trouble (including a
            # genuine CANNOT_MERGE raised inside a task): fall back to
            # the source's sequential fold, which re-detects real
            # incompatibilities with the clean per-pair message
            return None

    def _open_cost_bytes(self) -> str:
        """The session's spark.sql.files.openCostInBytes (the JVM's
        own small-file packing cost), default 4 MiB."""
        return str(_session_conf(
            self.spark, "spark.sql.files.openCostInBytes", "4194304",
            _parse_bytes))

    def _scan_split_bytes(self) -> int:
        """Byte-range split size for the executor-mode scan: the
        session's ``spark.sidecar.scan.splitBytes`` if set, else
        ``spark.sql.files.maxPartitionBytes`` (same knob the JVM scan
        splits by), else 128 MiB. A file larger than this becomes
        multiple tasks — without it, one big or skewed file
        serializes its whole scan on a single task."""
        for key in ("spark.sidecar.scan.splitBytes",
                    "spark.sql.files.maxPartitionBytes"):
            raw = _session_conf(self.spark, key, None)
            if raw:
                try:
                    return _parse_bytes(str(raw))
                except ValueError:
                    continue
        return 128 * 1024 * 1024

    def warm(self, name: str, sf_dir: Optional[str] = None) -> int:
        """Cluster-wide pre-warm of a table's files into the (node-
        local) mirrors via Spark tasks (CacheManager.warm_distributed —
        the Alluxio distributedLoad shape). Returns files fetched."""
        if self.cache is None:
            return 0
        location = (os.path.join(sf_dir, f"{name}.parquet")
                    if sf_dir else self._location(name))
        return self.cache.warm_distributed(self.spark, location)

    # ---- SQL ------------------------------------------------------------

    def register(self, name: str, sf_dir: Optional[str] = None) -> None:
        self.table(name, sf_dir=sf_dir).createOrReplaceTempView(name)
        self._registered[name] = sf_dir or self.base_dir or ""

    def register_all(self, sf_dir: Optional[str] = None,
                     tables=TPCH_TABLES) -> None:
        if sf_dir is None and self.base_dir is None:
            raise ValueError("Engine has no base_dir; pass sf_dir")
        for t in tables:
            path = os.path.join(sf_dir or self.base_dir, f"{t}.parquet")
            if os.path.exists(path) or "://" in path:
                self.register(t, sf_dir=sf_dir)

    def sql(self, query: str):
        return self.spark.sql(query)

    #: synthetic column carrying the materialized total order of an
    #: ORDER BY result through the parquet entry (monotonically
    #: increasing id taken AFTER the global sort: range partitions are
    #: ordered by partition index, so the id is globally monotone)
    _ORDER_COL = "__sc_ord__"

    @staticmethod
    def _plan_deterministic(df) -> bool:
        """True iff every expression in the analyzed plan is
        deterministic (rand(), uuid(), current_timestamp, ... must
        never be frozen into a cache entry).  Walks the JVM plan;
        falls back to a conservative text scan if the py4j surface
        shifts."""
        try:
            def walk(plan) -> bool:
                exprs = plan.expressions()
                for i in range(exprs.length()):
                    if not exprs.apply(i).deterministic():
                        return False
                ch = plan.children()
                for i in range(ch.length()):
                    if not walk(ch.apply(i)):
                        return False
                return True

            return walk(df._jdf.queryExecution().analyzed())
        except Exception:  # noqa: BLE001 — py4j surface drift
            import re
            text = df._jdf.queryExecution().analyzed().toString().lower()
            return not re.search(
                r"\b(rand|randn|uuid|shuffle|current_timestamp|"
                r"current_date|now|monotonically_increasing_id|"
                r"input_file_name|spark_partition_id)\b", text)

    #: ordered results whose inputs total at most this are written
    #: coalesce(1): the single-file entry then serves hits in file
    #: order, skipping the re-sort entirely (small results only — a
    #: single-partition sort of a big result would bottleneck the
    #: store path)
    _COALESCE_BYTES = 64 * 1024 * 1024

    def _entry_single_split(self, data_dir: str, cached) -> bool:
        """True iff the entry is one parquet file that Spark will scan
        as ONE partition — the case where file row order IS the result
        order and a hit can skip the order-column sort.

        The partition count is asked of the ACTUAL scan
        (``rdd.getNumPartitions()``, no job launched) rather than
        re-deriving Spark's split math (min(maxPartitionBytes,
        max(openCostInBytes, totalBytes/defaultParallelism)) — on a
        many-core session even a few-MB file splits), so the skip can
        never disagree with what Spark will really do."""
        try:
            files = [f for f in os.listdir(data_dir)
                     if f.endswith(".parquet")
                     and not f.startswith(("_", "."))]
            if len(files) != 1:
                return False
            return cached.rdd.getNumPartitions() == 1
        except Exception:  # noqa: BLE001 — fall back to the safe sort
            return False

    @staticmethod
    def _plan_ordered(df) -> bool:
        """True iff the analyzed plan carries a top-level global Sort —
        possibly under order-PRESERVING wrappers (``ORDER BY ... LIMIT``
        analyzes to GlobalLimit(LocalLimit(Sort)); a top projection
        keeps row order too). The one case where a bag-semantics
        parquet hit would observably differ from recomputation."""
        try:
            plan = df._jdf.queryExecution().analyzed()
            for _ in range(8):  # bounded descent
                name = plan.getClass().getSimpleName()
                if name == "Sort":
                    return bool(getattr(plan, "global")())
                if name not in ("GlobalLimit", "LocalLimit", "Project",
                                "Offset"):
                    return False
                ch = plan.children()
                if ch.length() != 1:
                    return False
                plan = ch.apply(0)
            return False
        except Exception:  # noqa: BLE001
            return False

    def sql_cached(self, query: str):
        """``sql`` with the result cache (cache/results.py): the
        result is keyed by md5(query ‖ every resolved input file's
        path+mtime+length) — the page-key self-invalidation idea at
        result granularity, so a changed input or text produces a
        miss and stale entries are never served.  A hit replaces the
        whole plan with a local parquet scan.

        Caching applies only where the key fully describes the
        result: plans whose every input file is a stat-able local
        file and whose expressions are all deterministic.  Anything
        else (empty ``inputFiles()`` — in-memory views, JDBC;
        un-stat-able URIs; rand()/current_timestamp/...) BYPASSES the
        cache and runs normally.  ORDER BY results keep their exact
        materialized order across hits via a persisted order column;
        inputs are re-stat-ed after materialization and the entry is
        discarded (no marker) if any changed mid-write."""
        from sidecar_spark.cache.results import ResultCache

        if self._result_cache is None:
            self._result_cache = ResultCache(
                os.path.join(self.conf.cache_dir, "results"),
                capacity_bytes=self.conf.write_cache_size or None)
        rc = self._result_cache
        df = self.spark.sql(query)

        def stat_inputs():
            out = []
            for uri in df.inputFiles():
                path = uri[len("file:"):] if uri.startswith("file:") else uri
                try:
                    st = os.stat(path)
                except OSError:
                    return None  # non-local / vanished input
                out.append((path, st.st_mtime_ns, st.st_size))
            return out

        inputs = stat_inputs()
        if not inputs or not self._plan_deterministic(df):
            return df  # bypass: key cannot describe the result
        key = rc.key_for(query, inputs)
        hit = rc.lookup(key)
        if hit is not None:
            cached = self.spark.read.parquet(hit)
            if self._ORDER_COL in cached.columns:
                if self._entry_single_split(hit, cached):
                    # one file, one scan partition: file order IS the
                    # materialized order — no re-sort needed
                    cached = cached.drop(self._ORDER_COL)
                else:
                    cached = (cached.orderBy(self._ORDER_COL)
                              .drop(self._ORDER_COL))
            return cached
        ordered = self._plan_ordered(df)
        to_write = df
        if ordered:
            from pyspark.sql.functions import monotonically_increasing_id
            to_write = df.withColumn(
                self._ORDER_COL, monotonically_increasing_id())
            if sum(ln for _, _, ln in inputs) <= self._COALESCE_BYTES:
                to_write = to_write.coalesce(1)
        data = rc.store(
            key,
            lambda d: to_write.write.mode("overwrite").parquet(d),
            query,
            validate_fn=lambda: stat_inputs() == inputs,
            extra_meta={"ordered": ordered})
        out = self.spark.read.parquet(data)
        if self._ORDER_COL in out.columns:
            out = out.orderBy(self._ORDER_COL).drop(self._ORDER_COL)
        return out

    def result_cache_stats(self) -> dict:
        return (self._result_cache.snapshot()
                if self._result_cache is not None else
                {"hits": 0, "misses": 0, "evictions": 0,
                 "entries": 0, "bytes": 0})

    # ---- writes -----------------------------------------------------------

    def write(self, df, location: str, mode: str = "overwrite",
              partition_by: Optional[List[str]] = None) -> None:
        """Write a DataFrame to the remote location and mirror the
        produced files into the write cache (the dual-destination write
        of SURVEY.md §3.2 at file granularity: Spark writes remote,
        then the mirror fill fans over Spark TASKS so each committed
        file is copied on a worker node, never pulled through the
        driver — the reference tees on the writing node
        (``SidecarCachingOutputStream.java:181-223``); at 100 TB output
        a driver-funnel mirror would serialize the whole job's bytes
        through one process. The driver does bookkeeping only
        (``CacheManager.mirror_writes_distributed``)."""
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(location)
        if self.cache is not None and self.cache.write_cache is not None:
            self.cache.mirror_writes_distributed(self.spark, location)

    # ---- observability -------------------------------------------------------

    def cache_stats(self):
        """Counters as a one-row DataFrame (replaces the JMX sink)."""
        if self.cache is None:
            from sidecar_spark.stats import Statistics
            return Statistics().to_df(self.spark)
        return self.cache.stats.to_df(self.spark)

    def close(self) -> None:
        if self.cache is not None:
            # release, not close: the CacheManager is a per-cache_dir
            # singleton other live Engines may share — only the last
            # holder's release shuts it down
            self.cache.release()
            self.cache = None


_BYTE_SUFFIXES = {
    "b": 1, "k": 1024, "kb": 1024, "m": 1024**2, "mb": 1024**2,
    "g": 1024**3, "gb": 1024**3, "t": 1024**4, "tb": 1024**4,
}


def _parse_bytes(raw: str) -> int:
    """Spark byte-size conf string → bytes ("134217728b", "128m",
    "1g", plain digits). Raises ValueError on anything else."""
    s = raw.strip().lower()
    i = len(s)
    while i > 0 and s[i - 1].isalpha():
        i -= 1
    num, suffix = s[:i], s[i:]
    if not num:
        raise ValueError(raw)
    scale = _BYTE_SUFFIXES.get(suffix, None) if suffix else 1
    if scale is None:
        raise ValueError(raw)
    return int(num) * scale
