"""Configuration surface of the engine.

Port of the reference's config model (``SidecarConfig.java:45-155``):
every ``sidecar.*`` key the reference harvests from the Hadoop
``Configuration`` is accepted here, either from a plain ``dict`` /
keyword args or from a live ``SparkConf``/``SparkSession`` where the
keys are carried as ``spark.sidecar.*`` (SURVEY.md §1.3).

Enums mirror ``SidecarDataCacheType.java:20-25``,
``WriteCacheMode.java:20-24`` and ``DataCacheMode.java:20-23``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Mapping, Optional, Sequence

KiB = 1024
MiB = 1024 * 1024


class SidecarDataCacheType(str, Enum):
    """Data-page cache medium (SidecarDataCacheType.java:20-25)."""

    DISABLED = "disabled"
    MEMORY = "memory"
    FILE = "file"
    HYBRID = "hybrid"


class WriteCacheMode(str, Enum):
    """Write-through mirror mode (WriteCacheMode.java:20-24).

    SYNC: remote write completes inline with caller.
    ASYNC_CLOSE: remote upload finishes on a background worker after close.
    ASYNC_COPY: file is written locally first and copied to remote async.
    """

    DISABLED = "disabled"
    SYNC = "sync"
    ASYNC_CLOSE = "async_close"
    ASYNC_COPY = "async_copy"


class DataCacheMode(str, Enum):
    """Cache-on-read admission mode (DataCacheMode.java:20-23)."""

    ALL = "all"
    NOT_IN_WRITE_CACHE = "not_in_write_cache"
    MINSIZE = "minsize"


# key suffix (after the "sidecar." prefix) -> dataclass field name
_KEYMAP = {
    "write.cache.uri": "write_cache_uri",
    "write.cache.size": "write_cache_size",
    "data.page.size": "data_page_size",
    "io.buffer.size": "io_buffer_size",
    "data.cache.type": "data_cache_type",
    "cache.persistent": "cache_persistent",
    "caching.hint.detector.impl": "hint_detector",
    "thread.pool.max.size": "thread_pool_size",
    "read.exclude.path.list": "read_exclude_paths",
    "write.include.path.list": "write_include_paths",
    "write.cache.mode": "write_cache_mode",
    "remote.files.mutable": "remote_files_mutable",
    "data.cache.mode": "data_cache_mode",
    "cache.minsize.threshold": "minsize_threshold",
    "scan.detector.enabled": "scan_detector_enabled",
    "scan.detector.threshold.pages": "scan_detector_threshold",
    "write.cache.exclude.list": "write_exclude_paths",
    # engine-side additions (not in the reference)
    "cache.dir": "cache_dir",
    "data.cache.size": "data_cache_size",
    "auto.warm.bytes": "auto_warm_bytes",
    "resolve.mode": "resolve_mode",
    "mirror.size": "mirror_size",
}

# reference keys accepted and ignored, so reference configs still load:
# nothing here has their subject — no JMX beans, no test mode, no JVM
# shutdown hook (the owning Engine closes the manager), and the I/O
# work runs on the one pool sized by thread.pool.max.size
_IGNORED_KEYS = {
    "io.pool.size",
    "jmx.metrics.enabled",
    "jmx.metrics.domain.name",
    "test.mode",
    "install.shutdown.hook",
}

_TRUE = {"true", "1", "yes", "on"}


def _to_bool(v: Any) -> bool:
    if isinstance(v, bool):
        return v
    return str(v).strip().lower() in _TRUE


def _to_int(v: Any) -> int:
    if isinstance(v, (int, float)):
        return int(v)
    s = str(v).strip().lower()
    m = re.fullmatch(r"(\d+)\s*([kmgt]i?b?)?", s)
    if not m:
        raise ValueError(f"cannot parse size/int: {v!r}")
    n = int(m.group(1))
    unit = (m.group(2) or "").rstrip("ib").rstrip("i")
    return n * {"": 1, "k": KiB, "m": MiB, "g": MiB * KiB, "t": MiB * MiB}[unit]


def _to_list(v: Any) -> tuple:
    if v is None:
        return ()
    if isinstance(v, (list, tuple)):
        return tuple(v)
    # strip surviving items: "a.*, b.*" must yield "b.*", not " b.*" —
    # patterns are fullmatch'd against paths, and a leading space can
    # never match, silently disabling the exclude
    return tuple(p.strip() for p in str(v).split(",") if p.strip())


@dataclass
class SidecarConfig:
    """All reference config keys with their defaults
    (SidecarConfig.java:45-155), as a Python dataclass.
    """

    # write cache
    write_cache_uri: Optional[str] = None  # sidecar.write.cache.uri
    write_cache_size: int = 0  # sidecar.write.cache.size (0 = unlimited/disabled check)
    write_cache_mode: WriteCacheMode = WriteCacheMode.SYNC  # sidecar.write.cache.mode
    write_include_paths: tuple = ()  # sidecar.write.include.path.list (regexes)
    write_exclude_paths: tuple = ()  # sidecar.write.cache.exclude.list (regexes)

    # data (page) cache
    data_page_size: int = 1 * MiB  # sidecar.data.page.size
    io_buffer_size: int = 4 * MiB  # sidecar.io.buffer.size (prefetch)
    data_cache_type: SidecarDataCacheType = SidecarDataCacheType.FILE
    data_cache_mode: DataCacheMode = DataCacheMode.ALL
    data_cache_size: int = 0  # engine addition: page-store capacity (0 = unlimited)
    # engine addition: file-mirror capacity; 0 = inherit
    # data_cache_size. Sizing them apart lets a node keep a healthy
    # page store for remote-streamed (mirror-vetoed) tables while the
    # whole-file mirror stays bounded (sidecar.mirror.size)
    mirror_size: int = 0
    minsize_threshold: int = 100 * MiB  # sidecar.cache.minsize.threshold
    # engine addition: a COLD table at/over this many admitted bytes is
    # filled by Spark tasks during resolve, so big cold reads never
    # pull their bytes through the driver, and a commit of this many
    # bytes is write-mirrored by tasks; below it the in-process fill is
    # cheaper than a Spark job (CacheManager._on_tasks). 0 disables
    # the task fills.
    auto_warm_bytes: int = 256 * MiB
    # engine addition: where table reads resolve against the mirror.
    # "driver" (default): the driver resolves hit/materialize/remote
    # and hands Spark concrete paths — correct whenever the mirror
    # root is reachable from every scan task (local[k], shared NVMe/
    # NFS). "executor": each scan TASK resolves against the
    # CacheManager on ITS node (sources/cached_parquet.py) — the
    # real-cluster deployment, where node-local mirrors differ and a
    # driver-resolved local path would not exist on other machines.
    resolve_mode: str = "driver"  # sidecar.resolve.mode
    read_exclude_paths: tuple = ()  # sidecar.read.exclude.path.list (regexes)

    # admission / hints
    scan_detector_enabled: bool = False  # sidecar.scan.detector.enabled
    scan_detector_threshold: int = 10  # sidecar.scan.detector.threshold.pages
    # caching-hint SPI (hints/CachingHintDetector.java:22-39): the
    # reference's impl sniffs thread stacks; our port is an explicit
    # callback `should_cache(path, op) -> bool` with op in
    # {"read", "write"} — either a callable or a "module:attr" /
    # dotted import string (sidecar.caching.hint.detector.impl)
    hint_detector: Any = None

    # lifecycle
    cache_persistent: bool = True  # sidecar.cache.persistent
    remote_files_mutable: bool = False  # sidecar.remote.files.mutable
    thread_pool_size: int = 8  # sidecar.thread.pool.max.size

    # engine-side root for all local cache state (pages, mirror, snapshots)
    cache_dir: Optional[str] = None

    # eviction watermarks (hardcoded in the reference,
    # SidecarCachingFileSystem.java:124-129)
    eviction_start_occupancy: float = 0.95
    eviction_stop_occupancy: float = 0.90

    _compiled: dict = field(default_factory=dict, repr=False)

    # ---- construction -------------------------------------------------

    @classmethod
    def from_mapping(cls, conf: Mapping[str, Any]) -> "SidecarConfig":
        """Build from a flat mapping whose keys may be spelled
        ``sidecar.x.y``, ``spark.sidecar.x.y`` or ``x.y``.
        Unknown ``sidecar.*`` keys raise (the reference silently carries
        them; we fail fast instead)."""
        kwargs: dict = {}
        for raw_key, value in conf.items():
            key = raw_key
            for prefix in ("spark.sidecar.", "sidecar."):
                if key.startswith(prefix):
                    key = key[len(prefix):]
                    break
            else:
                if raw_key not in _KEYMAP:
                    continue  # non-sidecar spark key
            if key in _IGNORED_KEYS:
                continue
            fname = _KEYMAP.get(key)
            if fname is None:
                raise KeyError(f"unknown sidecar config key: {raw_key}")
            kwargs[fname] = value
        return cls.create(**kwargs)

    @classmethod
    def from_spark(cls, spark) -> "SidecarConfig":
        """Harvest ``spark.sidecar.*`` keys from a live SparkSession
        (mirror of SidecarConfig.java:162-189 harvesting hadoop conf)."""
        all_conf = spark.sparkContext.getConf().getAll()
        picked = {k: v for k, v in all_conf if k.startswith("spark.sidecar.")}
        # runtime conf can override
        try:
            for k, v in spark.conf.getAll.items():  # pyspark>=3.4 property
                if k.startswith("spark.sidecar."):
                    picked[k] = v
        except Exception:
            pass
        return cls.from_mapping(picked)

    @classmethod
    def create(cls, **kwargs: Any) -> "SidecarConfig":
        """Typed constructor: coerces strings to the right types."""
        coerced: dict = {}
        for k, v in kwargs.items():
            if k in ("write_cache_size", "data_page_size", "io_buffer_size",
                     "thread_pool_size", "minsize_threshold",
                     "scan_detector_threshold", "data_cache_size",
                     "auto_warm_bytes", "mirror_size"):
                coerced[k] = _to_int(v)
            elif k in ("cache_persistent", "remote_files_mutable",
                       "scan_detector_enabled"):
                coerced[k] = _to_bool(v)
            elif k == "data_cache_type":
                coerced[k] = SidecarDataCacheType(str(v).lower()) if not isinstance(v, SidecarDataCacheType) else v
            elif k == "write_cache_mode":
                coerced[k] = WriteCacheMode(str(v).lower()) if not isinstance(v, WriteCacheMode) else v
            elif k == "data_cache_mode":
                coerced[k] = DataCacheMode(str(v).lower()) if not isinstance(v, DataCacheMode) else v
            elif k in ("read_exclude_paths", "write_include_paths", "write_exclude_paths"):
                coerced[k] = _to_list(v)
            else:
                coerced[k] = v
        return cls(**coerced)

    # ---- serialization across the DataSource option boundary -----------

    def to_json(self) -> str:
        """Lossless JSON of every plain field — the Python DataSource
        API carries options as strings only, so the executor-resolve
        scan (sources/cached_parquet.py) ships its configuration this
        way. ``hint_detector`` crosses only as an import string (a
        callable cannot be JSON-carried — which is also how
        ``CacheManager.run_tasks`` drops it from task closures)."""
        import dataclasses
        import json

        out = {}
        for f in dataclasses.fields(self):
            if f.name == "_compiled":
                continue
            v = getattr(self, f.name)
            if f.name == "hint_detector":
                if v is None or isinstance(v, str):
                    out[f.name] = v
                continue  # callable: not serializable — dropped
            if isinstance(v, (SidecarDataCacheType, WriteCacheMode,
                              DataCacheMode)):
                v = v.value
            elif isinstance(v, tuple):
                v = list(v)
            out[f.name] = v
        return json.dumps(out)

    @classmethod
    def from_json(cls, s: str) -> "SidecarConfig":
        import json

        return cls.create(**json.loads(s))

    # ---- path predicates ----------------------------------------------

    def _patterns(self, which: str) -> Sequence[re.Pattern]:
        pats = self._compiled.get(which)
        if pats is None:
            pats = [re.compile(p) for p in getattr(self, which)]
            self._compiled[which] = pats
        return pats

    def _matches(self, which: str, path: str) -> bool:
        """Whole-path regex match (semantics of Utils.inExcludeList —
        util/TestUtilMethods.java:30-61: patterns match the WHOLE path)."""
        return any(p.fullmatch(path) for p in self._patterns(which))

    def read_excluded(self, path: str) -> bool:
        return self._matches("read_exclude_paths", path)

    # ---- caching-hint SPI ---------------------------------------------

    def resolve_hint(self):
        """Resolve ``hint_detector`` to a callable
        ``should_cache(path, op) -> bool`` (op ∈ {"read", "write"}), or
        None. Accepts a callable directly or an import string
        ("pkg.mod:attr" or dotted "pkg.mod.attr")."""
        h = self.hint_detector
        if h is None or callable(h):
            return h
        import importlib

        spec = str(h)
        if ":" in spec:
            mod, attr = spec.split(":", 1)
        else:
            mod, _, attr = spec.rpartition(".")
        fn = getattr(importlib.import_module(mod), attr)
        if not callable(fn):
            raise TypeError(f"hint detector {spec} is not callable")
        return fn

    def should_cache(self, path: str, op: str) -> bool:
        """Admission hint (True = allowed to cache). Errors in user
        hints never fail the I/O path — they just allow caching."""
        fn = self.resolve_hint()
        if fn is None:
            return True
        try:
            return bool(fn(path, op))
        except Exception:  # noqa: BLE001
            return True

    def write_excluded(self, path: str) -> bool:
        """Excluded from write caching (SidecarCachingFileSystem.java:650-658):
        if an include list exists, anything NOT matching it is excluded;
        additionally anything matching the exclude list is excluded."""
        if self.write_include_paths and not self._matches("write_include_paths", path):
            return True
        return self._matches("write_exclude_paths", path)
