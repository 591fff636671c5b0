"""Hive-style partition handling for the cached table read paths.

Spark derives partition COLUMNS from ``key=value`` directory segments
between the table root and each data file. The reference never sees
this problem — it is a Hadoop FileSystem, so Spark still walks the
real directory tree through it. Our file-granular resolve hands Spark
concrete file paths instead, which strips the directories — without
the helpers here, a partitioned table would silently lose its
partition columns (caught by a round-5 probe; pinned in
tests/test_partitioned_tables.py).

Two consumers:

* driver mode (``Engine.read_parquet``): rebuild the ``key=value``
  tree as a content-addressed SYMLINK view over the mirror copies and
  hand Spark the view root with ``basePath`` — zero data copies, and
  Spark's own partition discovery (types, pruning) works unchanged;
* executor mode (``sources/cached_parquet.py``): each task appends
  the partition columns to its Arrow batches from the file's relative
  path; ``infer_partition_types`` below replicates Spark's
  ``inferPartitionColumnValue`` ladder so the two modes expose
  identical schemas.

The inference ladder and widening rules were pinned against the JVM
scan empirically (round-6 probe, tests/test_partition_inference.py):

* value ladder: Java int → Java long → decimal (textual scale ≤ 0,
  ≤ 38 digits — so ``1e5`` → decimal(6,0), 21-digit ints →
  decimal(21,0)) → double (incl. ``NaN``/``Infinity``; 45-digit ints
  land here) → date (strict padded ``yyyy-MM-dd``, valid calendar) →
  timestamp (strict ``yyyy-MM-dd HH:mm:ss``, NO fraction, NO ``T``) →
  string;
* per-column widening: int+bigint → bigint; int/bigint/decimal →
  decimal(max precision, int=10, bigint=20); int/bigint+double →
  double; decimal+double → STRING (Spark's explicit special case);
  date+timestamp → timestamp; nulls defer to the rest (all-null →
  void); anything else → string;
* keys merge case-INsensitively; the surviving column name takes the
  case of the first directory in sorted-path order (probe:
  ``b=1`` + ``B=2`` → column ``B``).
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import os
import re
import threading
import time
from typing import Dict, List, Optional, Sequence, Tuple
from urllib.parse import unquote

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

#: symlink views older than this are rebuilt elsewhere and swept.
#: 7 days, not hours: a long-lived lazy DataFrame in ANOTHER process
#: may still reference an old view — its mtime is only refreshed when
#: a resolve reuses it, so the sweep age must exceed any plausible
#: plan lifetime (ADVICE r5). Views returned by THIS process are never
#: swept at all (``_LIVE_VIEWS``).
VIEW_SWEEP_AGE_S = 7 * 24 * 3600.0

_LIVE_VIEWS: set = set()
_LIVE_LOCK = threading.Lock()


def partition_spec(root: str, file_path: str) -> List[Tuple[str, str]]:
    """``key=value`` segments between table root and the file, in
    order; ``[]`` for an unpartitioned (or non-hive) location. Prefer
    ``partition_spec_strict`` when the caller must distinguish a clean
    root-level file from a non-hive nested layout."""
    return partition_spec_strict(root, file_path) or []


def partition_spec_strict(
        root: str, file_path: str) -> Optional[List[Tuple[str, str]]]:
    """``key=value`` segments between table root and the file, in
    order. ``[]`` when the file sits directly under the root;
    ``None`` when an intermediate directory is NOT ``key=value`` (a
    layout Spark's partition discovery refuses — the caller should
    fall back to scanning the original root so the JVM's own
    semantics apply verbatim). BOTH key and value stay RAW
    (URL-encoded, hive null sentinel intact): the symlink view rebuild
    must round-trip the exact directory names (decoding there would
    make Spark's rediscovery decode TWICE), so decoding happens only
    at use (``decode_key`` / ``decode_value``)."""
    root = root.rstrip("/")
    if file_path.rstrip("/") == root:
        return []  # the location IS a single data file
    if not file_path.startswith(root + "/"):
        return None
    rel = file_path[len(root) + 1:]
    out = []
    for seg in rel.split("/")[:-1]:
        if "=" not in seg:
            return None  # non-hive layout
        k, _, v = seg.partition("=")
        out.append((k, v))
    return out


def layout_specs(root: str, files) -> Optional[List[List[Tuple[str, str]]]]:
    """Per-file hive specs for a table listing, or ``None`` when the
    layout is not a clean uniform hive tree — a non-``key=value``
    intermediate directory, files at mixed depths (root file next to
    ``k=...`` dirs), or conflicting key sequences across files. The
    JVM scan errors or silently drops files on those layouts; callers
    get parity by reading the ORIGINAL root raw instead of resolving
    (Engine) or by refusing with a clear message (executor source).

    Keys that appear with CONFLICTING case across directories
    (``b=1`` next to ``B=2``) also return ``None``: the JVM names the
    merged column after whichever path its internal hash map iterates
    first — unreproducible from here (probed) — so a silent pick
    would risk a silently different schema. ``files`` is a sequence
    with ``.path`` attributes (FileStat)."""
    specs: List[List[Tuple[str, str]]] = []
    shapes = set()
    case_of: Dict[str, str] = {}
    for st in files:
        spec = partition_spec_strict(root, st.path)
        if spec is None:
            return None
        specs.append(spec)
        shapes.add(tuple(decode_key(k).lower() for k, _ in spec))
        for raw_k, raw_v in spec:
            if raw_v == "":
                return None  # k= (empty value): the JVM scan refuses
            k = decode_key(raw_k)
            if case_of.setdefault(k.lower(), k) != k:
                return None  # case-conflicting key names
    if len(shapes) > 1:
        return None
    return specs


def decode_key(raw: str) -> str:
    return unquote(raw)


def decode_value(raw: str) -> Optional[str]:
    if raw == HIVE_NULL:
        return None
    return unquote(raw)


# ---- value-type inference (JVM inferPartitionColumnValue parity) --------

_INT_RE = re.compile(r"[+-]?\d+")
# JBigDecimal grammar (sign, digits, optional fraction, optional
# exponent) — Java rejects underscores, hex and whitespace, which
# Python's int()/float() accept
_DEC_RE = re.compile(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?")
# Double.parseDouble (the ladder's LAST numeric try) additionally
# accepts leading/trailing chars <= U+0020 (String.trim), exact-case
# NaN/Infinity (signed, NO type suffix), f/F/d/D suffixes on numeric
# forms, and hex floats — all probed against the live JVM scan
_JAVA_TRIM = "".join(chr(c) for c in range(0x21))
_JAVA_DBL_SPECIAL_RE = re.compile(r"[+-]?(NaN|Infinity)")
_JAVA_DBL_RE = re.compile(
    r"[+-]?("
    r"(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?"
    r"|0[xX]([0-9a-fA-F]+\.?[0-9a-fA-F]*|[0-9a-fA-F]*\.[0-9a-fA-F]+)"
    r"[pP][+-]?\d+"
    r")[fFdD]?")
_DATE_RE = re.compile(r"\d{4}-\d{2}-\d{2}")
# Spark's default TimestampFormatter pattern is exact: space
# separator, no fractional seconds ('T' or '.5' → string; probed)
_TS_RE = re.compile(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}")

#: int/bigint treated as decimal(10/20,0) when widened with a decimal
_INTEGRAL_DECIMAL_PRECISION = {"int": 10, "bigint": 20}


def java_parse_double(v: str) -> Optional[float]:
    """``Double.parseDouble`` semantics (probed): trim chars ≤ U+0020,
    exact-case NaN/Infinity (signed, no suffix), decimal or hex-float
    numeric forms with optional f/F/d/D suffix. None when Java would
    throw."""
    s = v.strip(_JAVA_TRIM)
    if _JAVA_DBL_SPECIAL_RE.fullmatch(s):
        return float(s.replace("Infinity", "inf").replace("NaN", "nan"))
    if not _JAVA_DBL_RE.fullmatch(s):
        return None
    if s and s[-1] in "fFdD":
        s = s[:-1]
    try:
        return float(s)
    except ValueError:
        try:
            return float.fromhex(s)  # 0x1p3 → 8.0
        except ValueError:
            return None


def infer_value_type(v: str) -> Tuple[str, Optional[int]]:
    """One decoded partition value → (kind, decimal precision|None),
    following the probed JVM ladder exactly."""
    # Integer/Long.parseInt reject anything beyond ~19 SIGNIFICANT
    # digits (overflow) but accept leading zeros of any length — gate
    # on significant digits, not raw length, so a zero-padded
    # "0...001" stays int like the JVM (round-6 advice #3) while a
    # 5000-digit value never materializes a giant Python int
    if _INT_RE.fullmatch(v):
        digits = v.lstrip("+-").lstrip("0") or "0"
        if len(digits) <= 19:
            i = int(v[0] + digits if v[0] in "+-" else digits)
            if -2**31 <= i < 2**31:
                return ("int", None)
            if -2**63 <= i < 2**63:
                return ("bigint", None)
        # beyond int64 falls through to the decimal/double tries
    if _DEC_RE.fullmatch(v):
        d = decimal.Decimal(v)  # preserves textual scale like JBigDecimal
        tup = d.as_tuple()
        scale = -tup.exponent
        if scale <= 0:
            # precision of the integer value WITHOUT materializing it
            # (a value like 1e999999999 must not build a giant int):
            # mantissa digits + positive exponent; all-zero mantissa
            # collapses to precision 1 (JBigDecimal("0e5") → 0)
            if not any(tup.digits):
                precision = 1
            else:
                precision = len(tup.digits) + (-scale)
            if precision <= 38:
                return ("decimal", precision)
        return ("double", None)  # Double.parseDouble accepts all of these
    if java_parse_double(v) is not None:
        return ("double", None)
    if _DATE_RE.fullmatch(v):
        try:
            y, m, dd = v.split("-")
            datetime.date(int(y), int(m), int(dd))
            return ("date", None)
        except ValueError:
            pass  # 2024-01-32: cast returns null → JVM falls through
    if _TS_RE.fullmatch(v):
        try:
            datetime.datetime.strptime(v, "%Y-%m-%d %H:%M:%S")
            return ("timestamp", None)
        except ValueError:
            pass
    return ("string", None)


def _widen(a: Optional[Tuple[str, Optional[int]]],
           b: Tuple[str, Optional[int]]) -> Tuple[str, Optional[int]]:
    """Fold two inferred value types into the column type, per the
    probed JVM widening (findWiderTypeForPartitionColumn)."""
    if a is None:
        return b
    if a == b:
        return a
    ka, kb = a[0], b[0]
    kinds = {ka, kb}
    if kinds <= {"int", "bigint"}:
        return ("bigint", None)
    if kinds <= {"int", "bigint", "decimal"}:
        pa_ = a[1] if ka == "decimal" else _INTEGRAL_DECIMAL_PRECISION[ka]
        pb_ = b[1] if kb == "decimal" else _INTEGRAL_DECIMAL_PRECISION[kb]
        return ("decimal", max(pa_, pb_))
    if kinds <= {"int", "bigint", "double"}:
        return ("double", None)
    if kinds == {"decimal", "double"}:
        return ("string", None)  # Spark's explicit special case
    if kinds <= {"date", "timestamp"}:
        return ("timestamp", None)
    return ("string", None)


def infer_partition_types(
        specs: Sequence[Sequence[Tuple[str, str]]]) -> List[Tuple[str, str]]:
    """(column name, spark type ddl) per partition column. Pass specs
    in SORTED-file-path order: keys merge case-insensitively and the
    column name takes the first directory's case in that order (JVM
    parity, probed). All-null columns type as ``void`` (NullType),
    exactly as the JVM scan does."""
    names: List[str] = []          # display names, first-seen order
    canon: Dict[str, str] = {}     # lower -> display
    values: Dict[str, List[str]] = {}
    for spec in specs:
        for raw_k, v in spec:
            k = decode_key(raw_k)
            lk = k.lower()
            if lk not in canon:
                canon[lk] = k
                names.append(k)
                values[lk] = []
            if v != HIVE_NULL:
                values[lk].append(decode_value(v))

    def one(vals: List[str]) -> str:
        agg: Optional[Tuple[str, Optional[int]]] = None
        for v in vals:
            agg = _widen(agg, infer_value_type(v))
            if agg[0] == "string":
                break
        if agg is None:
            return "void"
        if agg[0] == "decimal":
            return f"decimal({agg[1]},0)"
        return agg[0]

    return [(name, one(values[name.lower()])) for name in names]


def build_symlink_view(view_base: str,
                       pairs: Sequence[Tuple[str, str]]) -> str:
    """Materialize ``key=value`` structure as symlinks to local files.

    ``pairs`` is (relative path incl. partition dirs, local file
    path). The view dir is content-addressed by the pair set, so a
    repeat resolve of the same snapshot reuses it; a changed snapshot
    (new files, new file versions → new mirror names) gets a fresh dir.
    Aged views are swept (they are symlink-only — cheap), EXCEPT any
    view this process has ever returned: a lazy DataFrame may hold a
    plan over it indefinitely."""
    digest = hashlib.md5(
        "\n".join(f"{r}\t{l}" for r, l in sorted(pairs)).encode()
    ).hexdigest()
    root = os.path.join(view_base, digest)
    done = os.path.join(root, ".complete")
    if os.path.exists(done):
        os.utime(root, None)  # refresh for the sweep
        with _LIVE_LOCK:
            _LIVE_VIEWS.add(root)
        return root
    now = time.time()
    try:
        with _LIVE_LOCK:
            live = set(_LIVE_VIEWS)
        for name in os.listdir(view_base):
            p = os.path.join(view_base, name)
            if p in live:
                continue  # referenced by a plan in this process
            try:
                if now - os.path.getmtime(p) > VIEW_SWEEP_AGE_S:
                    import shutil

                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    except OSError:
        pass
    tmp = f"{root}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for rel, local in pairs:
        dst = os.path.join(tmp, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.symlink(local, dst)
        except FileExistsError:
            pass
    with open(os.path.join(tmp, ".complete"), "w"):
        pass
    try:
        os.rename(tmp, root)  # atomic publish
    except OSError:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)  # concurrent winner
    with _LIVE_LOCK:
        _LIVE_VIEWS.add(root)
    return root
