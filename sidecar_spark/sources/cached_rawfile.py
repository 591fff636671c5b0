"""Executor-side cached ``text`` + ``binaryFile`` sources.

The reference caches EVERY file format because it IS a FileSystem —
``SidecarCachingFileSystem.java:1596-1619`` serves any ``open()`` the
application makes, byte-transparent. The executor-mode Python sources
brought parquet and ORC onto that cached real-cluster read path; csv
and json stay raw by the refuse-to-guess policy (their Spark schema
INFERENCE cannot be reproduced from Python without silent divergence,
PARITY.md). ``text`` and ``binaryFile`` have FIXED schemas — there is
no inference to reproduce — so they are implementable at parity, and
``binaryFile`` is the multimodal training-corpus ingest format
(images/audio/docs land as files, not rows), closing the loop between
the capability port and the LLM-pipeline mission (VERDICT r7 #1).

Everything below is live-JVM probed (tests/test_cached_rawfile.py):

``binaryFile`` (fixed schema ``path string, modificationTime
timestamp, length long, content binary``, all nullable):

* ``path`` renders the Hadoop ``Path.toString`` form — scheme-less
  local paths become ``file:/abs/path`` (single slash), URI paths
  pass through;
* ``modificationTime`` is the listing mtime at MILLISECOND precision
  (Java ``FileStatus.getModificationTime``) rendered in the session
  zone;
* EMPTY files produce NO row (probed: a 0-byte file next to a 1-byte
  file yields one row) — Spark plans no splits for length-0 files;
* hive partition discovery applies (probed: ``k=1`` dirs append a
  typed ``k`` column); ``recursiveFileLookup=true`` flattens and
  drops partition columns (probed);
* ``pathGlobFilter`` matches the file BASENAME only (probed:
  ``*k=1*`` matches nothing, ``a*``/``*.bin`` match);
* files longer than ``spark.sql.sources.binaryFile.maxLength`` fail
  the read with the JVM's message (probed);
* not splittable: one task per file. Requesting no ``content`` column
  (an explicit projection) never opens the file at all — at 100 TB a
  metadata-only scan (count, length histogram) moves zero data bytes.

``text`` (fixed schema ``value string`` nullable + partition cols):

* default framing is Hadoop's LineRecordReader: lines terminate at
  ``\\n``, ``\\r\\n`` or lone ``\\r`` (probed:
  ``one\\ntwo\\r\\nthree\\rfour`` → four lines), the terminator is
  excluded, a trailing terminator adds no empty row, an unterminated
  tail IS a row, an empty file has no rows;
* custom ``lineSep`` (any byte string) splits on EXACTLY it (probed:
  ``a\\nb|c`` with ``|`` → ``['a\\nb','c']``; trailing separator adds
  no empty row: ``a|b||c|`` → ``['a','b','','c']``);
* ``wholetext=true``: one row per file with every byte, empty files
  produce NO row (probed), not splittable;
* bytes flow into Spark UNVALIDATED (Arrow string buffers built
  directly, no Python decode), so invalid UTF-8 behaves exactly like
  the JVM's UTF8String passthrough (probed: byte-identical
  ``length()``/collect vs the JVM scan);
* splits: default-framed files split by byte ranges under the rule
  "a line belongs to the split containing its START (first split
  owns position 0; boundaries: start < p <= end)" — Hadoop's
  LineRecordReader assignment, self-synchronizing for the 1-2 byte
  terminator set including the ``\\r\\n``-straddles-a-boundary edge.
  Custom-``lineSep`` files are NOT split: a self-overlapping
  separator (``XX``, ``aba``) makes local re-synchronization
  ambiguous in general, and a wrong split is a silent wrong result —
  one task per file is the honest choice (the multiset of rows is
  identical either way).

Scale shape: identical to the parquet source — the driver moves zero
data bytes, each task resolves ITS file against ITS node's mirror
(hit-or-materialize-or-remote, ``_read_file_batches``), vetoed tables
stream through the node-local page store. Length filters pushed onto
``binaryFile`` prune whole files at plan time (files the predicate
provably excludes are never listed into partitions — Spark still
re-applies every filter as residual).
"""

from __future__ import annotations

from sidecar_spark.sources.cached_parquet import (
    _BATCH_ROWS,
    CachedParquetReader,
    CachedParquetSource,
    PruningCachedParquetReader,
    _ddl_type,
    _flag,
    _read_file_batches,
)

#: flush a value batch when the accumulated line bytes exceed this —
#: keeps int32 string offsets safe and batches executor-memory-sized
_BATCH_BYTES = 64 * 1024 * 1024

#: JVM default for spark.sql.sources.binaryFile.maxLength
_MAX_INT = 2147483647

#: binaryFile's fixed columns, in schema order
_BINARY_COLUMNS = ("path", "modificationTime", "length", "content")

_CHUNK = 4 * 1024 * 1024

#: Hadoop compression-codec extensions the JVM text/csv/json readers
#: decompress transparently, probed against the live JVM (round 9,
#: tests/test_codec_text.py): extension match is on the LAST dot
#: suffix, case-INsensitive (``.GZ``/``.Gzip`` decompress; ``.tgz``/
#: ``.gz2``/``.bz``/``.sz`` serve raw bytes — no content sniffing
#: either: gzip bytes in a ``.txt`` come through verbatim).
#: binaryFile NEVER decompresses (probed: raw bytes, physical length).
_CODEC_EXTS = {
    "gz": "gzip", "gzip": "gzip",
    "bz2": "bzip2",
    "deflate": "zlib",          # zlib-wrapped (raw deflate errors, probed)
    "zst": "zstd", "zstd": "zstd",
    "lz4": "hadoop-lz4",        # Hadoop block framing, not lz4-frame
    "snappy": "hadoop-snappy",  # Hadoop block framing
}


def codec_of(path: str):
    """The Hadoop codec name for ``path``'s extension, or None for a
    plain (splittable) file. Matches the JVM's CompressionCodecFactory
    behavior as probed: last suffix only, case-insensitive."""
    base = path.rsplit("/", 1)[-1]
    if "." not in base:
        return None
    return _CODEC_EXTS.get(base.rsplit(".", 1)[-1].lower())


def _hadoop_block_chunks(fobj, decompress_one):
    """Stream-decode Hadoop's BlockCompressorStream framing (used by
    its Lz4Codec and SnappyCodec): repeated
    ``[4B BE uncompressed-block-len][chunks: 4B BE compressed-len +
    compressed bytes, until the block is produced]``. Verified
    byte-exact against multi-block Spark-written .lz4/.snappy files
    (tests/test_codec_text.py)."""
    def read_exact(n):
        buf = b""
        while len(buf) < n:
            c = fobj.read(n - len(buf))
            if not c:
                if buf:
                    raise OSError("truncated Hadoop codec block header")
                return None
            buf += c
        return buf

    while True:
        hdr = read_exact(4)
        if hdr is None:
            return
        ulen = int.from_bytes(hdr, "big")
        got = 0
        while got < ulen:
            chdr = read_exact(4)
            if chdr is None:
                raise OSError("truncated Hadoop codec block")
            clen = int.from_bytes(chdr, "big")
            chunk = read_exact(clen)
            if chunk is None:
                raise OSError("truncated Hadoop codec block")
            dec = decompress_one(chunk, ulen - got)
            got += len(dec)
            yield dec


def _codec_chunks(fobj, codec):
    """Yield decompressed byte chunks of ``fobj``'s full stream under
    ``codec``. Every codec handles concatenated members/streams the
    way the JVM does (probed: gzip, bzip2, zlib and zstd all read
    multi-member files fully; trailing garbage after a gzip member is
    a read ERROR there and raises here)."""
    if codec == "gzip":
        # incremental inflate (wbits=31 = gzip framing), NOT
        # GzipFile: a truncated stream must deliver every decodable
        # byte BEFORE the error — the JVM's Inflater does, and
        # ignoreCorruptFiles keeps those partial rows (probed P4c) —
        # while GzipFile.read(n) loses everything decoded inside the
        # failing call. Multi-member files loop like the zlib branch
        # (probed: the JVM reads concatenated members fully; trailing
        # garbage raises).
        import zlib

        d = zlib.decompressobj(31)
        pending = b""
        while True:
            data = pending or fobj.read(_CHUNK)
            pending = b""
            if not data:
                if not d.eof:
                    raise EOFError(
                        "Compressed file ended before the "
                        "end-of-stream marker was reached")
                return
            out = d.decompress(data)
            if out:
                yield out
            if d.eof:
                tail = d.unused_data
                if not tail:
                    tail = fobj.read(_CHUNK)
                    if not tail:
                        return
                d = zlib.decompressobj(31)
                pending = tail
    elif codec in ("bzip2", "zlib"):
        # multi-stream loop: finish one member, feed its unused tail
        # to a fresh decompressor (both stdlib decompressors stop at
        # member end); non-codec trailing bytes raise, like the JVM
        import bz2
        import zlib

        make = (bz2.BZ2Decompressor if codec == "bzip2"
                else zlib.decompressobj)
        d = make()
        pending = b""
        while True:
            data = pending or fobj.read(_CHUNK)
            pending = b""
            if not data:
                return
            out = d.decompress(data)
            if out:
                yield out
            tail = getattr(d, "unused_data", b"")
            if tail:
                d = make()
                pending = tail
    elif codec == "zstd":
        import pyarrow as pa

        stream = pa.CompressedInputStream(pa.PythonFile(fobj, "r"),
                                          "zstd")
        while True:
            c = stream.read(_CHUNK)
            if not c:
                return
            yield bytes(c)
    elif codec == "hadoop-lz4":
        import pyarrow as pa

        c = pa.Codec("lz4_raw")
        yield from _hadoop_block_chunks(
            fobj, lambda b, n: c.decompress(b, n, asbytes=True))
    elif codec == "hadoop-snappy":
        import pyarrow as pa

        c = pa.Codec("snappy")

        def one(b, n):
            # a raw snappy block leads with its decompressed length
            # as a varint — exact even when a Hadoop block was split
            # into several compressed chunks (pa demands exact sizes)
            size = shift = 0
            for byte in b[:5]:
                size |= (byte & 0x7F) << shift
                if not byte & 0x80:
                    break
                shift += 7
            return c.decompress(b, size, asbytes=True)

        yield from _hadoop_block_chunks(fobj, one)
    else:  # pragma: no cover — codec_of only returns the names above
        raise ValueError(f"unknown codec {codec!r}")


def expand_braces(pattern: str):
    """Hadoop-glob ``{a,b}`` alternation → the list of expanded
    patterns (recursive, leftmost-first)."""
    i = pattern.find("{")
    if i < 0:
        return [pattern]
    depth = 0
    for j in range(i, len(pattern)):
        if pattern[j] == "{":
            depth += 1
        elif pattern[j] == "}":
            depth -= 1
            if depth == 0:
                head, body, tail = (pattern[:i], pattern[i + 1:j],
                                    pattern[j + 1:])
                out = []
                alts, d2, cur = [], 0, []
                for ch in body:
                    if ch == "," and d2 == 0:
                        alts.append("".join(cur))
                        cur = []
                    else:
                        if ch == "{":
                            d2 += 1
                        elif ch == "}":
                            d2 -= 1
                        cur.append(ch)
                alts.append("".join(cur))
                for alt in alts:
                    for rest in expand_braces(head + alt + tail):
                        out.append(rest)
                return out
    return [pattern]  # unbalanced: treat literally


def glob_match(pattern: str, name: str) -> bool:
    """Hadoop ``GlobFilter`` over a file BASENAME: ``*``, ``?``,
    ``[abc]``/``[a-b]``/``[^a]``, ``{a,b}``. Backslash escapes are
    not supported here — the Engine routes such patterns to the raw
    JVM read instead of guessing."""
    import fnmatch

    for p in expand_braces(pattern):
        # Hadoop negates classes with ^, fnmatch with !
        q = p.replace("[^", "[!")
        if fnmatch.fnmatchcase(name, q):
            return True
    return False


def render_path(p: str) -> str:
    """A listing path → the JVM's ``Path.toString`` rendering for the
    binaryFile ``path`` column: scheme-less local paths become
    ``file:`` + absolute path (single slash — probed), URI paths pass
    through unchanged."""
    if "://" in p or p.startswith("file:"):
        return p
    return "file:" + p


def _line_spans(read_chunk, start: int, end: int, sep,
                discard=None):
    """Yield line byte-strings for the split [start, end) under the
    Hadoop assignment rule (module docstring). ``read_chunk()``
    returns the next sequential chunk after ``start`` (empty = EOF);
    ``sep`` is the custom separator bytes or None for default
    framing. ``discard`` overrides the drop-partial-first-line rule
    (the BOM-skip caller starts at offset 3 but still owns the first
    line)."""
    import re

    default = sep is None
    pat = (re.compile(rb"\r\n|\r|\n") if default
           else re.compile(re.escape(sep)))
    pos = start          # absolute offset of data[0] each iteration
    tail = b""
    if discard is None:
        discard = start != 0  # partial first line belongs upstream
    while True:
        chunk = read_chunk()
        eof = not chunk
        data = tail + chunk
        search_end = len(data)
        if default and not eof and data.endswith(b"\r"):
            # a lone \r at the chunk edge might be the first half of
            # \r\n — hold it back until the next chunk decides
            search_end -= 1
        idx = 0
        for m in pat.finditer(data, 0, search_end):
            if discard:
                discard = False
            else:
                yield data[idx:m.start()]
            idx = m.end()
            if pos + idx > end:
                return  # the next line starts beyond this split
        tail = data[idx:]
        pos += idx
        if eof:
            if not discard and tail:
                yield tail  # unterminated final line
            return


def _detect_record_sep(data: bytes) -> bytes:
    """univocity's line-separator auto-detection as probed (round 10,
    tests/test_csv_multiline.py): the FIRST ``\\r`` or ``\\n`` byte in
    the RAW stream decides — even when it sits inside a quoted field
    (probed ``e23``/``d1``: a quoted ``\\n`` before any ``\\r\\n``
    pins the separator to ``\\n``). ``\\r`` followed by ``\\n`` means
    ``\\r\\n``; a file with no newline bytes defaults to ``\\n``."""
    import re

    m = re.search(rb"[\r\n]", data)
    if m is None or data[m.start()] == 0x0A:
        return b"\n"
    nxt = m.start() + 1
    if nxt < len(data) and data[nxt] == 0x0A:
        return b"\r\n"
    return b"\r"


def _csv_multiline_records(data: bytes, quote, escape, ceqe,
                           delim: bytes, ilw: bool):
    """Frame ``multiLine=true`` csv RECORDS out of one (decompressed,
    BOM-stripped) file, reproducing univocity's record-BOUNDARY rules
    probed against the live JVM (round 10, tests/test_csv_multiline.py
    — field-VALUE quirks are free because each framed record is handed
    to ``from_csv``, the same parser with the same options):

    * records split at the auto-detected separator (``_detect_record_
      sep``) OUTSIDE quoted spans only; a bare ``\\r`` under a
      ``\\r\\n`` separator (or ``\\n`` under ``\\r``) is content;
    * a quoted span opens only when the quote char is the FIRST char
      of a field (record start or right after an unquoted delimiter;
      after whitespace only under ``ignoreLeadingWhiteSpace=true`` —
      probed G2/G3);
    * inside a span with escape != quote: ``ceqe``+escape and
      escape+quote consume as pairs; a bare quote ALWAYS closes —
      a doubled quote is close-then-garbage, NOT an escape (probed
      g3/p4/e13: ``"x""y`` ends its record at the next newline and
      the raw value keeps its quotes). With escape == quote, a
      doubled quote consumes as an escaped pair and the span
      continues across newlines (probed m4/m5);
    * after a close: delimiter → next field (a NEW quoted span there
      can swallow newlines — probed G1/G7), separator → record ends,
      anything else is garbage scanned to the next delimiter or
      separator;
    * an unclosed span runs to EOF — the remainder is ONE record
      (probed p11);
    * separator occurrences INSIDE quoted spans are normalized to
      ``\\n`` in the emitted record (probed n1/n3: univocity does;
      ``from_csv`` on the raw bytes would not — probe4);
    * only length-0 records drop (whitespace-only records are rows —
      probed p10/h4); a trailing separator adds no empty record;
    * the EOF-terminated FINAL record (a file not ending with the
      full separator, under a non-``\\n`` separator) gets univocity's
      tail peel (probed across the U/T/W series, 30+ cells): split it
      into chunks at unquoted lone-``\\n`` positions; leading EMPTY
      chunks drop (W9 vs W14 — non-empty leading chunks merge);
      chunks AFTER the last chunk containing the delimiter (raw
      byte scan — quotes there are mid-field literals by
      construction) each become their OWN record (U2/U3/W16); the
      rest merge, keeping their ``\\n``s (U1/U4/W22/W23). Records
      ending at a true separator — even mid-``\\n``-heavy ones —
      never peel (W1/W13/W12).

    Yields the record byte-strings. Comment/header drops are the
    caller's (they apply to framed AND peeled records, probed
    p6b/h1-h4/W27)."""
    import re

    n = len(data)
    rs = _detect_record_sep(data)
    # boundary scan: earliest delimiter or separator (alternation
    # order only matters for same-position prefix ties, impossible
    # for distinct UTF-8 sequences unless one prefixes the other —
    # the engine gate routes those degenerates raw)
    ds_re = re.compile(re.escape(delim) + b"|" + re.escape(rs))
    toks = {quote, escape, ceqe} - {None}
    q_re = re.compile(b"|".join(re.escape(t) for t in sorted(toks))
                      ) if quote is not None else None
    eq = quote is not None and escape == quote

    pos = 0
    rec_start = 0
    spans = []  # quoted [start, end) ranges, for rs normalization

    def norm(start: int, end: int, sp):
        raw = data[start:end]
        if rs != b"\n" and sp:
            out, prev = [], start
            for s, e in sp:
                s, e = max(s, start), min(e, end)
                if s >= e:
                    continue
                out.append(data[prev:s])
                out.append(data[s:e].replace(rs, b"\n"))
                prev = e
            out.append(data[prev:end])
            raw = b"".join(out)
        return raw

    def emit(rec_end: int):
        return norm(rec_start, rec_end, spans)

    def tail(start: int, sp):
        # univocity's EOF-tail peel (docstring last bullet)
        if rs == b"\n":
            if start < n:
                yield norm(start, n, sp)
            return
        nl_re = re.compile(b"\n")
        bounds = [m.start() for m in nl_re.finditer(data, start, n)
                  if not any(s <= m.start() < e for s, e in sp)]
        cs, prev = [], start
        for b in bounds:
            cs.append((prev, b))
            prev = b + 1
        cs.append((prev, n))
        while cs and cs[0][0] == cs[0][1]:
            cs.pop(0)  # leading empty chunks drop (probed W9/W17)
        if not cs:
            return
        last = None
        for i, (s, e) in enumerate(cs):
            if delim in data[s:e]:
                last = i
        if last is None:
            for s, e in cs:
                yield norm(s, e, sp)
            return
        yield norm(cs[0][0], cs[last][1], sp)
        for s, e in cs[last + 1:]:
            yield norm(s, e, sp)

    while pos <= n:
        # field start
        if ilw:
            while pos < n and data[pos] in b" \t":
                pos += 1
        closed_at = None
        if quote is not None and data.startswith(quote, pos):
            pos += len(quote)
            span_start = pos
            while True:
                m = q_re.search(data, pos)
                if m is None:
                    # unclosed span runs to EOF (p11) — then the
                    # EOF-tail peel (in-span newlines are never
                    # chunk boundaries: T20/W25)
                    spans.append((span_start, n))
                    yield from tail(rec_start, spans)
                    return
                t = m.group()
                p = m.start()
                if (ceqe is not None and t == ceqe
                        and data.startswith(escape, p + len(ceqe))):
                    pos = p + len(ceqe) + len(escape)
                    continue
                if (not eq and escape is not None and t == escape
                        and data.startswith(quote, p + len(escape))):
                    pos = p + len(escape) + len(quote)
                    continue
                if t == quote:
                    if eq and data.startswith(quote, p + len(quote)):
                        pos = p + 2 * len(quote)
                        continue
                    spans.append((span_start, p))
                    closed_at = p + len(quote)
                    break
                pos = p + len(t)
            pos = closed_at
        # boundary scan: unquoted content, or post-close garbage
        m = ds_re.search(data, pos)
        if m is None:
            yield from tail(rec_start, spans)
            return
        if m.group() == delim:
            pos = m.end()
            continue
        yield emit(m.start())
        rec_start = pos = m.end()
        spans = []
        if pos >= n:
            return


#: python codec + file BOM per supported transcode charset (round 10,
#: probed tests/test_csv_encoding.py): the strip is the CHARSET's own
#: BOM — the JVM strips a decoded leading U+FEFF (probed F7:
#: UTF-16LE + FF FE) — while 8-bit charsets strip the raw UTF-8 BOM
#: BYTES (probed E7: ISO-8859-1 + EF BB BF drops them even though
#: they would decode to printable latin-1).
_TRANSCODE = {
    "latin-1": ("latin-1", b"\xef\xbb\xbf"),
    "ascii": ("ascii", b"\xef\xbb\xbf"),
    "utf-16-le": ("utf-16-le", b"\xff\xfe"),
    "utf-16-be": ("utf-16-be", b"\xfe\xff"),
}


def _jackson_decode(data: bytes) -> bytes:
    """Jackson's ByteSourceJsonBootstrapper charset auto-detection
    for json multiLine WITHOUT an encoding option (round 10, probed
    K1-K7): BOMs first (consumed), then the null-byte quad/pair
    heuristics over the ASCII lead character; utf-8 passes RAW
    bytes through (invalid utf-8 rides into from_json's byte-level
    Jackson exactly like the file source — probed K6)."""
    if data[:4] == b"\x00\x00\xfe\xff":
        return data[4:].decode("utf-32-be", "replace").encode()
    if data[:4] == b"\xff\xfe\x00\x00":
        return data[4:].decode("utf-32-le", "replace").encode()
    if data[:2] == b"\xfe\xff":
        return data[2:].decode("utf-16-be", "replace").encode()
    if data[:2] == b"\xff\xfe":
        return data[2:].decode("utf-16-le", "replace").encode()
    if data[:3] == b"\xef\xbb\xbf":
        return data[3:]
    if len(data) >= 4:
        if (data[0] == 0 and data[1] == 0 and data[2] == 0
                and data[3]):
            return data.decode("utf-32-be", "replace").encode()
        if (data[0] and data[1] == 0 and data[2] == 0
                and data[3] == 0):
            return data.decode("utf-32-le", "replace").encode()
    if len(data) >= 2:
        if data[0] == 0 and data[1]:
            return data.decode("utf-16-be", "replace").encode()
        if data[0] and data[1] == 0:
            return data.decode("utf-16-le", "replace").encode()
    return data


def _declared_decode(data: bytes, tc: str) -> bytes:
    """Whole-file decode for json multiLine with a DECLARED encoding
    (round 10): Java's BOM-variant charsets (UTF-16/UTF-32) detect
    AND consume a BOM (default big-endian without one), while the
    fixed-endian and 8-bit charsets keep a BOM's decoded characters —
    which then break the JSON parse into a malformed row, exactly
    like the JVM (probed K8: UTF-16LE + FF FE reads all-null)."""
    if tc == "utf-16":
        if data.startswith(b"\xff\xfe"):
            return data[2:].decode("utf-16-le", "replace").encode()
        if data.startswith(b"\xfe\xff"):
            return data[2:].decode("utf-16-be", "replace").encode()
        return data.decode("utf-16-be", "replace").encode()
    if tc == "utf-32":
        if data.startswith(b"\xff\xfe\x00\x00"):
            return data[4:].decode("utf-32-le", "replace").encode()
        if data.startswith(b"\x00\x00\xfe\xff"):
            return data[4:].decode("utf-32-be", "replace").encode()
        return data.decode("utf-32-be", "replace").encode()
    return data.decode(_TRANSCODE[tc][0], "replace").encode()


def _ml_declared_decode(data: bytes, tc: str) -> bytes:
    """csv multiLine with a DECLARED encoding (round 10, probed
    ML1-ML3): decode the whole file, then strip ONE leading U+FEFF —
    univocity drops a decoded BOM character but NOT raw UTF-8 BOM
    bytes under a non-UTF8 charset (probed ML2: ISO-8859-1 keeps
    them as the literal 'ï»¿' characters)."""
    if tc in ("utf-16", "utf-32"):
        txt = _declared_decode(data, tc).decode()
    else:
        txt = data.decode(_TRANSCODE[tc][0], "replace")
    if txt.startswith("﻿"):
        txt = txt[1:]
    return txt.encode()


def _drop_first(it):
    """Skip the first item (the multiLine csv header RECORD — comment
    and empty records were already filtered, so this is the first
    non-empty non-comment record, the probed JVM header pick
    h1/h3/h4)."""
    first = True
    for x in it:
        if first:
            first = False
            continue
        yield x


def _value_batches(lines_iter, include_value: bool):
    """Pack line byte-strings into Arrow RecordBatches. The string
    array is built from raw buffers — NO UTF-8 validation — so
    invalid bytes ride into the JVM verbatim, exactly like its own
    UTF8String-based text reader (probed parity). With the value
    column projected away, emits row-count-only batches (partition
    columns and count(*) still come out right)."""
    import numpy as np
    import pyarrow as pa

    def flush(lines, nbytes):
        if include_value:
            if nbytes > _MAX_INT:
                # the 64 MiB flush bounds bytes BETWEEN lines only: a
                # single line (or a wholetext file) past int32 would
                # silently overflow the Arrow string offsets — and the
                # JVM's own UTF8String caps at Int.MaxValue bytes too,
                # so a loud error is the honest parity here
                raise ValueError(
                    f"a single text value of {nbytes} bytes exceeds "
                    "the 2 GiB string limit (Spark's UTF8String cap)")
            lens = np.fromiter((len(x) for x in lines),
                               dtype=np.int64, count=len(lines))
            offsets = np.zeros(len(lines) + 1, dtype=np.int32)
            np.cumsum(lens, out=offsets[1:])
            arr = pa.StringArray.from_buffers(
                len(lines),
                pa.py_buffer(offsets.tobytes()),
                pa.py_buffer(b"".join(lines)))
            return pa.RecordBatch.from_arrays([arr], names=["value"])
        return pa.RecordBatch.from_struct_array(
            pa.array([{}] * len(lines), type=pa.struct([])))

    lines, nbytes = [], 0
    for ln in lines_iter:
        lines.append(ln)
        nbytes += len(ln)
        if len(lines) >= _BATCH_ROWS or nbytes >= _BATCH_BYTES:
            yield flush(lines, nbytes)
            lines, nbytes = [], 0
    if lines:
        yield flush(lines, nbytes)


class CachedTextReader(CachedParquetReader):
    """Executor-mode cached ``text``: node-local resolve + Hadoop
    line framing (module docstring for the probed semantics)."""

    def __init__(self, options, schema=None):
        super().__init__(options, schema)
        self.wholetext = _flag(options, "wholetext")
        #: non-UTF8 charset transcode (round 10, probed — set by the
        #: Engine's composed csv/json paths, never by plain text: the
        #: JVM text format IGNORES the encoding option, probed E15)
        self.transcode = options.get("transcode") or None
        #: json multiLine: Jackson charset auto-detect + BOM consume
        #: on the wholetext value (round 10, probed K1-K7)
        self.strip_bom = _flag(options, "strip_bom")
        sep = options.get("linesep")
        if sep and self.transcode in _TRANSCODE:
            # the separator matches ENCODED bytes (probed F10/F11:
            # a latin-1 0xF7 lineSep frames on that byte; F9: utf-16le
            # frames on 0A 00)
            self.linesep = sep.encode(_TRANSCODE[self.transcode][0])
        else:
            self.linesep = sep.encode("utf-8") if sep else None
        #: csv header-skip framing (round 9, probed): in the split
        #: owning byte 0 of each file, drop the first line that is
        #: neither blank (Java trim: all bytes <= 0x20) nor a comment
        #: (raw startswith — whitespace before the char disqualifies).
        #: Set by the Engine's composed csv path, never by plain text.
        self.skip_header = _flag(options, "skip_header")
        cmt = options.get("comment") or ""
        self.comment = cmt.encode("utf-8") if cmt else None
        #: multiLine csv record framing (round 10, probed — set by the
        #: Engine's composed csv path only): quote-aware record spans,
        #: never split (probed p13: one partition regardless of
        #: maxPartitionBytes, exactly the JVM)
        self.ml_csv = _flag(options, "multiline_csv")
        if self.ml_csv:
            def _ch(key, dflt):
                v = options.get(key, dflt)
                return v.encode("utf-8") if v else None
            self.ml_quote = _ch("ml_quote", '"')
            self.ml_escape = _ch("ml_escape", "\\")
            ceqe = options.get("ml_ceqe")
            if ceqe:
                self.ml_ceqe = ceqe.encode("utf-8")
            elif (self.ml_escape is not None
                    and self.ml_escape != self.ml_quote):
                # Spark's charToEscapeQuoteEscaping default: the
                # escape char when escape != quote, else \0
                self.ml_ceqe = self.ml_escape
            else:
                self.ml_ceqe = None
            self.ml_sep = (options.get("ml_sep") or ",").encode("utf-8")
            self.ml_ilw = _flag(options, "ml_ilw")
        if self.wholetext or self.linesep is not None or self.ml_csv:
            # wholetext: one row per file by definition. Custom
            # lineSep: self-overlapping separators make local split
            # re-synchronization ambiguous — refuse to guess, one
            # task per file (row multiset identical)
            self.split_bytes = 0

    def _filter_files(self, files):
        if self.wholetext:
            # PHYSICAL length drives the drop (probed: a gz of empty
            # payload — 26 bytes on disk — still yields one row, with
            # an empty string)
            files = [st for st in files if st.length]
        return files

    def _splittable(self, st) -> bool:
        # codec files only frame under a whole-stream decode — one
        # task per file, like the JVM (probed: a gz under a 64 KiB
        # maxPartitionBytes still plans ONE partition). The JVM does
        # split bz2 (a splittable codec); serving it single-task
        # changes parallelism, never the row multiset.
        return codec_of(st.path) is None

    def _drop_header(self, lines):
        """Drop the first header-qualifying line (probed JVM rule:
        first line whose Java trim is non-empty and that does not
        START with the comment char — a header spanning a quoted
        newline is still only its first PHYSICAL line, probed)."""
        dropped = False
        for ln in lines:
            if not dropped and any(b > 0x20 for b in ln) and not (
                    self.comment and ln.startswith(self.comment)):
                dropped = True
                continue
            yield ln

    def _tc_lines(self, lines):
        """Per-line charset transcode (round 10): decode each framed
        line from the declared charset, replace-on-error like Java's
        CharsetDecoder REPLACE (probed F4), re-encode UTF-8. Framing
        stays byte-level — safe because every composable charset
        frames on unambiguous byte sequences (8-bit charsets keep
        0x0A/0x0D; utf-16le/be only compose with an explicit lineSep,
        which is encoded in the charset and the file is never
        split)."""
        if not self.transcode:
            return lines
        codec = _TRANSCODE[self.transcode][0]
        return (ln.decode(codec, "replace").encode() for ln in lines)

    def _guard_lines(self, lines):
        """ignoreCorrupt/MissingFiles at LINE granularity (round 10):
        the JVM keeps the rows decoded before a mid-stream error —
        probed P4c, a half-truncated gzip csv serves its decodable
        prefix — so the skip must end the LINE iterator cleanly and
        let ``_value_batches`` flush the complete lines already
        framed, instead of dropping the whole in-flight batch."""
        if not (self.ignore_corrupt or self.ignore_missing):
            return lines

        def gen():
            try:
                yield from lines
            except FileNotFoundError:
                if not self.ignore_missing:
                    raise
            except Exception:  # noqa: BLE001 — the JVM catch is broad
                if not self.ignore_corrupt:
                    raise
        return gen()

    def _file_pass(self, fobj, part, columns, stat_filters):
        include_value = columns is None or any(
            (c == "value" if self.case_sensitive
             else c.lower() == "value") for c in columns)
        codec = codec_of(part.path)
        if self.wholetext:
            # wholetext KEEPS a leading BOM (probed) — raw bytes,
            # decompressed under a codec extension (probed: the JVM
            # hands wholetext the decompressed stream too). The json
            # multiLine compose (strip_bom/transcode set) layers
            # Jackson's charset detection or the declared decode on
            # top — plain text wholetext never sets either.
            data = (b"".join(_codec_chunks(fobj, codec)) if codec
                    else fobj.read())
            if self.transcode:
                data = _declared_decode(data, self.transcode)
            elif self.strip_bom:
                data = _jackson_decode(data)
            yield from _value_batches(iter([data]), include_value)
            return
        if self.ml_csv:
            # multiLine csv: whole-file quote-aware record framing
            # (decompressed under a codec extension — probed p8;
            # BOM stripped first — probed p9/e17). Record-level
            # drops follow the probed JVM rules: only length-0
            # records drop (whitespace-only records are rows),
            # comment matches the record's raw first bytes, the
            # header is the first surviving record of the file.
            data = (b"".join(_codec_chunks(fobj, codec)) if codec
                    else fobj.read())
            if self.transcode:
                # decode the WHOLE file before framing (probed
                # F2/F3/F13: multiLine + encoding applies the charset
                # first; the framing markers are then plain UTF-8).
                # BOM rule differs from line mode — decoded U+FEFF
                # strips, raw UTF-8 BOM bytes under a non-UTF8
                # charset do NOT (probed ML1-ML3)
                data = _ml_declared_decode(data, self.transcode)
            elif data.startswith(b"\xef\xbb\xbf"):
                data = data[3:]
            recs = _csv_multiline_records(
                data, self.ml_quote, self.ml_escape, self.ml_ceqe,
                self.ml_sep, self.ml_ilw)
            recs = (r for r in recs if r)
            if self.comment:
                recs = (r for r in recs
                        if not r.startswith(self.comment))
            if self.skip_header:
                recs = _drop_first(recs)
            yield from _value_batches(recs, include_value)
            return
        # the BOM stripped at byte 0 is the read charset's own
        # (probed F7: UTF-16LE drops a leading FF FE; E7: 8-bit
        # charsets drop the raw UTF-8 BOM bytes)
        bom = (_TRANSCODE[self.transcode][1] if self.transcode
               else b"\xef\xbb\xbf")
        if codec:
            # whole-stream decode: line framing, BOM strip and custom
            # lineSep all apply to the DECOMPRESSED bytes (probed);
            # part.end is the COMPRESSED length, so the span walk is
            # unbounded here — this is the file's only split
            chunks = _codec_chunks(fobj, codec)
            head = b""
            for c in chunks:
                head += c
                if len(head) >= len(bom):
                    break
            if head.startswith(bom):
                head = head[len(bom):]
            pending = [head]

            def read_chunk():
                if pending:
                    return pending.pop()
                return next(chunks, b"")

            spans = _line_spans(read_chunk, 0, float("inf"),
                                self.linesep, discard=False)
            spans = self._guard_lines(self._tc_lines(spans))
            if self.skip_header:  # codec files always own byte 0
                spans = self._drop_header(spans)
            yield from _value_batches(spans, include_value)
            return
        start = part.start
        if start == 0:
            # Hadoop's LineRecordReader strips a UTF-8 BOM at the
            # start of the split owning byte 0 (probed: line-mode
            # text drops it, mid-file BOMs and wholetext keep it)
            fobj.seek(0)
            if fobj.read(len(bom)) == bom:
                start = len(bom)
        fobj.seek(start)

        def read_chunk():
            return fobj.read(_CHUNK)

        spans = _line_spans(read_chunk, start, part.end, self.linesep,
                            discard=part.start != 0)
        spans = self._guard_lines(self._tc_lines(spans))
        if self.skip_header and part.start == 0:
            # only the split owning byte 0 skips — probed: a 43-split
            # csv drops exactly one header line; a byte-0 split that
            # holds only blank/comment lines drops nothing (the JVM's
            # per-split header checker sees the same empty iterator)
            spans = self._drop_header(spans)
        yield from _value_batches(spans, include_value)


class PruningCachedTextReader(PruningCachedParquetReader,
                              CachedTextReader):
    """CachedTextReader + pushFilters partition pruning (MRO: the
    pruning mixin supplies pushFilters, the text reader the scan)."""


class CachedBinaryFileReader(CachedParquetReader):
    """Executor-mode cached ``binaryFile`` (module docstring for the
    probed semantics). Not splittable; empty files yield no row; a
    projection without ``content`` never opens the file."""

    def __init__(self, options, schema=None):
        super().__init__(options, schema)
        try:
            self.max_length = int(options.get("maxlength")
                                  or _MAX_INT)
        except ValueError:
            self.max_length = _MAX_INT
        self.split_bytes = 0  # one task per file, like the JVM

    def _filter_files(self, files):
        files = [st for st in files if st.length]  # empty: no row
        # provable length-filter prunes: the 100 TB win is skipping
        # whole files at plan time (Spark re-applies every filter as
        # residual, so this can only ever skip non-matching files)
        ops = {"eq": lambda v, r: v == r, "gt": lambda v, r: v > r,
               "ge": lambda v, r: v >= r, "lt": lambda v, r: v < r,
               "le": lambda v, r: v <= r,
               "in": lambda v, r: v in r}
        for col, op, ref in self._part_filters:
            if col.lower() != "length" or op not in ops:
                continue
            try:
                files = [st for st in files
                         if ops[op](int(st.length), ref)]
            except TypeError:  # non-numeric ref: leave residual-only
                continue
        return files

    def _meta_arrays(self, part, columns, content):
        import pyarrow as pa

        arrays, names = [], []
        for c in columns:
            cl = c.lower()
            if cl == "path":
                arrays.append(pa.array([render_path(part.path)],
                                       type=pa.string()))
            elif cl == "modificationtime":
                # listing mtime is epoch MILLIS (cache/fs.py), the
                # same precision FileStatus.getModificationTime hands
                # the JVM reader (probed: sub-ms truncated)
                arrays.append(pa.array(
                    [part.mtime * 1000],
                    type=pa.int64()).cast(
                        pa.timestamp("us", tz="UTC")))
            elif cl == "length":
                arrays.append(pa.array([part.length],
                                       type=pa.int64()))
            elif cl == "content":
                arrays.append(pa.array([content], type=pa.binary()))
            else:  # a projected data column this format cannot have
                arrays.append(pa.nulls(1, type=pa.null()))
            names.append(c)
        return pa.RecordBatch.from_arrays(arrays, names=names)

    def _file_batches(self, mgr, part, columns, stat_filters):
        if columns is None:
            columns = list(_BINARY_COLUMNS)
        if not any(c.lower() == "content" for c in columns):
            # metadata-only projection: zero data bytes move — the
            # listing already knows path/mtime/length. maxLength is
            # NOT checked here: the JVM's BinaryFileFormat throws only
            # when `content` is in the required schema (probed), so a
            # count()/length histogram over oversized files succeeds
            if self.ignore_missing:
                # the JVM skips a vanished file's row even without
                # content projected (probed P7) — one stat, only
                # when the flag asks for the check
                try:
                    fs, p = mgr._resolve(part.path)  # noqa: SLF001
                    if fs.stat(p) is None:
                        return iter(())
                except FileNotFoundError:
                    return iter(())
            return iter([self._meta_arrays(part, columns, None)])
        if part.length > self.max_length:
            raise ValueError(
                f"The length of {render_path(part.path)} is "
                f"{part.length}, which exceeds the max length "
                f"allowed: {self.max_length}.")
        return _read_file_batches(
            mgr, part,
            lambda fobj: iter([self._meta_arrays(part, columns,
                                                 fobj.read())]))


class PruningCachedBinaryFileReader(PruningCachedParquetReader,
                                    CachedBinaryFileReader):
    """CachedBinaryFileReader + pushFilters pruning (partition keys
    AND provable length predicates — see _filter_files)."""


class _RawFileSource(CachedParquetSource):
    """Fixed-schema raw-file sources: no footers — the data schema is
    the format's fixed fields plus the hive partition columns of the
    shared ``schema()`` pipeline."""

    def _fixed_fields(self):
        """The format's fixed (name, Spark type) fields."""
        raise NotImplementedError

    def _data_schema(self, mgr, files, parts):
        from pyspark.sql.types import StructField, StructType

        fixed = [StructField(n, t, True) for n, t in self._fixed_fields()]
        fixed_lower = {f.name.lower() for f in fixed}
        for k, _ in parts:
            if k.lower() in fixed_lower:
                raise ValueError(
                    f"partition column {k!r} in "
                    f"{self.options.get('path')!r} collides with a "
                    f"fixed column of the {self.name()} schema — "
                    "rename the directory key or read the original raw")
        return StructType(fixed + [StructField(k, _ddl_type(ddl))
                                   for k, ddl in parts])


class CachedTextSource(_RawFileSource):
    """``spark.read.format("sidecar_cached_text")`` — wired by
    ``Engine.read_format(location, "text")`` under executor mode."""

    _reader_cls = CachedTextReader
    _pruning_reader_cls = PruningCachedTextReader

    @classmethod
    def name(cls) -> str:
        return "sidecar_cached_text"

    def _fixed_fields(self):
        from pyspark.sql.types import StringType

        return [("value", StringType())]


class CachedBinaryFileSource(_RawFileSource):
    """``spark.read.format("sidecar_cached_binaryfile")`` — wired by
    ``Engine.read_format(location, "binaryFile")`` under executor
    mode."""

    _reader_cls = CachedBinaryFileReader
    _pruning_reader_cls = PruningCachedBinaryFileReader

    @classmethod
    def name(cls) -> str:
        return "sidecar_cached_binaryfile"

    def _fixed_fields(self):
        from pyspark.sql.types import (
            BinaryType,
            LongType,
            StringType,
            TimestampType,
        )

        return list(zip(_BINARY_COLUMNS,
                        (StringType(), TimestampType(), LongType(),
                         BinaryType())))
