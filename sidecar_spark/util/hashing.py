"""Cache-key construction — port of ``util/Utils.java:100-123``.

The reference builds a 24-byte binary key: MD5(path + "/" + mtime)
(16 B) followed by the big-endian page-aligned offset (8 B). We key a
file version (a ``FileStat``) by MD5(path + "/" + mtime + "/" +
length) — a hardening over ``getBaseKey``: an object republished
within one mtime tick (S3 ``Last-Modified`` has one-second resolution)
at a new length is a new version too. The key is rendered as a hex
string, which doubles as a safe local filename for the page store and
the mirror. The version in the key makes pages and mirror copies
self-invalidating when a file changes — stale keys simply never match
(SURVEY.md §3.3).
"""

from __future__ import annotations

import hashlib


def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def base_key(st) -> str:
    """MD5(path + '/' + mtime + '/' + length) of the file version
    ``st`` — util/Utils.java:100-112 (getBaseKey) plus the length."""
    return md5_hex(f"{st.path}/{st.mtime}/{st.length}")


def page_key(st, offset: int, page_size: int) -> str:
    """Full page key: base key + page-aligned offset
    (util/Utils.java:114-123, getKey): offset is rounded DOWN to the
    page boundary before encoding."""
    aligned = (offset // page_size) * page_size
    return f"{base_key(st)}-{aligned:016x}"
