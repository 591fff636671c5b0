"""The benchmark's remote store: the repo's S3 stub in a child process.

The child serves ``sidecar_spark.testing.s3server`` through a handler
subclass that

* sleeps a fixed latency per request (set per run, not from the env);
* disables Nagle's algorithm, so a small write after a large one is not
  held back by delayed ACKs (a localhost artifact, not an S3 cost);
* journals every request: kind, bytes in, bytes out, service time;
* stamps every object version with a strictly increasing virtual mtime
  (whole seconds from ``EPOCH``), so two versions never share the
  stub's 1-second ``Last-Modified`` and with it a cache key.

Running the stub in its own process keeps its request handling off the
client's interpreter lock. The parent talks to it over a pipe.
"""

from __future__ import annotations

import multiprocessing
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

EPOCH = 1_700_000_000  # mtime (s) of the first object version
KINDS = ("get", "head", "list", "put", "post", "delete")


def _target(path: str):
    u = urlparse(path)
    bucket, _, key = unquote(u.path).lstrip("/").partition("/")
    return bucket, key, parse_qs(u.query, keep_blank_values=True)


def _serve(conn, latency_ms: float) -> None:
    from sidecar_spark.testing import s3server

    store = s3server.S3Store()
    state = {"latency": latency_ms / 1000.0, "clock": EPOCH}
    journal = {k: 0 for k in KINDS}
    journal.update(bytes_in=0, bytes_out=0, busy_ns=0)
    jlock = threading.Lock()

    def next_mtime() -> float:
        state["clock"] += 1
        return float(state["clock"])

    class Handler(s3server._Handler):  # noqa: SLF001
        disable_nagle_algorithm = True

        def parse_request(self):  # noqa: D102
            self._t0 = time.perf_counter_ns()
            self._out = 0
            ok = BaseHTTPRequestHandler.parse_request(self)
            if ok and state["latency"]:
                time.sleep(state["latency"])
            return ok

        def handle_one_request(self):  # noqa: D102
            self._t0 = None
            super().handle_one_request()
            if self._t0 is None or not getattr(self, "command", None):
                return
            _, key, q = _target(self.path)
            kind = self.command.lower()
            if kind == "get" and (not key or "list-type" in q
                                  or "prefix" in q):
                kind = "list"
            with jlock:
                if kind in journal:
                    journal[kind] += 1
                journal["bytes_in"] += int(
                    self.headers.get("Content-Length") or 0)
                journal["bytes_out"] += self._out
                journal["busy_ns"] += time.perf_counter_ns() - self._t0

        def _send(self, code, body=b"", headers=None,
                  content_type="application/xml"):  # noqa: D102
            bucket, key, q = _target(self.path)
            if code == 200 and key and (
                    (self.command == "PUT" and "partNumber" not in q)
                    or (self.command == "POST" and "uploadId" in q)):
                # runs under the store lock the verb holds: the new
                # version is stamped before any client can see it
                store.buckets[bucket][key].mtime = next_mtime()
            self._out += len(body)
            super()._send(code, body, headers, content_type)

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    httpd.store = store
    server = threading.Thread(target=httpd.serve_forever, daemon=True)
    server.start()
    conn.send(httpd.server_address[1])
    try:
        while True:
            cmd, *args = conn.recv()
            if cmd == "put":  # an external writer publishes a version
                bucket, key, data = args
                with store.lock:
                    store.buckets.setdefault(bucket, {})
                    obj = s3server._Obj(data)  # noqa: SLF001
                    obj.mtime = next_mtime()
                    store.buckets[bucket][key] = obj
                conn.send(obj.mtime)
            elif cmd == "journal":
                with jlock:
                    conn.send(dict(journal))
            elif cmd == "latency":
                state["latency"] = args[0] / 1000.0
                conn.send(None)
            elif cmd == "stop":
                break
    finally:
        httpd.shutdown()
        httpd.server_close()
        conn.send(None)


class Remote:
    """Handle on the child-process stub; use as a context manager."""

    def __init__(self, latency_ms: float) -> None:
        ctx = multiprocessing.get_context("spawn")
        self._conn, child = ctx.Pipe()
        self._proc = ctx.Process(target=_serve, args=(child, latency_ms),
                                 daemon=True)
        self.latency_ms = latency_ms

    def __enter__(self) -> "Remote":
        self._proc.start()
        self.endpoint = f"http://127.0.0.1:{self._conn.recv()}"
        return self

    def __exit__(self, *exc) -> None:
        try:
            self._call("stop")
        finally:
            self._proc.join(10)
            if self._proc.is_alive():
                self._proc.kill()
                self._proc.join()
            # starting the child also started multiprocessing's resource
            # tracker; stop it and wait for it like every other process
            from multiprocessing import resource_tracker
            resource_tracker._resource_tracker._stop()  # noqa: SLF001

    def _call(self, *msg):
        self._conn.send(msg)
        return self._conn.recv()

    def put(self, bucket: str, key: str, data: bytes) -> float:
        """Publish ``data`` as a new version; returns its mtime (s)."""
        return self._call("put", bucket, key, data)

    def journal(self) -> dict:
        return self._call("journal")

    def set_latency(self, ms: float) -> None:
        self._call("latency", ms)


def journal_delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


def calibrate(remote: Remote, n: int = 9) -> dict:
    """Median 1 MiB PUT and 64 KiB ranged GET through the program's
    S3 client with the latency set to 0 ms: the stub's own cost."""
    import statistics

    from sidecar_spark.cache.fs import RemoteFS

    fs, _ = RemoteFS.from_uri("s3://calib")
    data = bytes(1 << 20)
    put, get = [], []
    remote.set_latency(0)
    try:
        for _ in range(n):
            t0 = time.perf_counter()
            fs.write_all("s3://calib/obj", data)
            t1 = time.perf_counter()
            fs.read_range("s3://calib/obj", 0, 1 << 16)
            get.append(time.perf_counter() - t1)
            put.append(t1 - t0)
    finally:
        remote.set_latency(remote.latency_ms)
    return {"remote.calib_put_ms": statistics.median(put) * 1000.0,
            "remote.calib_get_ms": statistics.median(get) * 1000.0}
