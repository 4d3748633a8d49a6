"""Stub MongoDB sidecar and stub Elasticsearch for the CDC benchmark.

Both run as HTTP servers inside the generator process on a small fixed
worker pool (one request per connection, so no worker is held by an
idle keep-alive connection).

Sidecar: the `graft.source.v2.MongoHttpSource` protocol documented in
examples/README.md, under a dataset prefix (`<url>/<dataset>`):
`GET /snapshot/<ns>?shard&shards[&fromId][&limit]`, `GET /oplog?from&to`,
`GET /oplog/latest`. The oplog head is whatever the generator has made
visible so far, so a generator can append by moving it.

Elasticsearch: index exists/create/mapping DDL, and `POST /_bulk` with
positional per-item acks. Every action is recorded with its ack time.
"""
import bisect
import json
import re
import threading
import time
import zlib
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlsplit

REV = re.compile(rb'"rev":(\d+)')


class PoolServer(HTTPServer):
    request_queue_size = 64

    def __init__(self, handler, workers):
        super().__init__(("127.0.0.1", 0), handler)
        self.pool = ThreadPoolExecutor(max_workers=workers)
        self.thread = threading.Thread(target=self.serve_forever, kwargs={"poll_interval": 0.05},
                                       daemon=True)

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    @property
    def url(self):
        return "http://127.0.0.1:%d" % self.server_address[1]

    def start(self):
        self.thread.start()
        return self

    def stop(self):
        self.shutdown()
        self.thread.join()
        self.server_close()
        self.pool.shutdown(wait=True)


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.0"

    def log_message(self, *args):
        pass

    def reply(self, status, body=b"", ctype="application/json"):
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if body and self.command != "HEAD":
            self.wfile.write(body)
        return len(body)


# ------------------------------------------------------------------ sidecar
class Dataset:
    def __init__(self, snapshot_docs_lines, oplog_lines, visible=None):
        """snapshot_docs_lines: [(id, line bytes)]; oplog_lines: line
        bytes for seq 1..n (each already carries its seq); visible():
        how many oplog entries are appended so far (default all)."""
        self.snap = sorted(snapshot_docs_lines)
        self.oplog = oplog_lines
        self.visible = visible or (lambda: len(self.oplog))
        self.shards = {}
        self.lock = threading.Lock()

    def shard(self, i, n):
        with self.lock:
            if n not in self.shards:
                parts = [([], []) for _ in range(n)]
                for k, line in self.snap:
                    ids, lines = parts[zlib.crc32(k.encode()) % n]
                    ids.append(k)
                    lines.append(line)
                self.shards[n] = parts
            return self.shards[n][i]


class Sidecar:
    def __init__(self, workers):
        self.datasets = {}
        self.requests = 0
        self.bytes = 0
        self.lock = threading.Lock()
        owner = self

        class H(Handler):
            def do_GET(self):
                u = urlsplit(self.path)
                q = {k: v[0] for k, v in parse_qs(u.query).items()}
                parts = u.path.strip("/").split("/", 2)
                ds = owner.datasets.get(parts[0])
                if ds is None or len(parts) < 2:
                    n = self.reply(404)
                elif parts[1] == "snapshot":
                    ids, lines = ds.shard(int(q["shard"]), int(q["shards"]))
                    lo = bisect.bisect_left(ids, q["fromId"]) if "fromId" in q else 0
                    hi = min(len(ids), lo + int(q["limit"])) if "limit" in q else len(ids)
                    n = self.reply(200, b"\n".join(lines[lo:hi]) + (b"\n" if hi > lo else b""))
                elif parts[1:] == ["oplog", "latest"]:
                    n = self.reply(200, b'{"seq":%d}' % ds.visible())
                elif parts[1] == "oplog":
                    head = ds.visible()
                    lo, hi = int(q["from"]), min(int(q["to"]), head)
                    body = b"\n".join(ds.oplog[lo:hi])
                    n = self.reply(200, body + (b"\n" if hi > lo else b""))
                else:
                    n = self.reply(404)
                with owner.lock:
                    owner.requests += 1
                    owner.bytes += n

        self.server = PoolServer(H, workers)

    def counters(self):
        with self.lock:
            return {"requests": self.requests, "bytes": self.bytes}


# ------------------------------------------------------------ elasticsearch
class Index:
    def __init__(self):
        self.docs = {}  # id -> (source line bytes or None for a delete, parent)
        self.items = []  # (ack time, id, rev; -1 for a delete), in ack order
        self.max_rev = {}


class EsStub:
    def __init__(self, workers):
        self.indices = {}
        self.created = set()
        self.ddl_requests = 0
        self.bulk_requests = 0
        self.bulk_bytes = 0
        self.cv = threading.Condition()
        owner = self

        class H(Handler):
            def do_HEAD(self):
                owner.count_ddl()
                self.reply(200 if self.path.strip("/") in owner.created else 404)

            def do_PUT(self):
                self.rfile.read(int(self.headers.get("Content-Length") or 0))
                owner.count_ddl()
                path = urlsplit(self.path).path.strip("/")
                if "/" not in path:
                    with owner.cv:
                        owner.created.add(path)
                self.reply(200, b'{"acknowledged":true}')

            def do_GET(self):
                owner.count_ddl()
                self.reply(200, b"{}")

            def do_POST(self):
                body = self.rfile.read(int(self.headers.get("Content-Length") or 0))
                if not urlsplit(self.path).path.endswith("_bulk"):
                    owner.count_ddl()
                    self.reply(200, b'{"acknowledged":true}')
                    return
                self.reply(200, owner.bulk(body))

        self.server = PoolServer(H, workers)

    def count_ddl(self):
        with self.cv:
            self.ddl_requests += 1

    def index(self, name):
        ix = self.indices.get(name)
        if ix is None:
            ix = self.indices[name] = Index()
        return ix

    def bulk(self, body):
        lines = body.split(b"\n")
        parsed = []
        i = 0
        while i < len(lines):
            line = lines[i]
            if not line:
                i += 1
                continue
            meta = json.loads(line)
            action, m = next(iter(meta.items()))
            if action == "delete":
                parsed.append((m["_index"], m["_id"], None, m.get("_parent"), -1))
                i += 1
            else:
                src = lines[i + 1]
                r = REV.search(src)
                parsed.append((m["_index"], m["_id"], src, m.get("_parent"), int(r.group(1)) if r else 0))
                i += 2
        with self.cv:
            t = time.time()
            for name, k, src, parent, rev in parsed:
                ix = self.index(name)
                ix.docs[k] = (src, parent)
                ix.items.append((t, k, rev))
                if rev >= 0:
                    if rev > ix.max_rev.get(k, -1):
                        ix.max_rev[k] = rev
                else:
                    ix.max_rev[k] = 1 << 62
            self.bulk_requests += 1
            self.bulk_bytes += len(body)
            self.cv.notify_all()
        items = b",".join(b'{"delete":{"status":200}}' if p[2] is None else b'{"index":{"status":201}}'
                          for p in parsed)
        return b'{"took":1,"errors":false,"items":[' + items + b"]}"

    def wait_rev(self, name, k, rev, timeout):
        """Block until `name` has acked a version of `k` with rev >= rev;
        returns that ack time, or None on timeout."""
        end = time.time() + timeout
        with self.cv:
            while True:
                ix = self.indices.get(name)
                if ix is not None and ix.max_rev.get(k, -1) >= rev:
                    for t, kk, r in reversed(ix.items):
                        if kk == k and r >= rev:
                            first = t
                        elif kk == k:
                            break
                    return first
                left = end - time.time()
                if left <= 0:
                    return None
                self.cv.wait(left)

    def counters(self):
        with self.cv:
            return {"ddl_requests": self.ddl_requests, "bulk_requests": self.bulk_requests,
                    "bulk_bytes": self.bulk_bytes}
