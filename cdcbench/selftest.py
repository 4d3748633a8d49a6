#!/usr/bin/env python3
"""Self-tests of the CDC benchmark's own pieces.

    python3 cdcbench/selftest.py            # all, incl. one engine JVM read
    python3 cdcbench/selftest.py -k Model   # a subset (unittest -k)

Covers: identical seeds give identical byte streams, the model fold on a
hand-checked fixture, the stub sidecar's paging/sharding/oplog protocol,
the stub Elasticsearch's positional acks, the freshness join, and a tiny
`graft.source.v2.MongoHttpSource` read against the stub sidecar.
"""
import hashlib
import json
import os
import subprocess
import sys
import unittest
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402
import stubs  # noqa: E402


def digest(lines):
    h = hashlib.sha256()
    for line in lines:
        h.update(line + b"\n")
    return h.hexdigest()


def streams(seed):
    snap = gen.snapshot(seed, 300)
    evs = gen.events(seed, snap, 2000, 100)
    return (digest(gen.snapshot_line(d) for d in snap),
            digest(gen.oplog_line(i + 1, e, True) for i, e in enumerate(evs)))


class Determinism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        self.assertEqual(streams(7), streams(7))

    def test_other_seed_other_bytes(self):
        a, b = streams(7), streams(8)
        self.assertNotEqual(a[0], b[0])
        self.assertNotEqual(a[1], b[1])

    def test_sentinels_and_mix(self):
        snap = gen.snapshot(3, 200)
        evs = gen.events(3, snap, 3000, 500)
        for seq in (500, 1000, 3000):
            self.assertEqual(evs[seq - 1][1], gen.SENTINEL)
        ops = {e[0] for e in evs}
        self.assertEqual(ops, {"i", "u", "d"})
        # updates are $set/$unset only: the mix holds no full replacement
        self.assertTrue(all(f.startswith("$") for op, _, o in evs if op == "u" for f in o))
        # no op targets a deleted key
        gone = set()
        for op, k, _ in evs:
            self.assertNotIn(k, gone)
            if op == "d":
                gone.add(k)


class Model(unittest.TestCase):
    """A fixture small enough to check by hand."""

    def test_fold(self):
        a = {"_id": "a", "name": "n1", "weight": 1.5, "deleted": False, "rev": 0,
             "campaign": "c1", "tags": ["x"], "profile": {"city": "p"},
             "stats": {"views": 3, "clicks": 1}, "blob": "b"}
        b = {"_id": "b", "name": "n2", "weight": 2.0, "deleted": True, "rev": 0,
             "campaign": "c2", "stats": {"clicks": 4}, "blob": "b"}
        m = gen.Model([a, b])
        for ev in [
            ("u", "a", {"$set": {"weight": 9.0, "rev": 1}}),
            ("u", "a", {"$set": {"blob": "ignored by the mapping"}}),
            ("u", "a", {"$set": {"rev": 3}, "$unset": {"tags": True}}),
            ("u", "b", {"_id": "b", "name": "n3", "rev": 4, "campaign": "c2"}),
            ("i", "c", {"_id": "c", "name": "n4", "rev": 5, "campaign": "c3",
                        "stats": {"views": 7}}),
            ("d", "c", {"_id": "c"}),
            ("i", "e", {"_id": "e", "name": "n5", "rev": 7, "campaign": "c4"}),
        ]:
            m.apply(ev)
        self.assertEqual(m.expected(), {
            "a": ({"_id": "a", "name": "n1", "weight": 9.0, "isDeleted": False, "rev": 3,
                   "profile": {"city": "p"}, "views": 3}, "c1"),
            "b": ({"_id": "b", "name": "n3", "rev": 4}, "c2"),
            "e": ({"_id": "e", "name": "n5", "rev": 7}, "c4"),
        })
        # a snapshot doc is never mutated by the fold
        self.assertEqual(a["weight"], 1.5)

    def test_has_outcome(self):
        self.assertTrue(gen.has_outcome(("u", "a", {"$set": {"weight": 1}})))
        self.assertTrue(gen.has_outcome(("u", "a", {"$unset": {"tags": True}})))
        self.assertFalse(gen.has_outcome(("u", "a", {"$set": {"blob": "x"}})))
        self.assertTrue(gen.has_outcome(("u", "a", {"_id": "a", "blob": "x"})))
        self.assertTrue(gen.has_outcome(("d", "a", {"_id": "a"})))

    def test_freshness(self):
        items = [(10.0, "a", 5), (11.0, "a", 9), (12.0, "b", -1)]
        due = {6: ("a", 9.5), 9: ("a", 10.5), 2: ("b", 11.0), 7: ("c", 1.0)}
        fresh, missing = run.freshness(items, due)
        self.assertEqual(missing, 1)
        self.assertEqual([round(x) for x in fresh], [500, 1000, 1500])


class Stubs(unittest.TestCase):
    def setUp(self):
        self.snap = gen.snapshot(5, 40)
        evs = gen.events(5, self.snap, 30, 10)
        self.oplog = [gen.oplog_line(i + 1, e, True) for i, e in enumerate(evs)]
        self.head = 20
        self.side = stubs.Sidecar(2)
        self.side.datasets["main"] = stubs.Dataset(
            [(d["_id"], gen.snapshot_line(d)) for d in self.snap], self.oplog,
            visible=lambda: self.head)
        self.side.server.start()
        self.es = stubs.EsStub(2)
        self.es.server.start()

    def tearDown(self):
        self.side.server.stop()
        self.es.server.stop()

    def get(self, path):
        with urllib.request.urlopen(self.side.server.url + "/main" + path) as r:
            return r.read()

    def test_snapshot_paging_and_sharding(self):
        seen = []
        for shard in range(3):
            cursor = None
            while True:
                q = "/snapshot/%s?shard=%d&shards=3&limit=4" % (gen.NS, shard)
                if cursor:
                    q += "&fromId=" + cursor
                rows = [json.loads(l) for l in self.get(q).splitlines() if l]
                ids = [r["id"] for r in rows]
                self.assertEqual(ids, sorted(ids))
                fresh = [i for i in ids if i != cursor]
                seen += fresh
                if len(rows) < 4:
                    break
                cursor = ids[-1]
        self.assertEqual(sorted(seen), sorted(d["_id"] for d in self.snap))

    def test_oplog_protocol(self):
        self.assertEqual(json.loads(self.get("/oplog/latest")), {"seq": 20})
        rows = [json.loads(l) for l in self.get("/oplog?from=5&to=30").splitlines()]
        self.assertEqual([r["seq"] for r in rows], list(range(6, 21)))  # head caps at 20
        self.head = 30
        self.assertEqual(json.loads(self.get("/oplog/latest")), {"seq": 30})

    def test_bulk_positional_acks(self):
        body = (b'{"index":{"_index":"i1","_type":"t","_id":"a","_parent":"p"}}\n'
                b'{"_id":"a","rev":4}\n'
                b'{"delete":{"_index":"i1","_type":"t","_id":"b"}}\n')
        req = urllib.request.Request(self.es.server.url + "/_bulk", data=body, method="POST")
        with urllib.request.urlopen(req) as r:
            resp = json.loads(r.read())
        self.assertEqual([list(i)[0] for i in resp["items"]], ["index", "delete"])
        self.assertTrue(all(next(iter(i.values()))["status"] < 300 for i in resp["items"]))
        ix = self.es.indices["i1"]
        self.assertEqual(ix.docs["a"], (b'{"_id":"a","rev":4}', "p"))
        self.assertEqual(ix.docs["b"], (None, None))
        self.assertIsNotNone(self.es.wait_rev("i1", "a", 4, 1))

    def test_mongo_http_source_reads_the_stub(self):
        """The engine's own MongoHttpSource against the stub sidecar."""
        cp = run.build()
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, "-Xmx1g", "-XX:-UsePerfData"]
        for p in run.ADD_OPENS:
            cmd += ["--add-opens", p + "=ALL-UNNAMED"]
        work = os.path.join(run.BUILD, "selftest")
        os.makedirs(work, exist_ok=True)
        cmd += ["-Djava.io.tmpdir=" + work, "-cp", cp, "graftbench.SidecarRead",
                self.side.server.url + "/main", gen.NS]
        env = dict(os.environ)
        env.pop("SPARK_LOCAL_DIRS", None)
        out = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, timeout=170, check=True).stdout
        rows = [json.loads(l[3:]) for l in out.splitlines() if l.startswith(b"@@ ")]
        snap = [r for r in rows if r["kind"] == "snapshot"]
        self.assertEqual([r["id"] for r in snap], sorted(d["_id"] for d in self.snap))
        by_id = {d["_id"]: d for d in self.snap}
        self.assertTrue(all(json.loads(r["doc"]) == by_id[r["id"]] for r in snap))
        ops = [r for r in rows if r["kind"] == "oplog"]
        self.assertEqual([r["ts"] for r in ops], [gen.ts_of(s) for s in range(1, 21)])


if __name__ == "__main__":
    unittest.main()
