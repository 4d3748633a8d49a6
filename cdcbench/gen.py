"""Deterministic inputs and the reference model for the CDC benchmark.

Everything here is a pure function of the seed: the snapshot documents,
the oplog events and the byte streams the stubs serve. The model folds
the same events into an in-memory copy of the collection (MongoDB
semantics) and derives the sink documents a correct connector must leave
in Elasticsearch and in its state store.
"""
import itertools
import json
import random

NS = "app.banners"
DB, COLL = NS.split(".")
# source path -> sink path, the task's transform.mapping
MAPPING = {
    "name": "name",
    "weight": "weight",
    "deleted": "isDeleted",
    "rev": "rev",
    "tags": "tags",
    "profile": "profile",
    "stats.views": "views",
}
PARENT = "campaign"
TS_BASE = 1_700_000_000
SENTINEL = "d9999999"

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu amber basil cedar dune ember fern glade harbor iris jade "
    "kestrel lotus maple nectar onyx pine quartz river sage thistle umber vale "
    "willow yarrow zephyr aurora breeze canyon drift eclipse fjord grove haze "
    "island jungle knoll lagoon meadow"
).split()

# op mix of the tail workload: (kind, weight). The weights are an
# assumption, not taken from a measured MongoDB workload. Full
# replacements are left out: the engine's per-batch compaction
# (Transformer.mergeOplogs, as in the reference connector) loses a
# $set/$unset that follows a replacement of the same key in one
# micro-batch, and a replacement that follows the key's insert, so a mix
# with replacements does not end with correct outputs.
OP_MIX = (
    ("set_mapped", 35),
    ("set_unmapped", 15),
    ("unset", 10),
    ("insert", 15),
    ("delete", 15),
)


def dumps(o):
    return json.dumps(o, separators=(",", ":"))


def doc_id(n):
    return "d%07d" % n


def ts_of(seq):
    """Packed BSON timestamp (seconds << 32 | increment), 1000 ops a second."""
    return ((TS_BASE + seq // 1000) << 32) | (seq % 1000 + 1)


class Docs:
    """Roughly 1 KB nested documents."""

    def __init__(self, rng):
        self.rng = rng

    def text(self, n):
        return " ".join(self.rng.choices(WORDS, k=n))

    def tags(self):
        return self.rng.choices(WORDS, k=self.rng.randint(2, 5))

    def doc(self, key, rev):
        r = self.rng
        return {
            "_id": doc_id(key),
            "name": self.text(3),
            "weight": round(r.uniform(0.01, 99.99), 2),
            "deleted": r.random() < 0.1,
            "rev": rev,
            PARENT: "cmp%03d" % (key % 97),
            "tags": self.tags(),
            "profile": {
                "city": r.choice(WORDS),
                "bio": self.text(30),
                "scores": [r.randrange(1000) for _ in range(5)],
                "address": {"street": self.text(3), "zip": "%05d" % r.randrange(100000)},
            },
            "stats": {"views": r.randrange(10 ** 6), "clicks": r.randrange(10 ** 4)},
            "blob": self.text(45),
        }


class Keys:
    """Live ids, picked uniformly."""

    def __init__(self, rng, ids):
        self.rng = rng
        self.live = list(ids)
        self.pos = {k: i for i, k in enumerate(self.live)}

    def pick(self):
        return self.live[self.rng.randrange(len(self.live))]

    def add(self, k):
        self.pos[k] = len(self.live)
        self.live.append(k)

    def remove(self, k):
        i = self.pos.pop(k)
        last = self.live.pop()
        if last != k:
            self.live[i] = last
            self.pos[last] = i


def snapshot(seed, n_docs):
    """The collection at scan time: n_docs documents plus the sentinel."""
    docs = Docs(random.Random("snapshot-%d" % seed))
    out = [docs.doc(k, 0) for k in range(n_docs)]
    out.append(docs.doc(9999999, 0))
    return out


def events(seed, snap, n_events, sentinel_every):
    """n_events oplog events (seq 1..n) over the snapshot's live ids.

    Every `sentinel_every`-th event is a mapped $set on the sentinel
    document: once the stub has acked it, every earlier event's outcome
    is in the sink too (the engine applies micro-batches serially).
    Returns (op, id, o) tuples; seq = position + 1, rev = seq.
    """
    rng = random.Random("events-%d" % seed)
    docs = Docs(rng)
    keys = Keys(rng, [d["_id"] for d in snap if d["_id"] != SENTINEL])
    next_key = len(snap) + 1
    kinds = [k for k, _ in OP_MIX]
    cum = list(itertools.accumulate(w for _, w in OP_MIX))
    out = []
    for i in range(n_events):
        seq = i + 1
        if seq % sentinel_every == 0:
            out.append(("u", SENTINEL, {"$set": {"weight": seq % 997 + 0.5, "rev": seq}}))
            continue
        kind = rng.choices(kinds, cum_weights=cum)[0]
        if kind == "insert":
            d = docs.doc(next_key, seq)
            keys.add(d["_id"])
            next_key += 1
            out.append(("i", d["_id"], d))
            continue
        k = keys.pick()
        if kind == "delete":
            keys.remove(k)
            out.append(("d", k, {"_id": k}))
        elif kind == "set_mapped":
            s = {"weight": round(rng.uniform(0.01, 99.99), 2), "rev": seq}
            if rng.random() < 0.3:
                s["name"] = docs.text(3)
            out.append(("u", k, {"$set": s}))
        elif kind == "set_unmapped":
            out.append(("u", k, {"$set": {"blob": docs.text(20)}}))
        else:  # unset
            out.append(("u", k, {"$set": {"rev": seq}, "$unset": {"tags": True}}))
    return out


def oplog_line(seq, ev, with_seq):
    op, k, o = ev
    rec = {"seq": seq} if with_seq else {}
    rec.update({"ts": ts_of(seq), "op": op, "ns": NS, "id": k, "doc": o})
    return dumps(rec).encode()


def snapshot_line(d):
    return dumps({"id": d["_id"], "doc": d}).encode()


def has_outcome(ev):
    """Events a correct connector turns into a sink write (an update
    touching only unmapped fields has none)."""
    op, _, o = ev
    if op != "u":
        return True
    return any(not k.startswith("$") for k in o) or any(
        src.split(".")[0] in o.get("$set", {}) or src.split(".")[0] in o.get("$unset", {})
        for src in MAPPING)


# ---------------------------------------------------------------- the model
_MISSING = object()


def get_path(doc, path):
    cur = doc
    for part in path.split("."):
        if not isinstance(cur, dict) or part not in cur:
            return _MISSING
        cur = cur[part]
    return cur


class Model:
    """The collection as MongoDB holds it after each op."""

    def __init__(self, snap):
        # ops only ever replace top-level fields, so shallow copies suffice
        self.coll = {d["_id"]: dict(d) for d in snap}

    def apply(self, ev):
        op, k, o = ev
        if op == "i":
            self.coll[k] = dict(o)
        elif op == "d":
            self.coll.pop(k, None)
        elif any(not f.startswith("$") for f in o):
            self.coll[k] = dict(o, _id=k)
        else:
            d = self.coll[k]
            for f, v in o.get("$set", {}).items():
                d[f] = v
            for f in o.get("$unset", {}):
                d.pop(f, None)

    def expected(self):
        """id -> (sink doc, parent routing value)."""
        return {k: sink_of(d) for k, d in self.coll.items()}


def sink_of(doc):
    out = {"_id": doc["_id"]}
    for src, dst in MAPPING.items():
        v = get_path(doc, src)
        if v is not _MISSING:
            out[dst] = v
    return out, doc.get(PARENT)
