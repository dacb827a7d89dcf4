"""Seeded input generator for the benchmark, kept apart from the program.

Every input the program sees is produced here from the workload seed, and
nothing else is handed to it: the same seed gives byte-identical files, a
different seed different ones. Next to the inputs it writes
`manifest.json`, the expected outputs the benchmark checks against:

- row counts and an order-independent row hash (`row_crc`) per stream;
- the STATE value each sync must echo;
- the query tables' row and byte counts.

The row hash is the sum of CRC-32s of '|'-joined field strings, so the JVM
side recomputes it from the written parquet with
`sum(crc32(concat_ws('|', ...)))`.
"""
import json
import os
import random
import zlib
from datetime import datetime, timedelta

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
OSES = ["ios", "android", "linux", "windows", "macos"]
COUNTRIES = ["DE", "US", "FR", "BR", "IN", "JP", "ES", "NG"]
T0 = datetime(2024, 1, 1)

EVENTS_SCHEMA = {
    "type": "object",
    "properties": {
        "id": {"type": "integer"},
        "user_id": {"type": "integer"},
        "type": {"type": "string"},
        "ts": {"type": "string", "format": "date-time"},
        "amount": {"type": "number"},
        "context": {
            "type": "object",
            "properties": {
                "device": {"type": "object", "properties": {
                    "os": {"type": "string"},
                    "version": {"type": "integer"}}},
                "geo": {"type": "object", "properties": {
                    "country": {"type": "string"},
                    "city": {"type": "string"}}},
            },
        },
    },
}
USERS_SCHEMA = {
    "type": "object",
    "required": ["user_id", "name"],
    "properties": {
        "user_id": {"type": "integer"},
        "name": {"type": "string"},
        "email": {"type": ["null", "string"]},
        "tier": {"type": "string"},
    },
}
PLANS_SCHEMA = {
    "type": "object",
    "properties": {
        "plan_id": {"type": "integer"},
        "name": {"type": "string"},
        "price": {"type": "number"},
    },
}
# Flattened output columns each check hashes, in hash order. A `cents:`
# prefix marks a double column hashed as CAST(round(x * 100) AS BIGINT).
HASH_COLUMNS = {
    "events": ["id", "user_id", "type", "ts", "cents:amount",
               "context__device__os", "context__device__version",
               "context__geo__country", "context__geo__city"],
    "users": ["user_id", "name", "email", "tier"],
    "plans": ["plan_id", "name", "cents:price"],
}

def row_crc(fields):
    return zlib.crc32("|".join(str(f) for f in fields).encode("utf-8"))


def _line(obj):
    return json.dumps(obj, separators=(",", ":"))


def _money(cents):
    return "%d.%02d" % divmod(cents, 100)


def _ts(seconds):
    return (T0 + timedelta(seconds=seconds)).strftime("%Y-%m-%dT%H:%M:%SZ")


class _Tally:
    """Expected count and row hash of one stream."""

    def __init__(self):
        self.count, self.hash = 0, 0

    def add(self, fields):
        self.count += 1
        self.hash += row_crc(fields)

    def as_json(self):
        return {"count": self.count, "hash": self.hash}


def _event_lines(rng, first_id, n, tally):
    """`n` events RECORD lines with ids from `first_id` on."""
    out = []
    for i in range(first_id, first_id + n):
        user = rng.randrange(5000)
        etype = rng.choice(EVENT_TYPES)
        ts = _ts(i * 7 + rng.randrange(7))
        cents = int(rng.expovariate(1 / 5000.0))
        os_ = rng.choice(OSES)
        ver = rng.randrange(8, 18)
        country = rng.choice(COUNTRIES)
        city = "c%d" % rng.randrange(200)
        out.append(
            '{"type":"RECORD","stream":"events","record":{"id":%d,'
            '"user_id":%d,"type":"%s","ts":"%s","amount":%s,"context":'
            '{"device":{"os":"%s","version":%d},"geo":{"country":"%s",'
            '"city":"%s"}}}}' % (i, user, etype, ts, _money(cents), os_, ver,
                                 country, city))
        tally.add([i, user, etype, ts, cents, os_, ver, country, city])
    return out


def _schema_line(stream, schema, keys):
    return _line({"type": "SCHEMA", "stream": stream, "schema": schema,
                  "key_properties": keys})


def _write(path, lines):
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")
    return os.path.getsize(path)


def gen_syncs(out, seed, n_syncs, n_warmup=0, events_per_sync=4000,
              users_per_sync=60, plans_per_sync=40):
    """`n_warmup` warm-up sync files, then `n_syncs` Singer files, one per
    sync into the same destination; the expectations cover the latter."""
    rng = random.Random(seed)
    ev, us, pl = _Tally(), _Tally(), None
    warm, syncs = [], []
    for k in range(n_warmup + n_syncs):
        timed = k >= n_warmup
        tally = (lambda t: t) if timed else (lambda t: _Tally())
        lines = [_schema_line("events", EVENTS_SCHEMA, ["id"]),
                 _schema_line("users", USERS_SCHEMA, ["user_id"]),
                 _schema_line("plans", PLANS_SCHEMA, ["plan_id"])]
        lines += _event_lines(rng, k * events_per_sync, events_per_sync, tally(ev))
        lines.append(_line({"type": "STATE", "value": {"bookmarks": {
            "events": {"last_id": (k + 1) * events_per_sync - 1}}}}))
        for j in range(users_per_sync):
            uid = k * users_per_sync + j
            name = "user%d_%d" % (uid, rng.randrange(1000))
            email = "%s@example.org" % name
            tier = rng.choice(["free", "pro", "team"])
            lines.append(_line({"type": "RECORD", "stream": "users", "record": {
                "user_id": uid, "name": name, "email": email, "tier": tier}}))
            tally(us).add([uid, name, email, tier])
        # FULL_TABLE: the whole table again under a new version each sync
        version = 1000 + k
        pl = _Tally()
        for p in range(plans_per_sync):
            cents = rng.randrange(100, 100000)
            name = "plan%d_%d" % (p, rng.randrange(1000))
            lines.append(_line({"type": "RECORD", "stream": "plans",
                                "version": version, "record": {
                                    "plan_id": p, "name": name,
                                    "price": float(_money(cents))}}))
            pl.add([p, name, cents])
        lines.append(_line({"type": "ACTIVATE_VERSION", "stream": "plans",
                            "version": version}))
        state = {"bookmarks": {"events": {"last_id": (k + 1) * events_per_sync - 1},
                               "users": {"last_id": (k + 1) * users_per_sync - 1},
                               "plans": {"version": version}}, "sync": k}
        lines.append(_line({"type": "STATE", "value": state}))
        path = os.path.join(out, "%s_%04d.jsonl" % ("sync" if timed else "warm", k))
        size = _write(path, lines)
        (syncs if timed else warm).append({
            "file": os.path.basename(path), "bytes": size,
            "rows": events_per_sync + users_per_sync + plans_per_sync,
            "state": json.dumps(state, separators=(",", ":"))})
    return {"warmup_syncs": warm, "syncs": syncs,
            "expect": {"events": ev.as_json(), "users": us.as_json(),
                       "plans": dict(pl.as_json(), version=1000 + n_warmup + n_syncs - 1)}}


WORDS = ("a the batch part spark line column order small sort fast value "
         "scan hash slow group agg filter query big key window row table "
         "stream merge data vector join customer").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def gen_tables(out, seed, sf):
    """The query tables the query_mix entries read, at scale factor `sf`,
    shaped like the TPC-H-style tables the query registry is written for."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_li = int(6_000_000 * sf)
    n_orders, n_parts, n_supp = int(1_500_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_cust, n_events = int(150_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    money = lambda lo, hi, n: rng.integers(lo, hi, n) / 100.0
    tables = {}
    ship0 = np.datetime64("1995-01-02")
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_li),
        "l_partkey": rng.integers(0, n_parts, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(90000, 10500000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(
            (ship0 + rng.integers(0, 2499, n_li).astype("timedelta64[D]"))
            .astype("datetime64[us]")),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-100000, 1000000, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    gaps = rng.integers(1, 52_000_000, n_events)  # microseconds
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + np.cumsum(gaps).astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_events),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"],
                                 n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": ["src%d" % (i % 20) for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    meta = {}
    for name, t in tables.items():
        path = os.path.join(out, name + ".parquet")
        pq.write_table(t, path)
        meta[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return {"sf": sf, "tables": meta}


def generate(workload, seed, out, **sizes):
    """Write `workload`'s inputs for `seed` into `out`; return the manifest."""
    os.makedirs(out, exist_ok=True)
    if workload == "incremental_syncs":
        m = gen_syncs(out, seed, **sizes)
    elif workload == "query_mix":
        m = gen_tables(out, seed, **sizes)
    else:
        raise ValueError("unknown workload: %s" % workload)
    m.update(workload=workload, seed=seed, hash_columns=HASH_COLUMNS)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    return m
