#!/usr/bin/env python3
"""Seeded inputs of the perfbench workloads, drawn from the committed
sample of the repository's test data (``perfbench/data``, made by
``data/make_data.py``).

Everything the engine reads comes from here, as files: changelog topic
files in the fixture line format (``keyJson`` line, then ``valueJson``
line; an empty value line is a tombstone) and a JSON-lines document
corpus. The same seed always gives byte-identical files.

* ``cdc_bootstrap``: the sf0.001 TPC-H tables, whole, replayed as insert
  changelogs in two interleaved batches (the seed assigns each record to
  one) plus one batch of order tombstones (a seeded 1 in 37 of the orders).
* ``cdc_trickle``: the dump of a seeded subset of the sf0.001 customers
  (150 orders) with their orders and lineitems and the whole nation and
  part tables;
  then the separate load generator (``gen.py live``) appends the change mix.
* ``neardup``: a seeded sample of the sf0.1 documents corpus made of whole
  near-duplicate clusters, so that the sample keeps the corpus's
  near-duplicate structure.

Two entry points:

* ``python3 gen.py static <workload> <seed> <outdir> <scale>`` writes the
  inputs that exist before the engine starts plus ``inputs.json`` with
  their properties.
* ``python3 gen.py live <seed> <outdir> <open_s> <rate> <bursts>
  <burst_records>`` is the load generator of ``cdc_trickle``. It appends
  change records to ``main/topics/<entity>.json`` after the dump: the
  catch-up bursts, then the open-loop schedule. It coordinates with the
  engine only through marker files in ``<outdir>/ctl``.
"""
import gzip
import json
import os
import random
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

# Sizes per scale. ``full`` is what the timed runs use; ``smoke`` is the
# self-check. ``None`` orders means the whole sf0.001 tables.
SCALES = {
    "full": {"orders": None, "docs": 300, "trickle_orders": 150},
    "smoke": {"orders": 100, "docs": 100, "trickle_orders": 60},
}

ENTITIES = ["orders", "customer", "nation", "lineitem", "part"]
KEYS = {"orders": ["o_orderkey"], "customer": ["c_custkey"],
        "nation": ["n_nationkey"], "lineitem": ["l_linenumber", "l_orderkey"],
        "part": ["p_partkey"]}
STATUS = ["F", "O", "P"]


def key_of(entity, row):
    return {k: row[k] for k in KEYS[entity]}


def pk(entity, row):
    return tuple(row[k] for k in KEYS[entity])


def money(rng, lo, hi):
    return round(rng.uniform(lo, hi), 2)


def load_tables():
    """The sf0.001 tables, rows in file order (lineitem keys repeat: the
    later row of a key is an update of the earlier one)."""
    with gzip.open(os.path.join(DATA, "tpch_sf0.001.json.gz"), "rt") as f:
        return json.load(f)


def load_corpus():
    with gzip.open(os.path.join(DATA, "documents_sf0.1.jsonl.gz"), "rt") as f:
        return [json.loads(line) for line in f]


def subset(rows, rng, n_orders):
    """The rows of a seeded subset of the customers that together hold
    ``n_orders`` orders, with all their orders and those orders' lineitems,
    and the whole nation and part tables: the orders-per-customer and
    lineitems-per-order fan-outs stay those of the full tables, and every
    seed has the same number of orders."""
    out = {e: list(rows[e]) for e in ENTITIES}
    if n_orders is None:
        return out
    per = {}
    for r in rows["orders"]:
        per[r["o_custkey"]] = per.get(r["o_custkey"], 0) + 1
    order = sorted(per)
    rng.shuffle(order)
    cust, total = set(), 0
    for c in order:
        if total + per[c] <= n_orders:
            cust.add(c)
            total += per[c]
    out["customer"] = [r for r in rows["customer"] if r["c_custkey"] in cust]
    out["orders"] = [r for r in rows["orders"] if r["o_custkey"] in cust]
    keep = {r["o_orderkey"] for r in out["orders"]}
    out["lineitem"] = [r for r in rows["lineitem"] if r["l_orderkey"] in keep]
    return out


def apply(records):
    """Final table state after replaying records in offset order."""
    t = {e: {} for e in ENTITIES}
    for e, k, v in records:
        kt = tuple(k[c] for c in KEYS[e])
        if v is None:
            t[e].pop(kt, None)
        else:
            t[e][kt] = v
    return t


def fanouts(t):
    """Join fan-outs of a table state: lineitems per order, orders per
    customer, lineitems per part (mean, max)."""
    def count(rows, col, keys):
        c = {k: 0 for k in keys}
        for r in rows:
            c[r[col]] = c.get(r[col], 0) + 1
        v = list(c.values()) or [0]
        return [round(statistics.mean(v), 3), max(v)]
    return {"lineitems_per_order": count(t["lineitem"].values(), "l_orderkey",
                                         [k[0] for k in t["orders"]]),
            "orders_per_customer": count(t["orders"].values(), "o_custkey",
                                         [k[0] for k in t["customer"]]),
            "lineitems_per_part": count(t["lineitem"].values(), "l_partkey",
                                        [k[0] for k in t["part"]])}


def pair_text(entity, key, value):
    """One whole key/value pair: the unit every append writes at once."""
    v = "" if value is None else json.dumps(value, separators=(",", ":"))
    return json.dumps(key, separators=(",", ":")) + "\n" + v + "\n"


def write_topics(path, records):
    """records: list of (entity, key, value|None) in offset order."""
    os.makedirs(path, exist_ok=True)
    out = {e: [] for e in ENTITIES}
    for e, k, v in records:
        out[e].append(pair_text(e, k, v))
    for e in ENTITIES:
        with open(os.path.join(path, e + ".json"), "w") as f:
            f.write("".join(out[e]))
    return {e: len(out[e]) for e in ENTITIES}


def write_final(path, tables):
    os.makedirs(path, exist_ok=True)
    for e in ENTITIES:
        with open(os.path.join(path, e + ".jsonl"), "w") as f:
            for r in tables[e].values():
                f.write(json.dumps(r, separators=(",", ":")) + "\n")


def bootstrap_records(rows, rng):
    """Two interleaved insert batches (the seed picks each record's batch)
    and one batch of order tombstones; returns (records, per-batch
    per-entity pair ranges)."""
    inserts = [[], []]
    for e in ENTITIES:
        for r in rows[e]:
            inserts[rng.randrange(2)].append((e, key_of(e, r), r))
    orders = sorted(r["o_orderkey"] for r in rows["orders"])
    doomed = sorted(rng.sample(orders, max(1, len(orders) // 37)))
    batches = inserts + [[("orders", {"o_orderkey": k}, None) for k in doomed]]
    ranges, pos, records = [], {e: 0 for e in ENTITIES}, []
    for recs in batches:
        rng_b = {}
        for e in ENTITIES:
            n = sum(1 for r in recs if r[0] == e)
            if n:
                rng_b[e] = [pos[e], pos[e] + n]
                pos[e] += n
        ranges.append(rng_b)
        # offset order inside one entity file follows the batch order
        records.extend(sorted(recs, key=lambda r: ENTITIES.index(r[0])))
    return records, ranges


def corpus_sample(docs, rng, n):
    """n documents made of whole near-duplicate clusters in seeded order."""
    units = {}
    for d in docs:
        units.setdefault(d["cluster"], []).append(d)
    order = sorted(units)
    rng.shuffle(order)
    out = []
    for c in order:
        if len(out) + len(units[c]) <= n:
            out += units[c]
        if len(out) == n:
            break
    return sorted(out, key=lambda d: d["doc_id"])


def corpus_props(docs):
    words = [len(d["text"].split(" ")) for d in docs]
    grams = [{t[i:i + 5] for i in range(max(len(t) - 4, 1))} for t in (d["text"] for d in docs)]
    sizes = {}
    for d in docs:
        sizes[d["cluster"]] = sizes.get(d["cluster"], 0) + 1
    by_size = {}
    for s in sizes.values():
        if s > 1:
            by_size[s] = by_size.get(s, 0) + 1
    return {"docs": len(docs), "words_mean": round(statistics.mean(words), 1),
            "words_min": min(words), "words_max": max(words),
            "vocabulary": len({w for d in docs for w in d["text"].split(" ")}),
            "gram_universe": len(set().union(*grams)),
            "grams_per_doc_mean": round(statistics.mean(len(g) for g in grams), 1),
            "docs_in_clusters": sum(s for s in sizes.values() if s > 1),
            "clusters_by_size": {str(k): v for k, v in sorted(by_size.items())}}


def static(workload, seed, out, scale):
    os.makedirs(out, exist_ok=True)
    props = {"workload": workload, "seed": seed, "scale": scale}
    sc = SCALES[scale]
    rng = random.Random("%s/%d/main" % (workload, seed))
    d = os.path.join(out, "main")
    if workload == "cdc_bootstrap":
        records, ranges = bootstrap_records(subset(load_tables(), rng, sc["orders"]), rng)
        counts = write_topics(os.path.join(d, "topics"), records)
        t = apply(records)
        write_final(os.path.join(d, "final"), t)
        with open(os.path.join(d, "batches.json"), "w") as f:
            json.dump(ranges, f)
        tombstones = ranges[-1]["orders"][1] - ranges[-1]["orders"][0]
        props.update(records=len(records), batches=len(ranges), per_entity=counts,
                     distinct_keys=sum(len(v) for v in apply(
                         [r for r in records if r[2] is not None]).values()),
                     tombstone_share=round(tombstones / len(records), 5),
                     fanouts=fanouts(t))
    elif workload == "cdc_trickle":
        rows = subset(load_tables(), rng, sc["trickle_orders"])
        records = [(e, key_of(e, r), r) for e in ENTITIES for r in rows[e]]
        counts = write_topics(os.path.join(d, "topics"), records)
        t = apply(records)
        with open(os.path.join(d, "tables.json"), "w") as f:
            json.dump({e: list(t[e].values()) for e in ENTITIES}, f)
        with open(os.path.join(d, "dump.json"), "w") as f:
            json.dump(counts, f)
        props.update(dump_records=len(records), per_entity=counts, fanouts=fanouts(t))
    else:
        docs = corpus_sample(load_corpus(), rng, sc["docs"])
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "documents.jsonl"), "w") as f:
            for x in docs:
                f.write(json.dumps({"doc_id": x["doc_id"], "text": x["text"]}) + "\n")
        props.update(corpus_props(docs))
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(props, f)


# ---- live load generator (cdc_trickle) --------------------------------

class Mix:
    """The cdc_trickle change mix over the generator's own table state."""
    WEIGHTS = [("orders_update", 30), ("fk_flip", 15), ("customer_update", 15),
               ("lineitem_update", 25), ("tombstone_reinsert", 15)]
    HOT_SHARE = 0.5     # share of customer updates that hit a hot customer
    HOT_CUSTOMERS = 3   # how many customers are hot
    ENTITY = {"orders_update": "orders", "fk_flip": "orders", "customer_update": "customer",
              "lineitem_update": "lineitem", "tombstone_reinsert": "orders"}

    def __init__(self, rng, tables):
        self.rng, self.t = rng, tables
        self.part_keys = sorted(k[0] for k in tables["part"])
        self.cust_keys = sorted(tables["customer"])
        self.by_cust = {}
        for k, r in tables["orders"].items():
            self.by_cust.setdefault(r["o_custkey"], set()).add(k)
        self.stats = {name: 0 for name, _ in self.WEIGHTS}
        self.stats.update(records=0, tombstones=0, hot=0, keys=set(), fanout=[])
        self.pending = []   # delayed reinserts: (due_index, record)

    def _emit(self, e, row, value):
        self.stats["records"] += 1
        self.stats["keys"].add((e, pk(e, row)))
        if value is None:
            self.stats["tombstones"] += 1
            self.t[e].pop(pk(e, row), None)
        else:
            self.t[e][pk(e, value)] = value
        return (e, key_of(e, row), value)

    def next(self, index, entity=None):
        """Records due at schedule position ``index`` (one record), drawn
        from the kinds that change ``entity`` if it is given."""
        if self.pending and self.pending[0][0] <= index:
            e, row = self.pending.pop(0)[1]
            return [self._emit(e, row, row)]
        kinds = [(k, w) for k, w in self.WEIGHTS if entity is None or self.ENTITY[k] == entity]
        x = self.rng.randrange(sum(w for _, w in kinds))
        for kind, w in kinds:
            if x < w:
                break
            x -= w
        live_orders = list(self.t["orders"].values())
        if kind == "customer_update":
            if self.rng.random() < self.HOT_SHARE:
                c = self.cust_keys[self.rng.randrange(self.HOT_CUSTOMERS)]
                self.stats["hot"] += 1
            else:
                c = self.rng.choice(self.cust_keys)
            r = dict(self.t["customer"][c], c_acctbal=money(self.rng, -999, 9999))
            self.stats["fanout"].append(len(self.by_cust.get(c[0], ())))
            out = [self._emit("customer", r, r)]
        elif kind == "lineitem_update":
            o = self.rng.choice(live_orders)["o_orderkey"]
            ks = [k for k in ((ln, o) for ln in range(1, 8)) if k in self.t["lineitem"]]
            if ks:
                r = dict(self.t["lineitem"][self.rng.choice(ks)],
                         l_quantity=float(self.rng.randint(1, 50)),
                         l_partkey=self.rng.choice(self.part_keys))
            else:
                r = {"l_orderkey": o, "l_linenumber": 1,
                     "l_partkey": self.rng.choice(self.part_keys),
                     "l_quantity": float(self.rng.randint(1, 50)),
                     "l_extendedprice": money(self.rng, 900, 100000),
                     "l_discount": round(self.rng.randint(0, 10) / 100.0, 2),
                     "l_returnflag": self.rng.choice("ANR"),
                     "l_linestatus": self.rng.choice("OF")}
            out = [self._emit("lineitem", r, r)]
        else:
            r = dict(self.rng.choice(live_orders))
            if kind == "orders_update":
                r["o_totalprice"] = money(self.rng, 1000, 400000)
                r["o_orderstatus"] = self.rng.choice(STATUS)
                out = [self._emit("orders", r, r)]
            elif kind == "fk_flip":
                old = r["o_custkey"]
                r["o_custkey"] = self.rng.choice(self.cust_keys)[0]
                self.by_cust.get(old, set()).discard((r["o_orderkey"],))
                self.by_cust.setdefault(r["o_custkey"], set()).add((r["o_orderkey"],))
                out = [self._emit("orders", r, r)]
            else:  # tombstone now, the same row re-inserted 20 positions later
                out = [self._emit("orders", r, None)]
                self.pending.append((index + 20, ("orders", r)))
        self.stats[kind] += 1
        return out

    def flush_pending(self):
        out = [self._emit(e, row, row) for _, (e, row) in self.pending]
        self.pending = []
        return out

    def summary(self):
        s = self.stats
        fo = s["fanout"] or [0]
        n = max(s["records"], 1)
        return {"records": s["records"], "distinct_keys": len(s["keys"]),
                "tombstone_share": round(s["tombstones"] / n, 5),
                "fk_flip_share": round(s["fk_flip"] / n, 5),
                "fanout_mean": round(sum(fo) / len(fo), 3), "fanout_max": max(fo),
                "hot_key_share": round(s["hot"] / max(s["customer_update"], 1), 5)}


class Appender:
    """Appends whole key/value pairs to the topic files and keeps the due
    time of every appended pair, by pair index."""

    def __init__(self, topic_dir, start):
        self.fds = {e: os.open(os.path.join(topic_dir, e + ".json"), os.O_WRONLY | os.O_APPEND)
                    for e in ENTITIES}
        self.count = dict(start)
        self.due = {e: {} for e in ENTITIES}
        self.late = []

    def append(self, records, dues, track=True):
        chunks = {}
        for (e, k, v), d in zip(records, dues):
            chunks.setdefault(e, []).append(pair_text(e, k, v))
            if track:
                self.due[e][self.count[e]] = d
            self.count[e] += 1
        for e, parts in chunks.items():
            # One write(2) call per append, unbuffered. A buffered file
            # splits a large append (a burst) into two calls, and a trigger
            # that counts lines between them could plan a read of a pair
            # that is not yet whole.
            data = "".join(parts).encode()
            while data:
                data = data[os.write(self.fds[e], data):]
        if dues and track:
            self.late.append(time.time() * 1000.0 - min(dues))

    def close(self):
        for fd in self.fds.values():
            os.close(fd)


def wait_for(path, timeout_s=150.0):
    end = time.time() + timeout_s
    while not os.path.exists(path):
        if time.time() > end:
            raise SystemExit("generator: timed out waiting for " + path)
        time.sleep(0.005)


def put(path, obj):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def live(seed, out, open_s, rate, bursts, burst_records):
    """A warm-up append (before the engine starts, so the bootstrap batch
    reads it with the dump), then the catch-up bursts, then the open-loop
    phase."""
    ctl = os.path.join(out, "ctl")
    os.makedirs(ctl, exist_ok=True)
    d = os.path.join(out, "main")
    with open(os.path.join(d, "tables.json")) as f:
        tables = {e: {pk(e, r): r for r in rows} for e, rows in json.load(f).items()}
    with open(os.path.join(d, "dump.json")) as f:
        dump = json.load(f)
    mix = Mix(random.Random("cdc_trickle/%d/live" % seed), tables)
    app = Appender(os.path.join(d, "topics"), dump)
    now_ms = lambda: time.time() * 1000.0
    # warm-up: one small append of the change mix (set-up time)
    idx, recs = 0, []
    while idx < 30:
        recs += mix.next(idx)
        idx += 1
    recs += mix.flush_pending()
    app.append(recs, [now_ms()] * len(recs), track=False)
    warm = dict(app.count)
    put(os.path.join(ctl, "warm.sent"), warm)
    wait_for(os.path.join(ctl, "go"))
    # catch-up: each backlog burst lands at once and is timed until it
    # drains; the next one waits for that. A burst holds only orders
    # changes (updates, FK flips, tombstone-then-reinsert pairs), so it is
    # one append to one topic file: a burst spread over several files could
    # be split between two batches by a trigger that counts the files while
    # they are being written. The bursts come first so that each one finds
    # the same number of batches before it: the state's storage grows with
    # every batch, and the open loop's batch count varies with host speed.
    idx += 100
    sent = []
    for b in range(bursts):
        recs = []
        while len(recs) < burst_records:
            recs += mix.next(idx, entity="orders")
            idx += 1
        recs += mix.flush_pending()
        t_b = now_ms()
        app.append(recs, [t_b] * len(recs), track=False)
        sent.append({"t_ms": t_b, "records": len(recs), "counts": dict(app.count)})
        put(os.path.join(ctl, "burst%d.sent" % b), sent[-1])
        wait_for(os.path.join(ctl, "burst%d.drained" % b))
    # open loop: record i is due at t0 + i / rate, whatever the engine does
    idx += 100
    t0 = now_ms()
    n_open = int(open_s * rate)
    i = 0
    while i < n_open:
        due_i = t0 + i * 1000.0 / rate
        if due_i > now_ms():
            time.sleep(min((due_i - now_ms()) / 1000.0, 0.02))
            continue
        recs, dues, now = [], [], now_ms()
        while i < n_open and t0 + i * 1000.0 / rate <= now:
            for r in mix.next(idx + i):
                recs.append(r)
                dues.append(t0 + i * 1000.0 / rate)
            i += 1
        app.append(recs, dues)
    late = list(app.late)
    # re-inserts still pending go out at once, untimed
    pending = mix.flush_pending()
    app.append(pending, [now_ms()] * len(pending), track=False)
    app.close()
    write_final(os.path.join(d, "final"), tables)
    put(os.path.join(out, "live.json"),
        {"dump_counts": dump, "warm_counts": warm, "end_counts": dict(app.count),
         "due_ms": {e: sorted(v.items()) for e, v in app.due.items()},
         "late_ms": late, "bursts": sent, "open_t0_ms": t0, "rate": rate,
         "props": mix.summary()})
    put(os.path.join(ctl, "open.sent"), dict(app.count))


if __name__ == "__main__":
    if sys.argv[1] == "static":
        static(sys.argv[2], int(sys.argv[3]), sys.argv[4], sys.argv[5])
    elif sys.argv[1] == "live":
        live(int(sys.argv[2]), sys.argv[3], float(sys.argv[4]), float(sys.argv[5]),
             int(sys.argv[6]), int(sys.argv[7]))
    else:
        raise SystemExit("usage: gen.py static|live ...")
