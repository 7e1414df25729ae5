#!/usr/bin/env python3
"""Seeded input generator: writes the parquet files a workload starts from
and the op stream it runs (ops.json).

    python3 perfbench/gen.py --workload read_mix --seed 1 --seconds 20 --out <dir>

The engine sees only these files. The same seed and seconds give the same
files. Every random choice of a run is made here: the JVM only executes
ops.json in order, so this module alone holds the key scrambles and the Zipf
draws.

ops.json is {"warmup": W, "ops": [...]}: the first W ops are an untimed but
checked warm-up, the rest are timed. The timed part is a fixed number of
whole decks, about seconds * the deck's *_RATE ops, so two commits run
identical work whatever their speed. A deck holds every kind of its part
of the workload in a fixed order: the seed varies the ops' parameters, not
where each kind sits in the stream. The JIT keeps speeding an op kind up
over its first dozen calls, so a kind's k-th sample should come at the
same point of that curve in every run.

read_mix   Two read-only inputs, written once and then only read.
           A lineitem-shaped fact table (ROWS rows, FILES files) in
           l_shipdate order, so the table is clustered on the date; the
           lines of one order are adjacent and share its date, while
           l_orderkey is a scrambled order index (unclustered). Plus an
           orders dimension. Lookup keys are Zipf(ZIPF_S) ranks mapped
           through a random permutation to order indices, so hot orders
           sit anywhere in the table.
           The timed part runs all its SQL decks, then all its curation
           decks: run in between, the curation ops slow the next few SQL
           ops down (by up to 3x for agg), and by how much varies.
           A docs corpus (doc_id, src slice, text) and its embeddings
           (doc_id, vec): a Zipf(DOC_ZIPF_S) vocabulary, EXACT_DUP_RATE exact
           and NEAR_DUP_RATE near duplicates (NEAR_DUP_EDITS tokens
           replaced) within a slice, unit vectors around CENTRES centres
           with duplicates next to their source.
ingest_dml base snapshot (BASE_ROWS rows in id order) and one parquet batch per
           append and merge statement. Point-delete and merge keys are
           Zipf(ZIPF_S) over the base ids; merges draw about half their keys
           from the base, half new. A compaction follows every deck, so
           every sample of a kind meets the table in the same state.
"""
import argparse
import functools
import itertools
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH_1992 = 8036          # 1992-01-02 in days since 1970-01-01
DAYS = 2526                # the date span of the fact table
WORDS = ["carefully", "final", "deposits", "sleep", "quickly", "regular", "ideas", "haggle",
         "furiously", "pending", "accounts", "boost", "blithely", "express", "requests", "nag",
         "slyly", "ironic", "packages", "wake", "bold", "theodolites", "detect", "even",
         "instructions", "cajole", "special", "pinto", "beans", "unusual", "foxes", "integrate"]

READ = dict(ROWS=200_000, FILES=8, LINES_PER_ORDER=4, ZIPF_S=1.1, RANGE_DAYS=25, RANGE_STARTS=10,
            AGG_CUTOFFS=2, JOIN_DAYS=90, JOIN_WINDOWS=2,
            SLICES=4, DOCS_PER_SLICE=500, VOCAB=5000, DOC_ZIPF_S=1.05, MIN_LEN=30, MAX_LEN=60,
            EXACT_DUP_RATE=0.10, NEAR_DUP_RATE=0.10, NEAR_DUP_EDITS=2, DIM=64, CENTRES=32,
            QUERIES=4, SQL_RATE=3.0, CURATION_RATE=0.6)
INGEST = dict(BASE_ROWS=100_000, FILES=8, APPEND_ROWS=2000, MERGE_ROWS=400, RANGE_IDS=64,
              ZIPF_S=1.1, APPEND_BASE=100_000_000, MERGE_BASE=200_000_000, RATE=2.1)

# Each deck repeats some of its fast kinds, so that more than half of its
# ops are fast and the overall p50 falls inside a cluster of like
# latencies, not in the gap between two kinds, where it jumps from run to
# run. In ingest_dml the second fast op is an append just before the
# compaction: a second point delete there left a mask for the compaction
# to fold, which made the compaction slow, and before the merge it made the
# merge a third slower.
# cosine_topk comes three times a curation deck: with three samples a run its
# median spread past its bound, and three times as many place the run's p90
# inside the cluster of cosine_topk latencies instead of at its edge.
SQL_DECK = ["lookup", "range", "stats", "agg", "join", "lookup", "stats"]
CURATION_DECK = ["dedup_exact", "near_dup", "cosine_topk", "cosine_topk", "cosine_topk"]
INGEST_DECK = ["append", "delete_point", "delete_range", "update", "merge", "append", "compact"]
WARMUP_DECKS = 2


def timed_decks(seconds, rate, deck):
    """Whole decks of the timed part."""
    return max(1, math.ceil(seconds * rate / len(deck)))


@functools.lru_cache(maxsize=None)
def zipf_cdf(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(w) / w.sum()


def zipf_ranks(rng, n, s, k):
    """k draws of Zipf(s) ranks over 0..n-1, rank 0 the most frequent."""
    return np.minimum(np.searchsorted(zipf_cdf(n, s), rng.random(k)), n - 1)


def multiplier(n):
    """A unit mod n: i -> i * m mod n scrambles 0..n-1 bijectively."""
    m = 1000003
    while math.gcd(m, n) != 1:
        m += 2
    return m


def pick(rng, choices, n):
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)], pa.string())


def words(rng, n, k):
    cols = [pick(rng, WORDS, n) for _ in range(k)]
    return pc.binary_join_element_wise(*cols, " ")


def dates(days):
    return pa.array((EPOCH_1992 + days).astype(np.int32), pa.date32())


def write_parts(table, out, files):
    os.makedirs(out, exist_ok=True)
    step = math.ceil(table.num_rows / files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(out, f"part-{i:05d}.parquet"))


def write_ops(out, warmup, ops):
    with open(os.path.join(out, "ops.json"), "w") as f:
        json.dump({"warmup": warmup, "ops": ops}, f)


def scan_inputs(rng, out):
    """Writes lineitem and orders; returns the SQL kinds' op maker."""
    c = READ
    n, per = c["ROWS"], c["LINES_PER_ORDER"]
    orders = n // per
    m = multiplier(orders)
    idx = np.arange(n, dtype=np.int64)
    order = idx // per
    order_day = order * DAYS // orders
    fact = pa.table({
        "l_orderkey": pa.array(order * m % orders),
        "l_partkey": pa.array(rng.integers(0, 200_000, n)),
        "l_suppkey": pa.array(rng.integers(0, 10_000, n)),
        "l_linenumber": pa.array((idx % per + 1).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "l_extendedprice": pa.array(rng.integers(90_000, 9_090_000, n) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pick(rng, ["R", "A", "N"], n),
        "l_linestatus": pick(rng, ["O", "F"], n),
        "l_shipdate": dates(order_day + rng.integers(0, 30, n)),
        "l_commitdate": dates(order_day + 30),
        "l_shipmode": pick(rng, ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"], n),
        "l_comment": words(rng, n, 4),
    })
    write_parts(fact, os.path.join(out, "lineitem"), c["FILES"])
    o = np.arange(orders, dtype=np.int64)
    dim = pa.table({
        "o_orderkey": pa.array(o * m % orders),
        "o_custkey": pa.array(rng.integers(0, 150_000, orders)),
        "o_orderstatus": pick(rng, ["O", "F", "P"], orders),
        "o_totalprice": pa.array(rng.integers(100_000, 50_100_000, orders) / 100.0),
        "o_orderdate": dates(o * DAYS // orders),
        "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], orders),
    })
    write_parts(dim, os.path.join(out, "orders"), 2)

    hot = rng.permutation(orders)   # Zipf rank -> order index
    # range starts, agg cutoffs and join windows each cycle through their
    # values in a seeded order: every run covers each value about equally
    # often, so a kind's median does not hang on how often the seed drew a
    # value whose query costs more (one that straddles two files, say)
    range_at = itertools.cycle(rng.permutation(c["RANGE_STARTS"]).tolist())
    agg_at = itertools.cycle(rng.permutation(c["AGG_CUTOFFS"]).tolist())
    join_at = itertools.cycle(rng.permutation(c["JOIN_WINDOWS"]).tolist())

    def op(kind):
        if kind == "lookup":
            r = zipf_ranks(rng, orders, c["ZIPF_S"], 1)[0]
            return {"kind": kind, "key": int(hot[r] * m % orders)}
        if kind == "range":
            step = (DAYS - c["RANGE_DAYS"]) // c["RANGE_STARTS"]
            return {"kind": kind, "start": next(range_at) * step, "days": c["RANGE_DAYS"]}
        if kind == "agg":
            return {"kind": kind, "delta": 60 + 15 * next(agg_at)}
        if kind == "join":
            step = (DAYS - c["JOIN_DAYS"]) // c["JOIN_WINDOWS"]
            return {"kind": kind, "start": next(join_at) * step, "days": c["JOIN_DAYS"]}
        return {"kind": kind}

    return op


def ingest_rows(rng, ids):
    n = len(ids)
    return pa.table({
        "id": pa.array(np.asarray(ids, dtype=np.int64)),
        "grp": pa.array(rng.integers(0, 64, n).astype(np.int32)),
        "day": dates(rng.integers(0, 2000, n)),
        "qty": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "price": pa.array(rng.integers(100, 1_000_100, n) / 100.0),
        "tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "flag": pick(rng, ["A", "B", "C", "D"], n),
        "note": words(rng, n, 3),
    })


def ingest_dml(seed, seconds, out):
    c = INGEST
    rng = np.random.default_rng(seed)
    base = c["BASE_ROWS"]
    write_parts(ingest_rows(rng, np.arange(base)), os.path.join(out, "base"), c["FILES"])
    hot = rng.permutation(base)     # Zipf rank -> base id

    def zipf_keys(k):
        return hot[zipf_ranks(rng, base, c["ZIPF_S"], k)]

    kinds = INGEST_DECK * (WARMUP_DECKS + timed_decks(seconds, c["RATE"], INGEST_DECK))
    ops = []
    for j, kind in enumerate(kinds):
        if kind == "append":
            ids = c["APPEND_BASE"] + j * c["APPEND_ROWS"] + np.arange(c["APPEND_ROWS"])
            d = os.path.join(out, "append", f"b={j}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(ingest_rows(rng, ids), os.path.join(d, "part-0.parquet"))
            ops.append({"kind": kind, "j": j, "ids": [int(ids[0]), int(ids[-1]) + 1]})
        elif kind == "delete_point":
            k = int(zipf_keys(1)[0])
            ops.append({"kind": kind, "j": j, "ids": [k, k + 1]})
        elif kind in ("delete_range", "update"):
            a = int(rng.integers(0, base - c["RANGE_IDS"]))
            ops.append({"kind": kind, "j": j, "ids": [a, a + c["RANGE_IDS"]]})
        elif kind == "merge":
            matched = list(dict.fromkeys(zipf_keys(4 * c["MERGE_ROWS"]).tolist()))[: c["MERGE_ROWS"] // 2]
            fresh = c["MERGE_BASE"] + j * c["MERGE_ROWS"] + np.arange(c["MERGE_ROWS"] - len(matched))
            ids = np.concatenate([np.asarray(matched, dtype=np.int64), fresh])
            d = os.path.join(out, "merge", f"b={j}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(ingest_rows(rng, ids), os.path.join(d, "part-0.parquet"))
            ops.append({"kind": kind, "j": j, "ids": [int(i) for i in ids]})
        else:
            ops.append({"kind": kind, "j": j, "ids": []})
    write_ops(out, WARMUP_DECKS * len(INGEST_DECK), ops)


def unit(v):
    """Unit length, each component inside the engine's documented
    fixed-point range (|x| < 0.6)."""
    v = np.clip(v, -0.55, 0.55)
    return np.clip(v / np.linalg.norm(v), -0.55, 0.55).astype(np.float32)


def corpus_inputs(rng, out):
    """Writes docs and emb; returns the curation kinds' op maker."""
    c = READ
    per, slices, dim = c["DOCS_PER_SLICE"], c["SLICES"], c["DIM"]
    n = slices * per
    vocab = np.array(["w" + np.base_repr(i, 36).lower() for i in range(c["VOCAB"])], dtype=object)
    centres = [unit(rng.standard_normal(dim)) for _ in range(c["CENTRES"])]
    texts, vecs, toks = [None] * n, [None] * n, [None] * n
    for s in range(slices):
        for k in range(per):
            i = s * per + k
            x = rng.random()
            if k > 0 and x < c["EXACT_DUP_RATE"] + c["NEAR_DUP_RATE"]:
                src = s * per + int(rng.integers(k))
                t = list(toks[src])
                if x >= c["EXACT_DUP_RATE"]:
                    for _ in range(c["NEAR_DUP_EDITS"]):
                        t[int(rng.integers(len(t)))] = vocab[zipf_ranks(rng, c["VOCAB"], c["DOC_ZIPF_S"], 1)[0]]
                vecs[i] = unit(vecs[src] + rng.standard_normal(dim) * 0.01)
            else:
                length = c["MIN_LEN"] + int(rng.integers(c["MAX_LEN"] - c["MIN_LEN"]))
                t = list(vocab[zipf_ranks(rng, c["VOCAB"], c["DOC_ZIPF_S"], length)])
                vecs[i] = unit(centres[int(rng.integers(c["CENTRES"]))] + rng.standard_normal(dim) * 0.08)
            toks[i] = t
            texts[i] = " ".join(t)
    ids = pa.array(np.arange(n, dtype=np.int64))
    write_parts(pa.table({"doc_id": ids, "src": pa.array((np.arange(n) // per).astype(np.int32)),
                          "text": pa.array(texts, pa.string())}), os.path.join(out, "docs"), slices)
    write_parts(pa.table({"doc_id": ids, "vec": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32()))}),
                os.path.join(out, "emb"), 4)

    def op(kind):
        if kind == "cosine_topk":
            q = dict.fromkeys(int(x) for x in rng.integers(0, n, c["QUERIES"]))
            return {"kind": kind, "queries": list(q)}
        return {"kind": kind, "slice": int(rng.integers(slices))}

    return op


def read_mix(seed, seconds, out):
    rng = np.random.default_rng(seed)
    scan_op, corpus_op = scan_inputs(rng, out), corpus_inputs(rng, out)
    # warm-up: the curation decks, then the SQL decks, so the timed SQL
    # decks follow SQL ops; a near_dup's second call still takes a third
    # longer than its third
    warmup = CURATION_DECK * WARMUP_DECKS + SQL_DECK * WARMUP_DECKS
    timed = (SQL_DECK * timed_decks(seconds, READ["SQL_RATE"], SQL_DECK)
             + CURATION_DECK * timed_decks(seconds, READ["CURATION_RATE"], CURATION_DECK))
    write_ops(out, len(warmup), [corpus_op(k) if k in CURATION_DECK else scan_op(k)
                                 for k in warmup + timed])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("read_mix", "ingest_dml"))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    {"read_mix": read_mix, "ingest_dml": ingest_dml}[a.workload](a.seed, a.seconds, a.out)


if __name__ == "__main__":
    main()
