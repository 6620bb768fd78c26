"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (seed, size): the same seed writes the
same rows. Sizes come from `SIZES` (full runs) or `SMOKE_SIZES` (the
tiny-input smoke mode). The stream inbox is not generated here: its files
are written by the JVM generator thread while the stream runs (see
`StreamInbox.scala`), from the same seed.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "events": 60_000,  # raw events for medallion_batch
    "warmup_events": 5_000,  # a two-day file for the untimed warm-up pass
    "lineitem": 150_000,
    "orders": 40_000,
    "customer": 4_000,
    "documents": 800,
    "embeddings": 2_000,
}
SMOKE_SIZES = {
    "events": 20_000,
    "warmup_events": 2_000,
    "lineitem": 6_000,
    "orders": 1_500,
    "customer": 150,
    "documents": 300,
    "embeddings": 300,
}

DAYS = 10
DAY0_NS = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
# event-type shares; "error" is the DQ rule's error_events violation
EVENT_TYPE_P = [0.40, 0.30, 0.15, 0.13, 0.02]
# DQ violation shares of the raw events (disjoint draws, see gen_events)
NEG_VALUE_SHARE = 0.004
NULL_VALUE_SHARE = 0.003
OUTLIER_SHARE = 0.002
NULL_USER_SHARE = 0.001
PADDED_SHARE = 0.10  # event_type with surrounding blanks (silver trims)
N_USERS = 50_000
ZIPF_A = 1.3  # user skew: a few users own most events
# thresholds passed to the pipeline: twice the expected violation counts,
# so the DQ gate passes and gold is published
THRESHOLD_FACTOR = 2.0

VOCAB = ("spark window merge table column batch part line order small sort "
         "fast value scan hash slow group agg filter query a big key row "
         "stream data join vector the customer stream").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
NEAR_DUP_SHARE = 0.05
WORKLOAD_SALT = {"medallion_batch": 1, "stream_inbox": 2, "query_mix": 3}


def dq_thresholds(n_events):
    """DQ thresholds for a raw file of n_events rows (the four rules of
    `DqChecks.eventRules`, in its order)."""
    f = THRESHOLD_FACTOR * n_events
    return {
        "negative_or_null_value": int(f * (NEG_VALUE_SHARE + NULL_VALUE_SHARE)) + 10,
        "null_user": int(f * NULL_USER_SHARE) + 10,
        "outlier_value": int(f * OUTLIER_SHARE) + 10,
        "error_events": int(f * EVENT_TYPE_P[4]) + 10,
    }


def gen_events(rng, n, path, days=DAYS):
    """Raw events in the shape of the source system's file: ns timestamps
    over DAYS days, Zipf-skewed users, padded event types, and known DQ
    violation shares. Column names are mixed case; bronze normalizes them.
    """
    ts = np.sort(rng.integers(0, days * 86_400 * 10**9, n)) + DAY0_NS
    users = np.minimum(rng.zipf(ZIPF_A, n), N_USERS).astype(np.int64)
    user_null = rng.random(n) < NULL_USER_SHARE
    # dictionary-encoded strings: the 5 types plain and padded, 100 props
    etype = rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)
    etype = etype + len(EVENT_TYPES) * (rng.random(n) < PADDED_SHARE)
    etype_dict = pa.array(list(EVENT_TYPES) + [f"  {t} " for t in EVENT_TYPES])
    value = np.round(rng.lognormal(3.0, 1.0, n), 2)
    value = np.minimum(value, 399.99)
    u = rng.random(n)
    neg = u < NEG_VALUE_SHARE
    nul = (u >= NEG_VALUE_SHARE) & (u < NEG_VALUE_SHARE + NULL_VALUE_SHARE)
    out = (u >= 0.5) & (u < 0.5 + OUTLIER_SHARE)
    value = np.where(neg, -value - 0.01, value)
    value = np.where(out, np.round(400.01 + rng.random(n) * 600, 2), value)
    props_dict = pa.array([f'{{"k": {k}}}' for k in range(100)])
    props = rng.integers(0, 100, n).astype(np.int32)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
        "User_Id": pa.array(users, mask=user_null),
        "Event_Type": pa.DictionaryArray.from_arrays(etype.astype(np.int32), etype_dict),
        "Value": pa.array(value, mask=nul),
        "Props": pa.DictionaryArray.from_arrays(props, props_dict),
    })
    pq.write_table(table, path, version="2.6", coerce_timestamps=None,
                   row_group_size=256 * 1024)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_star(rng, sizes, d):
    n_c, n_o, n_l = sizes["customer"], sizes["orders"], sizes["lineitem"]
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(1, n_c + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_c + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_c)].astype(object)),
    }), f"{d}/customer.parquet")
    day0 = np.datetime64("1992-01-01T00:00:00", "us").astype(np.int64)
    odate = day0 + rng.integers(0, 2400, n_o) * 86_400 * 10**6
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(1, n_o + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, n_c + 1, n_o).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.choice(3, n_o, p=[0.49, 0.49, 0.02])].astype(object)),
        "o_totalprice": pa.array(_money(rng, 850.0, 500_000.0, n_o)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_o)].astype(object)),
    }), f"{d}/orders.parquet")
    okey = np.sort(rng.integers(1, n_o + 1, n_l)).astype(np.int64)
    ship = odate[okey - 1] + rng.integers(1, 122, n_l) * 86_400 * 10**6
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(1, 20_001, n_l).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, 1_001, n_l).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(n_l) % 7 + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, 900.0, 2000.0, n_l), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)].astype(object)),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_l)].astype(object)),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    }), f"{d}/lineitem.parquet")


def gen_documents(rng, n, path):
    """Bag-of-words documents over a small vocabulary; NEAR_DUP_SHARE of
    them copy an earlier document with one word changed, so the near-dup
    queries have pairs to find."""
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)].astype(object)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), path)


def gen_embeddings(rng, n, path, dim=64):
    """Unit-norm random float32 vectors with a random label each."""
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(x.reshape(-1), pa.float32()))
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }), path)


def generate(workload, seed, out_dir, smoke=False):
    """Write the workload's seeded input tables under out_dir and return
    the parameters the JVM side needs."""
    sizes = SMOKE_SIZES if smoke else SIZES
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, WORKLOAD_SALT[workload]])
    params = {}
    if workload == "medallion_batch":
        gen_events(rng, sizes["events"], f"{out_dir}/events.parquet")
        os.makedirs(f"{out_dir}/warmup", exist_ok=True)
        gen_events(rng, sizes["warmup_events"], f"{out_dir}/warmup/events.parquet", days=2)
        params["thresholds"] = dq_thresholds(sizes["events"])
    elif workload == "query_mix":
        gen_star(rng, sizes, out_dir)
        gen_documents(rng, sizes["documents"], f"{out_dir}/documents.parquet")
        gen_embeddings(rng, sizes["embeddings"], f"{out_dir}/embeddings.parquet")
    return params
