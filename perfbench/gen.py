"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes files whose bytes
depend only on (seed, sizes): the same seed gives byte-identical inputs.
The program under test receives only these files (and the formulas in
`churn_value`/`churn_group`, which both the harness and the model below
evaluate identically).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. The star schema, wine source and versioned table have the scale of
# the traffic the benchmark models; the corpus batches are smaller, to fit a
# run's time budget (README.md, "Sizes", gives the measured reason).
STAR_ORDERS = 150_000           # TPC-H sf0.1 shape: lineitem ~4x orders
WINE_START_ROWS = 4_898         # day 0 source: the reference white-wine size
WINE_DAILY_ROWS = 150           # rows the source grows by each day
CHURN_ROWS = 200_000            # initial rows of the versioned table
CORPUS_BASE_DOCS = 1_000
CORPUS_BATCH_DOCS = 100
NEAR_DUP_JACCARD = 0.5          # probe threshold the gate checks against


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write_parquet(table, path):
    # Fixed writer settings: no statistics timestamps, one row group,
    # so the file bytes are a function of the table alone.
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows),
                   write_statistics=True, use_dictionary=True)


# ---------------------------------------------------------------- star schema

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["red", "old", "cold", "hot", "new", "big", "blue", "dark"]
NOUN = ["bolt", "plate", "widget", "gear", "ring", "anvil", "pipe", "valve"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _ts(days_since_epoch_us):
    return pa.array(days_since_epoch_us, type=pa.timestamp("us"))


def star(seed, out_dir, n_orders=STAR_ORDERS):
    """TPC-H-shaped star schema plus an events stream, as parquet files
    named after Env's tables (region nation customer supplier part orders
    lineitem events)."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 1)
    n_cust, n_supp, n_part = n_orders // 10, max(20, n_orders // 150), n_orders // 7
    day_us = 86_400 * 1_000_000
    d1995 = 9131  # 1995-01-01 in days since epoch

    _write_parquet(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}), f"{out_dir}/region.parquet")
    _write_parquet(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")
    _write_parquet(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]}),
        f"{out_dir}/customer.parquet")
    _write_parquet(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(r, -999.99, 9999.99, n_supp)}),
        f"{out_dir}/supplier.parquet")
    _write_parquet(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)}),
        f"{out_dir}/part.parquet")

    o_date = d1995 + r.integers(0, 2400, n_orders)
    _write_parquet(pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_orders)],
        "o_totalprice": _cents(r, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(o_date.astype(np.int64) * day_us),
        "o_orderpriority": [PRIOS[i] for i in r.integers(0, 5, n_orders)]}),
        f"{out_dir}/orders.parquet")

    lines = r.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(l_order)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    _write_parquet(pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _cents(r, 900.0, 105000.0, n_li),
        "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
        "l_shipdate": _ts((o_date[l_order] + r.integers(1, 122, n_li))
                          .astype(np.int64) * day_us)}),
        f"{out_dir}/lineitem.parquet")

    n_ev = n_orders * 2 // 3
    t0 = 19723 * day_us  # 2024-01-01
    ts = np.sort(r.integers(0, 30 * day_us, n_ev)) + t0
    _write_parquet(pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, 150, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": _cents(r, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet")


def bi_schedule(seed, names, rounds):
    """Rounds of seeded permutations of the query set: every round runs each
    query once, so any whole number of rounds has the same composition."""
    r = _rng(seed, 2)
    return [list(np.array(names)[r.permutation(len(names))]) for _ in range(rounds)]


# ----------------------------------------------------------------------- wine

WINE_COLS = ["fixed_acidity", "volatile_acidity", "citric_acid",
             "residual_sugar", "chlorides", "free_sulfur_dioxide",
             "total_sulfur_dioxide", "density", "pH", "sulphates",
             "alcohol", "quality"]


def wine_rows(seed, n):
    """`n` rows in the white-wine schema; quality correlates with alcohol
    (about a fifth of rows reach quality >= 7)."""
    r = _rng(seed, 3)
    alc = np.clip(np.round(r.normal(10.5, 1.2, n), 1), 8.0, 14.2)
    q = np.clip(np.round(5.9 + 0.55 * (alc - 10.5) + r.normal(0, 0.75, n)), 3, 9)
    cols = [
        np.round(np.clip(r.normal(6.85, 0.84, n), 3.8, 14.2), 1),
        np.round(np.clip(r.normal(0.28, 0.1, n), 0.08, 1.1), 2),
        np.round(np.clip(r.normal(0.33, 0.12, n), 0.0, 1.66), 2),
        np.round(np.clip(r.lognormal(1.6, 0.7, n), 0.6, 65.8), 1),
        np.round(np.clip(r.normal(0.046, 0.02, n), 0.009, 0.346), 3),
        np.clip(np.round(r.normal(35, 17, n)), 2, 289),
        np.clip(np.round(r.normal(138, 42, n)), 9, 440),
        np.round(np.clip(r.normal(0.994, 0.003, n), 0.987, 1.039), 5),
        np.round(np.clip(r.normal(3.19, 0.15, n), 2.72, 3.82), 2),
        np.round(np.clip(r.normal(0.49, 0.11, n), 0.22, 1.08), 2),
        alc, q]
    return [tuple(c[i] for c in cols) for i in range(n)]


def _fmt(v):
    f = float(v)
    return str(int(f)) if f == int(f) else repr(f)


def wine_csv_lines(rows):
    """';'-separated CSV, header first (the reference file's dialect)."""
    return [";".join(WINE_COLS)] + [";".join(_fmt(v) for v in row) for row in rows]


def wine(seed, out_dir, days):
    """The full source for `days` days; day d's source is the header plus
    the first WINE_START_ROWS + d * WINE_DAILY_ROWS data lines, so earlier
    rows stay a stable prefix."""
    os.makedirs(out_dir, exist_ok=True)
    rows = wine_rows(seed, WINE_START_ROWS + days * WINE_DAILY_ROWS)
    with open(f"{out_dir}/wine.csv", "w") as f:
        f.write("\n".join(wine_csv_lines(rows)) + "\n")
    with open(f"{out_dir}/wine.json", "w") as f:
        json.dump({"start_rows": WINE_START_ROWS, "daily_rows": WINE_DAILY_ROWS,
                   "days": days}, f)


def wine_tally(rows, threshold=7):
    """What the ETL must have stored after loading `rows`: the filtered
    (quality >= threshold) row count, per-class counts, min/max alcohol,
    and the raw row count."""
    hi = [row for row in rows if row[11] >= threshold]
    per = {}
    for row in hi:
        per[str(int(row[11]))] = per.get(str(int(row[11])), 0) + 1
    return {"filtered": len(hi), "per_class": per,
            "min_alcohol": min(float(row[10]) for row in hi),
            "max_alcohol": max(float(row[10]) for row in hi),
            "raw": len(rows)}


# ---------------------------------------------------------------------- churn

VALUE_MOD = 1_000_003
GROUP_MOD = 50_021


def churn_value(seed, k, op):
    """Payload of key `k` as written by op `op` (op 0 = initial load)."""
    return (k * 7919 + op * 104_729 + seed * 15_485_863) % VALUE_MOD


def churn_group(k):
    """The bloom-filtered second column: scattered relative to the key."""
    return (k * 2_654_435_761) % GROUP_MOD


def churn_row_hash(k, g, v):
    """Order-independent checksum term; the harness evaluates the same
    expression in Spark SQL (TableChurn.scala, ChurnCols.checksum)."""
    return ((k * 1_000_003 + v) % 2_147_483_647) * (v % 1009 + 1) + \
        (g % 65_521) * (k % 7919 + 1)


def churn(seed, out_dir, rounds, rows=CHURN_ROWS):
    """Op script for the versioned-table workload. Every round has the same
    composition and order (each write, read, maintenance and ingest kind
    once, then the batch's redelivery) and the same sizes, so any prefix of
    rounds has the same mix; the seed picks only which keys and ranges the
    ops touch. The scattered key delete precedes the upsert, whose commit
    folds the delete vector, so maintenance can run."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 4)
    next_key = rows
    out = []
    op_id = 1
    for rnd in range(rounds):
        append = {"op": "append", "lo": next_key, "n": 2000}
        next_key += 2000
        lo = int(r.integers(0, next_key - 5000))
        read_sql = {"op": "read_sql", "lo": lo, "hi": lo + 5000}
        delete_keys = {"op": "delete_keys",
                       "keys": sorted(set(int(x) for x in r.integers(0, next_key, 200)))}
        lo = int(r.integers(0, next_key - 3000))
        read_range = {"op": "read_range", "lo": lo, "hi": lo + 3000}
        # upserts skewed toward recent keys: 80% in the top fifth, plus new keys
        recent = r.integers(int(next_key * 0.8), next_key, 320)
        old = r.integers(0, int(next_key * 0.8), 80)
        fresh = np.arange(next_key, next_key + 50)
        next_key += 50
        merge = {"op": "merge", "keys": sorted(set(int(x) for x in
                                                   np.concatenate([recent, old, fresh])))}
        read_point = {"op": "read_point",
                      "groups": sorted(set(int(x) for x in r.integers(0, GROUP_MOD, 8)))}
        lo = int(r.integers(0, next_key - 2000))
        delete_where = {"op": "delete_where", "lo": lo, "hi": lo + 500}
        ops = [append, read_sql, delete_keys, read_range, merge, read_point,
               delete_where, {"op": "ingest", "batch": rnd},
               {"op": "time_travel", "back": 3}, {"op": "changes", "back": 2},
               {"op": "maintain", "keep": 3}]
        # the round's batch again (at-least-once delivery): must add nothing
        ops.append({"op": "redeliver", "batch": rnd})
        for o in ops:
            o["id"] = op_id
            op_id += 1
        out.append(ops)
    with open(f"{out_dir}/churn.json", "w") as f:
        json.dump({"rows": rows, "seed": seed, "rounds": out}, f)


# --------------------------------------------------------------------- corpus

def _vocab(r, n=6000):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(r.integers(3, 9))
        words.add("".join(letters[r.integers(0, 26, k)]))
    return sorted(words)


def corpus(seed, out_dir, batches, base=CORPUS_BASE_DOCS,
           batch=CORPUS_BATCH_DOCS):
    """A base corpus of distinct documents and a stream of batches with
    planted duplicates: exact copies (some re-cased or re-spaced, which the
    content fingerprint normalises away) and near copies (one word
    replaced in a 40-60 word document, shingle Jaccard >= 0.8), each
    within the batch or of an earlier document."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 5)
    vocab = _vocab(r)

    def fresh_doc():
        return " ".join(vocab[i] for i in r.integers(0, len(vocab), int(r.integers(40, 61))))

    texts = {}
    next_id = 1
    base_ids = []
    for _ in range(base):
        texts[next_id] = fresh_doc()
        base_ids.append(next_id)
        next_id += 1
    # duplicates copy only "fresh" documents (never another duplicate), so
    # every planted source is a document the ingest keeps
    fresh_ids = list(base_ids)
    batch_rows, truth = [], []
    for b in range(batches):
        in_batch = []
        for j in range(batch):
            kind = r.random()
            pool = in_batch if in_batch and r.random() < 0.4 else fresh_ids
            if kind < 0.16:
                src = int(pool[int(r.integers(0, len(pool)))])
            if kind < 0.08:   # exact duplicate
                t = texts[src]
                style = int(r.integers(0, 3))
                if style == 1:
                    t = t.upper()
                elif style == 2:
                    t = "  " + t.replace(" ", "   ", 2) + " "
                truth.append({"id": next_id, "of": src, "kind": "exact"})
            elif kind < 0.16:  # near duplicate: one word replaced
                w = texts[src].split()
                pos = int(r.integers(3, len(w) - 3))
                w[pos] = vocab[int(r.integers(0, len(vocab)))] + "q"
                t = " ".join(w)
                truth.append({"id": next_id, "of": src, "kind": "near"})
            else:
                t = fresh_doc()
                in_batch.append(next_id)
            texts[next_id] = t
            batch_rows.append((b, next_id, t))
            next_id += 1
        fresh_ids.extend(in_batch)
    _write_parquet(pa.table({
        "doc_id": pa.array(base_ids, pa.int64()),
        "text": [texts[i] for i in base_ids]}), f"{out_dir}/corpus_base.parquet")
    _write_parquet(pa.table({
        "batch": pa.array([x[0] for x in batch_rows], pa.int32()),
        "doc_id": pa.array([x[1] for x in batch_rows], pa.int64()),
        "text": [x[2] for x in batch_rows]}), f"{out_dir}/corpus_batches.parquet")
    with open(f"{out_dir}/corpus_truth.json", "w") as f:
        json.dump({"threshold": NEAR_DUP_JACCARD, "planted": truth}, f)


def corpus_texts(in_dir):
    t = pq.read_table(f"{in_dir}/corpus_base.parquet").to_pydict()
    texts = dict(zip(t["doc_id"], t["text"]))
    b = pq.read_table(f"{in_dir}/corpus_batches.parquet").to_pydict()
    texts.update(zip(b["doc_id"], b["text"]))
    return texts


def shingles(text, n=3):
    """Word 3-gram shingle set, tokenised as TextOps.tokens does
    (lower, trim, split on whitespace)."""
    toks = [t for t in text.strip().lower().split() if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 1.0


# Read-only star-schema queries from SparkEntry.queries the analyst runs
# every day: a TPC-H join-aggregate-top-N shape (Q3) and an event-time
# window aggregate. Neither writes.
BI_QUERIES = ["x13_shipping_priority", "x20_tumbling_window"]


def etl_inputs(seed, out_dir, units):
    """Inputs for `units` simulated days."""
    wine(seed, out_dir, units)
    star(seed, f"{out_dir}/star")
    with open(f"{out_dir}/bi_schedule.txt", "w") as f:
        for day in bi_schedule(seed, BI_QUERIES, units):
            f.write(",".join(day) + "\n")


def churn_inputs(seed, out_dir, units):
    """Inputs for `units` rounds (one ingest batch each)."""
    churn(seed, out_dir, units)
    corpus(seed, out_dir, units)


GENERATORS = {"etl_elt_daily": etl_inputs, "table_churn": churn_inputs}
