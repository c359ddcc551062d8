"""Correctness gates. Each gate takes the generated inputs and the harness
record and returns, per op index, the reason the op is wrong (ops missing
from the result are correct). All checks run after the measured loop."""
import datetime
import decimal
import glob
import json
import math
import os

import gen

NEAR_RECALL_BOUND = 0.85   # share of planted near duplicates a batch must catch


# ------------------------------------------------------------------ etl

def etl(in_dir, rec):
    meta = json.load(open(f"{in_dir}/wine.json"))
    with open(f"{in_dir}/wine.csv") as f:
        lines = f.read().splitlines()[1:]
    rows = [tuple(float(x) for x in ln.split(";")) for ln in lines]
    verdict = bi_verdicts(f"{in_dir}/star", rec)
    bad = {}
    day_ops = [o for o in rec["ops"] if o["kind"] == "day"]
    for o in day_ops:
        if "error" in o:
            bad[o["i"]] = o["error"]
            continue
        n = meta["start_rows"] + o["day"] * meta["daily_rows"]
        exp = gen.wine_tally(rows[:n])
        weekday = o["weekday"]                 # Mon=0, the harness calendar
        ml = exp["filtered"] >= 200 and weekday <= 5
        branch = "extract_pg" if weekday < 3 else "extract_duckdb"
        want_ok = {"load_duckdb", "load_postgres", "print_report",
                   "transform_in_store", "downstream.chart_kde",
                   "downstream." + branch} | ({"ml_train"} if ml else set())
        want_skip = ({"downstream.extract_pg", "downstream.extract_duckdb"}
                     - {"downstream." + branch}) | (set() if ml else {"ml_train"})
        got = {k: o[k] for k in ("filtered", "min_alcohol", "max_alcohol", "raw")}
        want = {"filtered": exp["filtered"], "min_alcohol": exp["min_alcohol"],
                "max_alcohol": exp["max_alcohol"], "raw": exp["raw"]}
        if o["failed"]:
            bad[o["i"]] = f"stages failed: {o['failed']}"
        elif got != want:
            bad[o["i"]] = f"store tallies {got} != generator {want}"
        elif o["per_class"] != exp["per_class"]:
            bad[o["i"]] = f"per-class {o['per_class']} != {exp['per_class']}"
        elif not want_ok <= set(o["succeeded"]) or not want_skip <= set(o["skipped"]):
            bad[o["i"]] = (f"stages ran {sorted(o['succeeded'])}, skipped "
                           f"{sorted(o['skipped'])}; expected ml={ml} {branch}")
        elif o["kde_rows"] <= 0 or not o["chart_png"]:
            bad[o["i"]] = "downstream chart missing"
        else:
            for q in o["queries"]:
                if q["name"] in verdict:
                    bad[o["i"]] = f"query {q['name']}: {verdict[q['name']]}"
                elif not q["same_as_first"]:
                    bad[o["i"]] = f"query {q['name']}: result differs from its first"
    if rec.get("reload_appended", 0) != 0 and day_ops:
        bad[day_ops[-1]["i"]] = (f"re-loading an old prefix appended "
                                 f"{rec['reload_appended']} rows")
    return bad


# ------------------------------------------------------- analyst queries

_EPOCH = datetime.datetime(1970, 1, 1)


def _norm(v):
    """One spelling per value for both sides: the harness writes cells as
    JSON (temporal and decimal values tagged), DuckDB returns Python
    objects."""
    if isinstance(v, bool) or v is None:
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime.datetime):
        d = v - _EPOCH
        return f"ts:{(d.days * 86400 + d.seconds) * 1000000 + d.microseconds}"
    if isinstance(v, datetime.date):
        return f"date:{(v - _EPOCH.date()).days}"
    if isinstance(v, decimal.Decimal):
        return "dec:" + format(v.normalize(), "f")
    return str(v)


def _canon(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return ([columns[i] for i in order],
            sorted(tuple(_norm(r[i]) for i in order) for r in rows))


def bi_verdicts(star_dir, rec):
    """{query: reason} for each query whose recorded first result differs
    from DuckDB running the query's oracle SQL on the same parquet files."""
    import duckdb
    con = duckdb.connect()
    for p in sorted(glob.glob(f"{star_dir}/*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    verdict = {}
    for name, sql in rec["oracle"].items():
        res = rec["results"].get(name)
        if sql is None:
            verdict[name] = "no oracle SQL"
            continue
        if res is None:
            verdict[name] = "no result recorded"
            continue
        gc, g = _canon(res["columns"], res["rows"])
        cur = con.sql(sql)
        ec, e = _canon([d[0] for d in cur.description], cur.fetchall())
        if gc != ec:
            verdict[name] = f"columns {gc} != oracle {ec}"
        elif g != e:
            diff = [(a, b) for a, b in zip(g, e) if a != b][:2]
            verdict[name] = f"{len(g)} rows vs oracle {len(e)}; first diffs {diff}"
    return verdict


# ------------------------------------------------------------------ churn

class ChurnModel:
    """The versioned table as a dict plus running (count, checksum)."""

    def __init__(self, seed, rows):
        self.seed = seed
        self.rows = {}
        self.by_group = {}
        self.n = self.cks = 0
        for k in range(rows):
            self.put(k, 0)

    def put(self, k, op):
        self.delete(k)
        g, v = gen.churn_group(k), gen.churn_value(self.seed, k, op)
        self.rows[k] = (g, v)
        self.by_group.setdefault(g, set()).add(k)
        self.n += 1
        self.cks += gen.churn_row_hash(k, g, v)

    def delete(self, k):
        if k in self.rows:
            g, v = self.rows.pop(k)
            self.by_group[g].discard(k)
            self.n -= 1
            self.cks -= gen.churn_row_hash(k, g, v)
            return True
        return False

    def range(self, lo, hi):
        n = c = 0
        for k in range(lo, hi):
            if k in self.rows:
                n += 1
                c += gen.churn_row_hash(k, *self.rows[k])
        return n, c


def churn_user_rows(o):
    """Rows the user asked the op to write (appended, upserted or deleted)."""
    if o["op"] == "append":
        return o["n"]
    if o["op"] in ("merge", "delete_keys"):
        return len(o["keys"])
    if o["op"] == "delete_where":
        return o["hi"] - o["lo"]
    return 0


def churn(in_dir, rec):
    truth = json.load(open(f"{in_dir}/corpus_truth.json"))
    planted, threshold = {p["id"]: p for p in truth["planted"]}, truth["threshold"]
    texts = gen.corpus_texts(in_dir)
    script = json.load(open(f"{in_dir}/churn.json"))
    by_id = {o["id"]: o for rnd in script["rounds"] for o in rnd}
    m = ChurnModel(script["seed"], script["rows"])
    versions = {1: (m.n, m.cks)}
    made_by = {}
    bad = {}
    for o in rec["ops"]:
        i = o["i"]
        if "error" in o:
            bad[i] = o["error"]
            continue
        s = by_id[o["id"]]
        kind = s["op"]
        if kind == "ingest":
            why = ingest_error(o, planted, texts, threshold)
            if why:
                bad[i] = why
            continue
        if kind == "redeliver":
            if o["added"] != 0:
                bad[i] = f"redelivering batch {s['batch']} added {o['added']} docs"
            continue
        if o["kind"] == "write":
            changed = True
            if kind == "append":
                for k in range(s["lo"], s["lo"] + s["n"]):
                    m.put(k, s["id"])
            elif kind == "merge":
                for k in s["keys"]:
                    m.put(k, s["id"])
            elif kind == "delete_where":
                changed = any([m.delete(k) for k in range(s["lo"], s["hi"])])
            elif kind == "delete_keys":
                changed = any([m.delete(k) for k in s["keys"]])
            else:
                changed = False
            if o["version"] > o["before"]:
                versions[o["version"]] = (m.n, m.cks)
                made_by[o["version"]] = i
            if changed and kind != "delete_keys" and o["version"] != o["before"] + 1:
                bad[i] = f"{kind} committed v{o['version']} on v{o['before']}"
            continue
        if kind in ("read_sql", "read_range"):
            want = m.range(s["lo"], s["hi"])
        elif kind == "time_travel":
            want = versions.get(o["at"])
        elif kind == "changes":
            a, b = versions.get(o["from"]), versions.get(o["to"])
            net = (o["ins_n"] - o["del_n"], o["ins_cks"] - o["del_cks"])
            if a is None or b is None or net != (b[0] - a[0], b[1] - a[1]):
                bad[i] = f"changelog v{o['from']}..v{o['to']} nets {net}"
            continue
        elif kind == "read_point":
            want = sorted([k, m.rows[k][0], m.rows[k][1]]
                          for g in s["groups"] for k in m.by_group.get(g, ()))
            if o["points"] != want:
                bad[i] = f"point read {len(o['points'])} rows != model {len(want)}"
            continue
        if want is None or (o["n"], o["cks"]) != tuple(want):
            bad[i] = f"{kind}: (n, checksum) {(o['n'], o['cks'])} != model {want}"
    for lv in rec.get("live_versions", []):
        want = versions.get(lv["version"])
        if want is not None and (lv["n"], lv["cks"]) != tuple(want):
            i = made_by.get(lv["version"])
            if i is not None:
                bad[i] = f"time travel to v{lv['version']} reads {(lv['n'], lv['cks'])} != {want}"
    return bad


# ------------------------------------------------------------------ ingest

def ingest_error(o, planted, texts, threshold):
    """Why an ingest batch is wrong, or None: every reported pair must have
    exact shingle Jaccard >= threshold, every planted exact duplicate must
    be dropped, near-duplicate recall must meet NEAR_RECALL_BOUND, and the
    batch must add exactly the documents it kept."""
    kept = set(o["kept"])
    wrong = [(a, b, j) for a, b, j in o["pairs"]
             if gen.jaccard(texts[a], texts[b]) < threshold - 1e-6]
    if wrong:
        return f"pairs below Jaccard {threshold}: {wrong[:3]}"
    if o["added"] != len(kept):
        return f"added {o['added']} docs, kept {len(kept)}"
    mine = [p for p in planted.values() if o["first_id"] <= p["id"] <= o["last_id"]]
    missed_exact = [p["id"] for p in mine if p["kind"] == "exact" and p["id"] in kept]
    near = [p for p in mine if p["kind"] == "near"
            and gen.jaccard(texts[p["id"]], texts[p["of"]]) >= threshold]
    caught = sum(1 for p in near if p["id"] not in kept)
    if missed_exact:
        return f"exact duplicates kept: {missed_exact[:5]}"
    if near and caught / len(near) < NEAR_RECALL_BOUND:
        return f"near-duplicate recall {caught}/{len(near)}"
    return None


GATES = {"etl_elt_daily": etl, "table_churn": churn}
