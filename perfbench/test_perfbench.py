"""The benchmark's own tests: generator determinism, and each correctness
gate accepting a right answer and catching a deliberately corrupted one.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import copy
import filecmp
import json
import os
import shutil
import tempfile
import unittest

import gates
import gen


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def _same_tree(a, b):
    names = _files(a)
    return names == _files(b) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
        for n in names)


def _perfect_ingest(truth, first_id, last_id):
    """The ingest payload of a batch that drops exactly the planted
    duplicates, reporting each with its source as a pair."""
    ids = list(range(first_id, last_id + 1))
    dups = {p["id"] for p in truth["planted"]}
    kept = [i for i in ids if i not in dups]
    pairs = [[p["of"], p["id"], 1.0] for p in truth["planted"] if p["id"] in ids]
    return dict(kept=kept, added=len(kept), pairs=pairs,
                first_id=first_id, last_id=last_id)


def _star_with_result(tmp):
    """A tiny star schema, one oracle query, and its right answer."""
    import duckdb
    gen.star(2, f"{tmp}/star", n_orders=300)
    sql = ("SELECT l_returnflag, count(*) AS n, min(l_shipdate) AS d "
           "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{tmp}/star/lineitem.parquet'")
    rows = [[f, n, gates._norm(d)] for f, n, d in con.sql(sql).fetchall()]
    return {"oracle": {"q": sql},
            "results": {"q": {"columns": ["l_returnflag", "n", "d"], "rows": rows}}}


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload, make in gen.GENERATORS.items():
            with self.subTest(workload=workload):
                a, b, c = (os.path.join(self.tmp, f"{workload}{i}") for i in range(3))
                make(11, a, 2)
                make(11, b, 2)
                make(12, c, 2)
                self.assertTrue(_same_tree(a, b))
                self.assertFalse(_same_tree(a, c))

    def test_bi_schedule_rounds_have_equal_composition(self):
        rounds = gen.bi_schedule(3, ["q1", "q2", "q3", "q4"], 5)
        self.assertTrue(all(sorted(r) == ["q1", "q2", "q3", "q4"] for r in rounds))
        self.assertEqual(rounds, gen.bi_schedule(3, ["q1", "q2", "q3", "q4"], 5))


class Gates(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def assertCatches(self, gate, in_dir, good, corrupt):
        self.assertEqual(gate(in_dir, good), {})
        bad = copy.deepcopy(good)
        corrupt(bad)
        self.assertNotEqual(gate(in_dir, bad), {})

    def test_etl_gate(self):
        gen.wine(5, self.tmp, days=3)
        meta = json.load(open(f"{self.tmp}/wine.json"))
        rows = gen.wine_rows(5, meta["start_rows"] + 3 * meta["daily_rows"])
        ops = []
        for day in (1, 2, 3):
            t = gen.wine_tally(rows[:meta["start_rows"] + day * meta["daily_rows"]])
            weekday = (4 + day) % 7
            ml = t["filtered"] >= 200 and weekday <= 5
            branch = "extract_pg" if weekday < 3 else "extract_duckdb"
            other = "extract_duckdb" if branch == "extract_pg" else "extract_pg"
            ops.append(dict(i=day - 1, kind="day", day=day, weekday=weekday, failed=[],
                            per_class=t["per_class"], filtered=t["filtered"],
                            min_alcohol=t["min_alcohol"], max_alcohol=t["max_alcohol"],
                            raw=t["raw"], kde_rows=10, chart_png=True,
                            succeeded=["load_duckdb", "load_postgres", "print_report",
                                       "transform_in_store", "downstream.chart_kde",
                                       "downstream." + branch] + (["ml_train"] if ml else []),
                            skipped=["downstream." + other] + ([] if ml else ["ml_train"]),
                            queries=[{"name": "q", "same_as_first": True}]))
        good = dict(_star_with_result(self.tmp), ops=ops, reload_appended=0)
        self.assertCatches(gates.etl, self.tmp, good,
                           lambda r: r["ops"][1].update(filtered=r["ops"][1]["filtered"] - 1))
        self.assertCatches(gates.etl, self.tmp, good,
                           lambda r: r.update(reload_appended=3))
        self.assertCatches(gates.etl, self.tmp, good,
                           lambda r: r["ops"][0]["succeeded"].remove("ml_train")
                           if "ml_train" in r["ops"][0]["succeeded"]
                           else r["ops"][0]["succeeded"].append("ml_train"))
        self.assertCatches(gates.etl, self.tmp, good,
                           lambda r: r["ops"][1]["queries"][0].update(same_as_first=False))
        self.assertCatches(gates.etl, self.tmp, good,
                           lambda r: r["results"]["q"]["rows"][0].__setitem__(1, -1))

    def test_churn_gate(self):
        gen.churn(9, self.tmp, 1, rows=10_000)
        gen.corpus(9, self.tmp, 2, base=50, batch=60)
        truth = json.load(open(f"{self.tmp}/corpus_truth.json"))
        script = json.load(open(f"{self.tmp}/churn.json"))
        m = gates.ChurnModel(script["seed"], script["rows"])
        versions, v, ops = {1: (m.n, m.cks)}, 1, []
        for i, s in enumerate(script["rounds"][0]):
            o = {"i": i, "id": s["id"], "name": s["op"]}
            if s["op"] == "ingest":
                o.update(kind="write", **_perfect_ingest(truth, 51, 110))
            elif s["op"] in ("append", "merge", "delete_where", "delete_keys"):
                if s["op"] == "append":
                    for k in range(s["lo"], s["lo"] + s["n"]):
                        m.put(k, s["id"])
                elif s["op"] == "merge":
                    for k in s["keys"]:
                        m.put(k, s["id"])
                elif s["op"] == "delete_where":
                    for k in range(s["lo"], s["hi"]):
                        m.delete(k)
                else:
                    for k in s["keys"]:
                        m.delete(k)
                o.update(kind="write", before=v, version=v + 1)
                v += 1
                versions[v] = (m.n, m.cks)
            elif s["op"] == "redeliver":
                o.update(kind="write", added=0)
            elif s["op"] == "maintain":
                o.update(kind="write", before=v, version=v)
            elif s["op"] in ("read_sql", "read_range"):
                n, c = m.range(s["lo"], s["hi"])
                o.update(kind="read", n=n, cks=c)
            elif s["op"] == "time_travel":
                at = max(1, v - s["back"])
                o.update(kind="read", at=at, n=versions[at][0], cks=versions[at][1])
            elif s["op"] == "changes":
                a = max(1, v - s["back"])
                o.update(kind="read", **{"from": a, "to": v},
                         ins_n=versions[v][0] - versions[a][0], del_n=0,
                         ins_cks=versions[v][1] - versions[a][1], del_cks=0)
            elif s["op"] == "read_point":
                o.update(kind="read", points=sorted(
                    [k, m.rows[k][0], m.rows[k][1]]
                    for g in s["groups"] for k in m.by_group.get(g, ())))
            ops.append(o)
        good = {"ops": ops, "live_versions": [
            {"version": x, "n": versions[x][0], "cks": versions[x][1]} for x in versions]}
        reads = [o for o in ops if o["kind"] == "read" and "cks" in o]
        self.assertCatches(gates.churn, self.tmp, good,
                           lambda r: r["ops"][reads[0]["i"]].update(cks=reads[0]["cks"] + 1))
        self.assertCatches(gates.churn, self.tmp, good,
                           lambda r: r["live_versions"][-1].update(n=-1))
        redeliver = next(o for o in ops if o["name"] == "redeliver")
        self.assertCatches(gates.churn, self.tmp, good,
                           lambda r: r["ops"][redeliver["i"]].update(added=4))

    def test_ingest_gate(self):
        gen.corpus(4, self.tmp, 2, base=50, batch=60)
        truth = json.load(open(f"{self.tmp}/corpus_truth.json"))
        planted = {p["id"]: p for p in truth["planted"]}
        texts = gen.corpus_texts(self.tmp)
        good = _perfect_ingest(truth, 51, 110)
        self.assertIsNone(gates.ingest_error(good, planted, texts, truth["threshold"]))
        exact = next(p["id"] for p in truth["planted"]
                     if p["kind"] == "exact" and p["id"] <= 110)
        fresh = [i for i in texts if i not in planted]
        for corrupt in (lambda o: o.update(kept=o["kept"] + [exact], added=o["added"] + 1),
                        lambda o: o["pairs"].append([fresh[0], fresh[1], 0.9]),
                        lambda o: o.update(added=o["added"] - 1)):
            bad = copy.deepcopy(good)
            corrupt(bad)
            self.assertIsNotNone(gates.ingest_error(bad, planted, texts, truth["threshold"]))


class SelfTime(unittest.TestCase):
    def test_self_times_partition_the_op_wall_time(self):
        import layers
        op = {"start_ns": 0, "end_ns": 10_000_000}
        spans = {0: {"layer": "bench", "start_ns": 0, "end_ns": 10_000_000},
                 1: {"layer": "flow", "start_ns": 1_000_000, "end_ns": 9_000_000}}
        jobs = [{"layer": "ml", "span": 1, "start_ns": 2_000_000, "end_ns": 4_000_000},
                {"layer": "", "span": 1, "start_ns": 5_000_000, "end_ns": 6_000_000}]
        got = layers.self_times(op, spans, jobs)
        self.assertAlmostEqual(sum(got.values()), 10.0)
        self.assertEqual({k: round(v, 6) for k, v in got.items()},
                         {"bench": 2.0, "flow": 6.0, "ml": 2.0})

    def test_per_kind_weighs_every_kind_once(self):
        import layers
        ops = [{"name": "a", "ms": 1.0}, {"name": "a", "ms": 99.0},
               {"name": "a", "ms": 100.0}, {"name": "b", "ms": 4.0}]
        self.assertAlmostEqual(layers.per_kind(ops, "ms"), (99.0 * 4.0) ** 0.5)


if __name__ == "__main__":
    unittest.main()
