"""Per-layer metrics of a traced run.

Jobs belong to the op and span the submitting thread had open (Spark local
properties). Self time: within each op, every instant is charged to exactly
one layer: the layer of the running Spark job (attributed by the job's call
site, or to its span's layer when no graft frame launched it), else the
innermost open span's layer, else the harness ("bench"). The self times of
an op therefore sum to its wall time; `trace.attributed_share` is the share
not left to the harness.
"""
import json
import statistics

import gates

SELF_LAYERS = ["bench", "flow", "ml", "ops", "ops.ChartOps",
               "ops.SimilarityOps", "queries",
               "sources.TableStore", "sources.SnapshotStore",
               "sources.SnapshotSql", "other"]
STORE_SPANS = ["append", "merge_cow", "delete_where", "delete_keys", "optimize",
               "vacuum", "read_range", "read_point", "time_travel", "changes"]
STORE_READS = ["read_sql", "read_range", "time_travel", "read_point"]


def _units():
    u = {}
    for m, unit in [("jobs_per_op", "count"), ("tasks_per_op", "count"),
                    ("driver_gap_ms", "ms"), ("task_busy_ratio", "ratio"),
                    ("shuffle_bytes", "B"), ("spill_bytes", "B"),
                    ("scan_bytes", "B"), ("scan_rows", "count"), ("gc_ms", "ms")]:
        u["engine." + m] = unit
    for m in ("build_ms", "plan_ms", "exec_ms"):
        u["queries." + m] = "ms"
    u["queries.rows_examined_per_row"] = "ratio"
    u["flow.etl_run_ms"] = u["flow.downstream_run_ms"] = "ms"
    u["flow.stages_run"] = u["flow.stages_skipped"] = "count"
    u["ml.job_ms"], u["ml.jobs"] = "ms", "count"
    u["ops.ChartOps.render_ms"] = "ms"
    u["sources.TableStore.job_ms"] = "ms"
    u["sources.TableStore.bytes_written"] = "B"
    u["sources.TableStore.files_live"] = "count"
    for s in STORE_SPANS + ["commit_tables"]:
        u[f"sources.SnapshotStore.{s}_ms"] = "ms"
    u["sources.SnapshotStore.files_reused_ratio"] = "ratio"
    u["sources.SnapshotStore.bytes_per_commit"] = "B"
    u["sources.SnapshotStore.files_live"] = "count"
    u["sources.SnapshotStore.files_opened_per_read"] = "count"
    u["sources.SnapshotStore.rows_examined_per_row"] = "ratio"
    u["sources.SnapshotSql.rewrite_ms"] = "ms"
    for m in ("build_ms", "exact_dedup_ms", "probe_ms", "append_ms"):
        u["ops.SimilarityOps." + m] = "ms"
    u["ops.SimilarityOps.pairs_per_batch"] = "count"
    u["ops.SimilarityOps.docs_added_ratio"] = "ratio"
    u["ops.SimilarityOps.shuffle_bytes_per_doc"] = "B"
    for m in ("write_p50_ms", "write_tail_ms", "read_p50_ms", "read_tail_ms"):
        u["workload." + m] = "ms"
    u["workload.rows_per_s"] = "1/s"
    u["workload.write_amp"] = u["workload.space_amp"] = "ratio"
    u["workload.failed_ratio"] = "ratio"
    u["trace.op_p50_ms"] = "ms"
    u["trace.attributed_share"] = "ratio"
    for layer in SELF_LAYERS:
        u[f"self.{layer}_ms"] = "ms"
    return u


def per_kind(ops, key):
    """Geometric mean over op kinds of each kind's median `key`: a run holds
    a fixed mix of kinds that differ in cost tenfold, so a plain median
    would jump between kinds; this weighs every kind once."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["name"], []).append(o[key])
    meds = [statistics.median(v) for v in kinds.values()]
    return statistics.geometric_mean(meds)


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def self_times(op, spans, jobs):
    """{layer: ms} partition of one op's wall time. `spans` maps span id to
    span; a job carries the id of the innermost span open when it was
    submitted."""
    t0, t1 = op["start_ns"], op["end_ns"]
    ivs = []  # (start, end, layer, is_job)
    for s in spans.values():
        ivs.append((max(s["start_ns"], t0), min(s["end_ns"] or t1, t1),
                    s["layer"], False))
    for j in jobs:
        layer = j["layer"]
        if not layer:  # launched by the harness: charge the enclosing span
            layer = spans[j["span"]]["layer"] if j["span"] in spans else "bench"
        ivs.append((max(j["start_ns"], t0), min(j["end_ns"] or t1, t1), layer, True))
    cuts = sorted({t0, t1} | {a for a, _, _, _ in ivs if t0 < a < t1}
                  | {b for _, b, _, _ in ivs if t0 < b < t1})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        active = [iv for iv in ivs if iv[0] <= a and iv[1] >= b]
        if active:
            layer = max(active, key=lambda iv: (iv[3], iv[0]))[2]
        else:
            layer = "bench"
        if layer not in SELF_LAYERS:
            layer = "other"
        out[layer] = out.get(layer, 0.0) + (b - a) / 1e6
    return out


def per_layer(workload, rec, in_dir, cores, bad):
    ops = rec["ops"]
    n = len(ops)
    spans_by_op, jobs_by_op = {}, {}
    for s in rec["spans"]:
        spans_by_op.setdefault(s["op"], {})[s["id"]] = s
    for j in rec["jobs"]:
        jobs_by_op.setdefault(j["op"], []).append(j)
    m = {k: 0.0 for k in _units()}

    def span_ms(layer, name):
        d = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in rec["spans"]
             if s["layer"] == layer and s["name"] == name and s["end_ns"]]
        return _mean(d)

    def job_ms(layer):
        return _ratio(sum((j["end_ns"] - j["start_ns"]) / 1e6
                          for o in ops for j in jobs_by_op.get(o["i"], [])
                          if j["layer"] == layer and j["end_ns"]), n)

    all_jobs = [j for o in ops for j in jobs_by_op.get(o["i"], [])]
    wall_ms = sum(o["ms"] for o in ops)
    gaps = []
    selfs = {layer: 0.0 for layer in SELF_LAYERS}
    for o in ops:
        js = sorted((j["start_ns"], j["end_ns"] or o["end_ns"])
                    for j in jobs_by_op.get(o["i"], []))
        covered, cur = 0, None
        for a, b in js:
            a, b = max(a, o["start_ns"]), min(b, o["end_ns"])
            if cur and a <= cur[1]:
                cur = (cur[0], max(cur[1], b))
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = (a, b)
        if cur:
            covered += cur[1] - cur[0]
        gaps.append(o["ms"] - covered / 1e6)
        for layer, v in self_times(o, spans_by_op.get(o["i"], {}),
                                   jobs_by_op.get(o["i"], [])).items():
            selfs[layer] += v
    m["engine.jobs_per_op"] = _ratio(len(all_jobs), n)
    m["engine.tasks_per_op"] = _ratio(sum(j["tasks"] for j in all_jobs), n)
    m["engine.driver_gap_ms"] = _mean(gaps)
    m["engine.task_busy_ratio"] = _ratio(sum(j["task_ms"] for j in all_jobs), wall_ms * cores)
    for k in ("shuffle_bytes", "spill_bytes", "scan_bytes", "scan_rows"):
        m["engine." + k] = _ratio(sum(j[k] for j in all_jobs), n)
    m["engine.gc_ms"] = _ratio(sum(j["gc_ms"] for j in all_jobs), n)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms"] = _ratio(selfs[layer], n)
    m["trace.op_p50_ms"] = per_kind(ops, "ms")
    m["trace.attributed_share"] = 1.0 - _ratio(selfs["bench"], wall_ms)

    writes = [o["ms"] for o in ops if o["kind"] in ("write", "day")]
    reads = [o["ms"] for o in ops if o["kind"] == "read"]
    if writes:
        m["workload.write_p50_ms"] = statistics.median(writes)
        m["workload.write_tail_ms"] = max(writes)
    if reads:
        m["workload.read_p50_ms"] = statistics.median(reads)
        m["workload.read_tail_ms"] = max(reads)
    m["workload.failed_ratio"] = _ratio(len(bad), n)
    user_bytes = sum(o["user_bytes"] for o in ops)
    rows = sum(o["rows"] for o in ops)
    if workload == "table_churn":
        script = json.load(open(f"{in_dir}/churn.json"))
        by_id = {o["id"]: o for rnd in script["rounds"] for o in rnd}
        # table rows: 24 bytes per written row (three longs), 8 per deleted
        # key; ingest batches: the documents' UTF-8 bytes
        rows = sum(gates.churn_user_rows(by_id[o["id"]]) for o in ops) + \
            sum(o["rows"] for o in ops if o["name"] == "ingest")
        user_bytes = sum(24 * gates.churn_user_rows(by_id[o["id"]])
                         if by_id[o["id"]]["op"] in ("append", "merge")
                         else 8 * gates.churn_user_rows(by_id[o["id"]])
                         for o in ops) + \
            sum(o["user_bytes"] for o in ops if o["name"] == "ingest")
        # bytes on disk under the store root (table and index) per logical
        # byte of the table's live rows (three longs each)
        sp = rec["space"]
        m["workload.space_amp"] = _ratio(sp["on_disk"], 24 * sp["live_rows"])
    m["workload.rows_per_s"] = _ratio(rows, wall_ms / 1000.0)
    m["workload.write_amp"] = _ratio(sum(o["bytes_written"] for o in ops), user_bytes)

    if workload == "etl_elt_daily":
        for k in ("build", "plan", "exec"):
            m[f"queries.{k}_ms"] = span_ms("queries", k)
        qspans = {s["id"] for s in rec["spans"]
                  if s["layer"] == "queries" and s["name"] == "exec"}
        m["queries.rows_examined_per_row"] = _ratio(
            sum(j["scan_rows"] for j in all_jobs if j["span"] in qspans),
            sum(q["rows_out"] for o in ops for q in o["queries"]))
        m["flow.etl_run_ms"] = span_ms("flow", "etl_run")
        m["flow.downstream_run_ms"] = span_ms("flow", "downstream_run")
        m["flow.stages_run"] = _mean([len(o["succeeded"]) for o in ops])
        m["flow.stages_skipped"] = _mean([len(o["skipped"]) for o in ops])
        m["ml.job_ms"] = job_ms("ml")
        m["ml.jobs"] = _ratio(sum(1 for j in all_jobs if j["layer"] == "ml"), n)
        m["ops.ChartOps.render_ms"] = job_ms("ops.ChartOps")
        m["sources.TableStore.job_ms"] = job_ms("sources.TableStore")
        m["sources.TableStore.bytes_written"] = _mean([o["bytes_written"] for o in ops])
        m["sources.TableStore.files_live"] = ops[-1]["files_on_disk"]
    if workload == "table_churn":
        for s in STORE_SPANS:
            m[f"sources.SnapshotStore.{s}_ms"] = span_ms("sources.SnapshotStore", s)
        m["sources.SnapshotSql.rewrite_ms"] = span_ms("sources.SnapshotSql", "rewrite")
        rw = [o for o in ops if o["kind"] == "write" and o.get("files_reused", -1) >= 0]
        m["sources.SnapshotStore.files_reused_ratio"] = _ratio(
            sum(o["files_reused"] for o in rw),
            sum(o["files_reused"] + o["parquet_written"] for o in rw))
        w = [o["bytes_written"] for o in ops
             if o["kind"] == "write" and o["name"] not in ("ingest", "redeliver")]
        m["sources.SnapshotStore.bytes_per_commit"] = _mean(w)
        m["sources.SnapshotStore.files_live"] = rec["space"]["files"]
        rd = [o for o in ops if o["name"] in STORE_READS]
        m["sources.SnapshotStore.files_opened_per_read"] = _mean([o["files_opened"] for o in rd])
        m["sources.SnapshotStore.rows_examined_per_row"] = _ratio(
            sum(j["scan_rows"] for o in rd for j in jobs_by_op.get(o["i"], [])),
            sum(o["n"] for o in rd))
        ing = [o for o in ops if o["name"] == "ingest"]
        builds = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in rec["spans"]
                  if s["layer"] == "ops.SimilarityOps" and s["name"] == "build"]
        m["ops.SimilarityOps.build_ms"] = statistics.median(builds)
        for k in ("exact_dedup", "probe", "append"):
            m[f"ops.SimilarityOps.{k}_ms"] = span_ms("ops.SimilarityOps", k)
        m["ops.SimilarityOps.pairs_per_batch"] = _mean([len(o["pairs"]) for o in ing])
        docs = sum(o["docs"] for o in ing)
        m["ops.SimilarityOps.docs_added_ratio"] = _ratio(sum(o["added"] for o in ing), docs)
        m["ops.SimilarityOps.shuffle_bytes_per_doc"] = _ratio(
            sum(j["shuffle_bytes"] for o in ing for j in jobs_by_op.get(o["i"], [])), docs)
        m["sources.SnapshotStore.commit_tables_ms"] = _ratio(sum(
            (j["end_ns"] - j["start_ns"]) / 1e6 for o in ing for j in jobs_by_op.get(o["i"], [])
            if j["layer"] == "sources.SnapshotStore" and j["end_ns"]), len(ing))
    units = _units()
    return {k: (float(v), units[k]) for k, v in m.items()}
