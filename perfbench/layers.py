"""Per-layer metrics of one traced run, from the spans and the Spark
listener's job counts the engine process wrote.

Spans are named <layer>.<call>; the layers, outermost first:
  client      the benchmark's own loop (one root span per operation)
  frontend    Engine.sql / Engine.explain          (SqlRouter, DuckSyntax, plans)
  dml         DML statements through Engine.sql    (EngineDml)
  versioning  VERSION AS OF / table_changes reads  (EngineVersioning)
  op, stage   basket queries, snapshot stages      (operators)
  operators   a basket query's DataFrame construction
  index, probe  EngineIndexes builds, maintenance and probes
  catalyst    forcing queryExecution.executedPlan
  spark       the action (collect / write)
A span's self time is its duration minus its child spans' durations;
Spark jobs run inside the span that submitted them (the listener's
counts are attributed to that span and summed per operation).

compute(workload, out_dir) -> (per_layer, module): `per_layer` holds the
metrics every workload reports (the benchmark's per_layer set);
`module` the workload-specific ones named after graft's modules.
"""
import json
import statistics

ENGINE_LAYERS = {"frontend", "dml", "versioning", "op", "stage",
                 "operators", "index", "probe"}


def _load(path):
    with open(path) as f:
        return [json.loads(line) for line in f]


def _union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def compute(workload, out):
    spans = _load(f"{out}/spans.jsonl")
    jobs = _load(f"{out}/jobs.jsonl")
    run = json.load(open(f"{out}/run.json"))
    by_id = {s["id"]: s for s in spans}
    # jobs carrying no span property (submitted from a pool thread) go
    # to the innermost span open when they started
    for j in jobs:
        if j["span"] < 0:
            open_ = [s for s in spans
                     if s["start_ms"] <= j["start_ms"] <= s["end_ms"]]
            if open_:
                j["span"] = max(open_, key=lambda s: s["start_ns"])["id"]
        if j["end_ms"] < 0:
            j["end_ms"] = j["start_ms"]
    span_jobs = {}
    for j in jobs:
        span_jobs.setdefault(j["span"], []).append(j)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def dur_ms(s):
        return (s["end_ns"] - s["start_ns"]) / 1e6

    def layer(s):
        return s["name"].split(".", 1)[0]

    measured = [s for s in spans if s["phase"] == "measure" and s["op"] >= 0]
    ops = sorted({s["op"] for s in measured})
    n_ops = max(1, len(ops))
    # self time per layer, summed over measured operations
    self_ms = {}
    for s in measured:
        kids = sum(dur_ms(c) for c in children.get(s["id"], []))
        lay = layer(s)
        lay = "engine" if lay in ENGINE_LAYERS else lay
        self_ms[lay] = self_ms.get(lay, 0.0) + max(0.0, dur_ms(s) - kids)
    op_jobs = {}
    for s in measured:
        op_jobs.setdefault(s["op"], []).extend(span_jobs.get(s["id"], []))
    mjobs = [j for o in ops for j in op_jobs.get(o, [])]
    opt = [s for s in measured if s["name"] == "catalyst.optimize"]
    leaves = [s["attrs"]["leaves"] for s in opt if "leaves" in s["attrs"]]

    # listener times are whole milliseconds: per-operation means, not
    # medians, so they keep their resolution
    per_layer = {
        "catalyst.optimize_ms": (_median([dur_ms(s) for s in opt]), "ms"),
        "catalyst.plan_leaves": (_median(leaves), "count"),
        "catalyst.plan_leaves_max": (max(leaves, default=0), "count"),
        "spark.exec_ms": (sum(_union_ms(
            [(j["start_ms"], j["end_ms"]) for j in op_jobs.get(o, [])])
            for o in ops) / n_ops, "ms"),
        "spark.sched_delay_ms": (sum(j["sched_ms"] for j in mjobs) / n_ops,
                                 "ms"),
        "spark.jobs_per_op": (len(mjobs) / n_ops, "count"),
        "spark.stages_per_op": (sum(j["stages"] for j in mjobs) / n_ops,
                                "count"),
        "spark.tasks_per_op": (sum(j["tasks"] for j in mjobs) / n_ops,
                               "count"),
        "spark.executor_cpu_s": (sum(j["cpu_ns"] for j in mjobs) / 1e9, "s"),
        "spark.executor_run_s": (sum(j["run_ms"] for j in mjobs) / 1e3, "s"),
        "spark.gc_s": (sum(j["gc_ms"] for j in mjobs) / 1e3, "s"),
        "spark.input_mb": (sum(j["input_b"] for j in mjobs) / 2**20, "MB"),
        "spark.shuffle_read_mb": (sum(j["shuffle_read_b"] for j in mjobs)
                                  / 2**20, "MB"),
        "spark.shuffle_write_mb": (sum(j["shuffle_write_b"] for j in mjobs)
                                   / 2**20, "MB"),
        "spark.spill_mb": (sum(j["spill_b"] for j in mjobs) / 2**20, "MB"),
        "jvm.gc_s": (run["notes"]["jvm_gc_s"], "s"),
    }
    for lay in ("client", "engine", "catalyst", "spark"):
        per_layer[f"self.{lay}_ms"] = (self_ms.get(lay, 0.0) / n_ops, "ms")

    # ---- workload-specific, named after graft's modules --------------------
    module = {}
    # Catalyst's own phase split (QueryPlanningTracker, whole ms)
    for p in ("analysis", "optimization", "planning"):
        xs = [s["attrs"][f"phase_ms.{p}"] for s in opt
              if f"phase_ms.{p}" in s["attrs"]]
        if xs:
            module[f"catalyst.{p}_ms"] = (_median(xs), "ms")

    def med(name, key, scale=1.0, unit="ms", phase="measure"):
        xs = [dur_ms(s) * scale for s in spans
              if s["name"] == name and s["phase"] == phase]
        if xs:
            module[key] = (_median(xs), unit)

    root = {s["op"]: s for s in measured if s["parent"] < 0}
    if workload in ("sql_read", "sql_write"):
        med("frontend.sql", "frontend.sql_call_ms")
        med("frontend.explain", "frontend.explain_ms")
        reads = [o for o, s in root.items() if s["name"] in (
            "client.small", "client.medium", "client.large", "client.tpch",
            "client.read", "client.as_of", "client.changes")]
        module["frontend.zero_job_reads"] = (
            sum(1 for o in reads if not op_jobs.get(o)), "count")
        module["frontend.reads"] = (len(reads), "count")
    if workload == "sql_write":
        for k in ("insert", "insert_select", "delete", "update"):
            med(f"dml.{k}", f"dml.{k}_ms")
        dml_ops = [o for o, s in root.items() if s["name"] in (
            "client.insert", "client.insert_select", "client.delete",
            "client.update")]
        module["dml.jobs_per_stmt"] = (
            sum(len(op_jobs.get(o, [])) for o in dml_ops) /
            max(1, len(dml_ops)), "count")
        med("versioning.as_of", "versioning.as_of_ms")
        med("versioning.changes", "versioning.changes_ms")
        # lineage growth across a write cycle: the first read of t1k
        # (position 0) against the last plain aggregate read of t1k
        # (position 14, after all three UPDATEs)
        for pos, tag in ((0, "cycle_start"), (14, "cycle_end")):
            ls, ms = [], []
            for s in opt:
                r = by_id[s["parent"]]
                while r["parent"] >= 0:
                    r = by_id[r["parent"]]
                if r["attrs"].get("pos") == pos:
                    ls.append(s["attrs"]["leaves"])
                    ms.append(dur_ms(r))
            if ls:
                module[f"catalyst.plan_leaves.{tag}"] = (_median(ls), "count")
                module[f"read_ms.{tag}"] = (_median(ms), "ms")
    if workload == "pipeline":
        for s in spans:
            if s["name"].startswith("stage."):
                module[s["name"] + "_s"] = (dur_ms(s) / 1e3, "s")
        for q, xs in sorted(run["notes"].get("query_s", {}).items()):
            module[f"op.{q}_s"] = (_median(xs), "s")
    if workload == "serving":
        med("index.build_text", "index.build_text_s", 1e-3, "s", "setup")
        med("index.build_ann", "index.build_ann_s", 1e-3, "s", "setup")
        med("index.refresh_text", "index.refresh_text_ms")
        med("index.optimize_text", "index.optimize_text_ms")
        med("probe.bm25", "probe.bm25_ms")
        med("probe.ann_call", "probe.ann_call_ms")
        med("probe.ann_exec", "probe.ann_exec_ms")
        n = run["notes"]
        module["probe.bm25_cut_share"] = (
            n["bm25_cut"] / max(1, n["bm25_probes"]), "share")
    return per_layer, module
