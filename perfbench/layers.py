"""Per-layer metrics and the span file of a traced run.

The harness and the listeners it registers from outside the program
(``perfbench/harness/Trace.scala``) leave flat records: passes,
operations, SparkContexts, jobs (with their call sites), stages (with
summed task metrics and task intervals), Catalyst phase times and the
kernel microbench. Here they become one span tree, run -> pass ->
operation -> job -> stage, and the per-layer metrics of the cold pass
(pass 0), the same work ``wall_s`` times.

A job is attributed to the operation whose interval holds its start,
and to a layer by the first ``graft.`` frame of its call site.
"""
import json
import os
import statistics

KERNELS = ["minhash_sig", "simhash32", "bottomk_shingle_hashes",
           "word_shingles", "feature_bucket_counts", "bpe_encode",
           "vec_sqdist", "ivf_argmin", "bloom"]
UNITS = {
    "session.start_s": "s", "jvm.peak_rss_mb": "MB",
    "SparkEntry.build_s": "s", "SparkEntry.build_jobs": "count",
    "SparkEntry.infer_jobs": "count", "SparkEntry.train_jobs": "count",
    "SparkEntry.staged_built": "count", "SparkEntry.staged_mb": "MB",
    "SparkEntry.staged_reuse_ratio": "ratio",
    "catalyst.plan_s": "s", "codegen.compiles": "count",
    "codegen.compile_s": "s",
    **{f"functions.{k}.ns_per_row": "ns" for k in KERNELS},
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.core_util": "ratio", "exec.idle_s": "s", "exec.serial_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "shuffle.read_mb": "MB", "shuffle.write_mb": "MB",
    "spill.mem_mb": "MB", "spill.disk_mb": "MB",
    "ingest.rows_in": "count", "ingest.mb_read": "MB", "ingest.scan_s": "s",
    "pipeline.l1_s": "s", "pipeline.l2_s": "s",
    "pipeline.rows_dropped": "count", "pipeline.l2_executions": "count",
    "sink.csv_s": "s", "sink.netcdf_s": "s", "sink.mb_written": "MB",
    "trace.overhead_frac": "ratio",
}
MB = 1 << 20
SLACK_MS = 2.0  # listener and harness clocks are both currentTimeMillis


def layer_of(site_long):
    """Layer of a job: the package of the first program frame that
    launched it (``graft.sink.NetCdf$.writeWide(...)`` -> ``sink``)."""
    for frame in (site_long or "").splitlines():
        frame = frame.strip()
        if frame.startswith("graft."):
            parts = frame.split("(")[0].split(".")
            if len(parts) > 3 and parts[1].islower():
                return parts[1], parts[2].rstrip("$")
            return parts[1].rstrip("$"), parts[1].rstrip("$")
        if frame.startswith("perfbench."):
            return "benchmark", "Harness"
    return "spark", ""


def _union_ms(spans, lo, hi):
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in spans):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _index(recs):
    by = {}
    for r in recs:
        by.setdefault(r["kind"], []).append(r)
    ends = {(r["app"], r["id"]): r["end"] for r in by.get("job_end", [])}
    sql_site = {(r["app"], r["id"]): r["site_long"] for r in by.get("sql", [])}
    for j in by.get("job", []):
        j["end"] = ends.get((j["app"], j["id"]), j["start"])
        j["layer"], j["module"] = layer_of(j.get("site_long"))
        if j["layer"] == "spark":
            j["layer"], j["module"] = layer_of(sql_site.get((j["app"], j.get("sql"))))
    ops = sorted(by.get("op", []), key=lambda o: o["start"])
    for j in by.get("job", []):
        j["op"] = next((o for o in ops if o["start"] - SLACK_MS <= j["start"]
                        <= o["end"] + SLACK_MS), None)
    job_of_stage = {(j["app"], s): j for j in by.get("job", [])
                    for s in j["stages"]}
    for s in by.get("stage", []):
        s["job"] = job_of_stage.get((s["app"], s["id"]))
    return by


def per_layer(recs, run_dir, inputs, workload, cores, staged):
    by = _index(recs)
    p0 = next(p for p in by["pass"] if p["pass"] == 0)
    wall = p0["end"] - p0["start"]
    ops0 = [o for o in by["op"] if o["pass"] == 0]
    warm_ops = [o for o in by["op"] if o["pass"] > 0]
    n_warm = max(1, len({o["pass"] for o in warm_ops}))
    jobs0 = [j for j in by.get("job", []) if j["op"] is not None
             and j["op"]["pass"] == 0]
    stages0 = [s for s in by.get("stage", []) if s["job"] is not None
               and s["job"] in jobs0]

    def build_jobs(jobs):
        return [j for j in jobs if j["start"] <= j["op"]["build_end"] + SLACK_MS
                and j["op"]["build_end"] < j["op"]["end"]]
    queries = workload != "firn_archive"
    b0 = build_jobs(jobs0) if queries else []
    infer = [j for j in b0 if (j.get("site") or "").startswith("parquet at")]
    warm_build = len(build_jobs([j for j in by.get("job", []) if j["op"] is not None
                                 and j["op"]["pass"] > 0])) / n_warm if queries else 0

    m = {"jvm.peak_rss_mb": by["rss"][0]["peak_kb"] / 1024}
    ctx = by.get("context", [])
    m["session.start_s"] = statistics.median(
        (c["ready"] - c["start"]) / 1000 for c in ctx) if ctx else 0.0
    m["SparkEntry.build_s"] = sum(o["build_end"] - o["start"] for o in ops0) / 1000 \
        if queries else 0.0
    m["SparkEntry.build_jobs"] = len(b0)
    m["SparkEntry.infer_jobs"] = len(infer)
    m["SparkEntry.train_jobs"] = len(b0) - len(infer)
    artifacts = [os.path.join(e, a) for e in staged for a in os.listdir(e)]
    m["SparkEntry.staged_built"] = len(artifacts)
    m["SparkEntry.staged_mb"] = sum(_bytes(a) for a in artifacts) / MB
    m["SparkEntry.staged_reuse_ratio"] = 1 - warm_build / len(b0) if b0 else 0.0
    plans0 = [p for p in by.get("plan", [])
              if p0["start"] - SLACK_MS <= p["start"] <= p0["end"] + SLACK_MS]
    m["catalyst.plan_s"] = sum(p["analysis_ms"] + p["optimization_ms"]
                               + p["planning_ms"] for p in plans0) / 1000
    m["codegen.compiles"] = sum(o["compiles"] for o in ops0)
    m["codegen.compile_s"] = sum(o["compile_ns"] for o in ops0) / 1e9
    kern = {k["name"]: k["ns_per_row"] for k in by.get("kernel", [])}
    for k in KERNELS:
        m[f"functions.{k}.ns_per_row"] = kern.get(k, 0.0)
    tasks = [t for s in stages0 for t in s["task_spans"]]
    m["exec.run_s"] = sum(s["run_ms"] for s in stages0) / 1000
    m["exec.cpu_s"] = sum(s["cpu_ns"] for s in stages0) / 1e9
    m["exec.gc_s"] = sum(s["gc_ms"] for s in stages0) / 1000
    m["exec.core_util"] = sum(b - a for a, b in tasks) / (wall * cores)
    m["exec.idle_s"] = sum((o["end"] - o["start"]) - _union_ms(tasks, o["start"], o["end"])
                           for o in ops0) / 1000
    m["exec.serial_s"] = sum(s["run_ms"] for s in stages0 if s["num_tasks"] == 1) / 1000
    m["exec.jobs"] = len(jobs0)
    m["exec.stages"] = len(stages0)
    m["exec.tasks"] = sum(s["tasks"] for s in stages0)
    m["shuffle.read_mb"] = sum(s["shuffle_read_b"] for s in stages0) / MB
    m["shuffle.write_mb"] = sum(s["shuffle_write_b"] for s in stages0) / MB
    m["spill.mem_mb"] = sum(s["spill_mem_b"] for s in stages0) / MB
    m["spill.disk_mb"] = sum(s["spill_disk_b"] for s in stages0) / MB
    scans = [s for s in stages0 if s["input_rows"] > 0]
    m["ingest.rows_in"] = sum(s["input_rows"] for s in scans)
    m["ingest.mb_read"] = sum(s["input_b"] for s in scans) / MB
    m["ingest.scan_s"] = sum(s["run_ms"] for s in scans) / 1000
    l1 = [o for o in ops0 if o["name"].startswith("l1:")]
    l2 = [o for o in ops0 if o["name"].startswith("l2:")]
    m["pipeline.l1_s"] = sum(o["end"] - o["start"] for o in l1) / 1000
    m["pipeline.l2_s"] = sum(o["end"] - o["start"] for o in l2) / 1000
    truth = inputs.get("truth", {})
    m["pipeline.rows_dropped"] = sum(t["raw_rows"] - t["n_unique"]
                                     for t in truth.values())
    l2_plans = [p for p in plans0 if any(o["start"] - SLACK_MS <= p["start"]
                                         <= o["end"] + SLACK_MS for o in l2)]
    m["pipeline.l2_executions"] = len(l2_plans) / len(l2) if l2 else 0.0
    m["sink.csv_s"] = sum(j["end"] - j["start"] for j in jobs0
                          if j["module"] == "Writers") / 1000
    m["sink.netcdf_s"] = sum(j["end"] - j["start"] for j in jobs0
                             if j["module"] == "NetCdf") / 1000
    m["sink.mb_written"] = _bytes(os.path.join(run_dir, "out", "p0")) / MB
    cost = sum(r["listener_ns"] for r in by.get("trace_cost", []))
    m["trace.overhead_frac"] = cost / 1e6 / wall
    return m


def _bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def write_spans(recs, run_id, workload, seed, out_dir):
    """Writes the run's span tree as JSON lines; returns the path."""
    by = _index(recs)
    spans = []

    def add(sid, parent, kind, name, start, end, **extra):
        spans.append({"run": run_id, "id": sid, "parent": parent, "kind": kind,
                      "name": name, "start": start, "end": end, **extra})
    start = min(r["start"] for r in by["pass"])
    add("run", None, "run", workload, start, max(p["end"] for p in by["pass"]),
        seed=seed)
    for p in by["pass"]:
        add(f"pass{p['pass']}", "run", "pass", "cold" if p["pass"] == 0 else "warm",
            p["start"], p["end"])
    for i, o in enumerate(by["op"]):
        o["sid"] = f"op{i}"
        add(o["sid"], f"pass{o['pass']}", "op", o["name"], o["start"], o["end"],
            ok=o["ok"], build_end=o["build_end"], compiles=o["compiles"])
    for j in by.get("job", []):
        j["sid"] = f"job:{j['app']}:{j['id']}"
        add(j["sid"], j["op"]["sid"] if j["op"] else "run", "job",
            j.get("site"), j["start"], j["end"], layer=j["layer"],
            module=j["module"])
    for s in by.get("stage", []):
        add(f"stage:{s['app']}:{s['id']}:{s['attempt']}",
            s["job"]["sid"] if s["job"] else "run", "stage", s["name"],
            s["start"], s["end"], tasks=s["tasks"], run_ms=s["run_ms"],
            cpu_ns=s["cpu_ns"], gc_ms=s["gc_ms"])
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{workload}-seed{seed}.spans.jsonl")
    with open(path, "w") as f:
        f.write("".join(json.dumps(s) + "\n" for s in spans))
    return path
