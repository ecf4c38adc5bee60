#!/usr/bin/env python3
"""End-to-end benchmark of the firn pipeline and the query registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The program is compiled from source by
``perfbench/build.py`` and started as one JVM (``perfbench.Harness``)
with ``build.sbt``'s run JVM options at ``local[nproc]``. The seed makes
the inputs; the program sees only those. Each run measures one cold
pass (no staged state for its freshly written inputs) and then a fixed
number of warm passes of the same work in the same process (more while
less than ``--seconds`` has been measured), checks the outputs, and
prints one JSON object as the last line of stdout. ``--trace 1``
registers span listeners from outside the program, runs the kernel
microbench, writes the span file to ``.bench_run/traces/`` and prints
the per-layer metrics instead. ``perfbench/METRICS.md`` defines every
number.
"""
import argparse
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402

STAGED_ROOT = "/tmp/graft_staged"  # hard-coded in SparkEntry
DEADLINE_S = 170
CORES = len(os.sched_getaffinity(0))

CURATION = [
    # kernel-bound
    "t1_minhash_sig", "t3_simhash", "t40_bloom_decontam", "t9_ivf_probe",
    "d6_bpe_tokens",
    # staged artifact (near-duplicate cluster labels)
    "d5_neardup_keep"]
CURATION_SCALE = 2
# Warm passes per run. A fixed count, not a time: the JIT keeps
# speeding up the first warm passes, so a time-bounded count would make
# the warm median depend on how many passes fit.
CURATION_WARM = 5  # ~3 s each
FIRN_WARM = 2  # ~12 s each
FIRN_SITES = ["fs1"]
FIRN_SCANS = 8760  # a quarter station-year at the 15-minute reference cadence
FIRN_BALES = 6

# build.sbt's run JVM options (javaOptions)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
JVM_OPTS = [x for p in ADD_OPENS
            for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Duser.timezone=UTC",
    f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def staged_entries(prefix_path):
    if not os.path.isdir(STAGED_ROOT):
        return []
    pre = re.sub(r"[^A-Za-z0-9._-]", "_", prefix_path)
    return [os.path.join(STAGED_ROOT, e) for e in os.listdir(STAGED_ROOT)
            if e.startswith(pre)]


def make_inputs(workload, seed, run_dir):
    import corpus
    import firn
    inp = os.path.join(run_dir, "in")
    if workload == "firn_archive":
        truth = firn.make_archive(inp, seed, FIRN_SITES, FIRN_SCANS, FIRN_BALES)
        return {"root": inp, "truth": truth}
    corpus.derive(inp, seed, CURATION_SCALE)
    return {"corpus": inp, "queries": CURATION}


def launch_harness(cp, args, props, env, run_dir, deadline):
    """Runs one harness JVM; returns (launch time, its records)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + props + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                         "perfbench.Harness"] + args
    with open(os.path.join(run_dir, "harness.out"), "w") as out, \
            open(os.path.join(run_dir, "harness.err"), "w") as err:
        launch = time.time()
        p = subprocess.Popen(cmd, stdout=out, stderr=err, env=env, cwd=run_dir)
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("harness JVM timed out")
    if p.returncode != 0:
        with open(os.path.join(run_dir, "harness.err")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness JVM exited {p.returncode}:\n{tail}")
    with open(args[1]) as f:
        return launch, [json.loads(line) for line in f if line.strip()]


def run_harness(cp, workload, inputs, seconds, trace, run_dir, deadline):
    """The workload's harness run; returns (set-up samples, records)."""
    spans = os.path.join(run_dir, "spans.jsonl")
    props = []
    if trace:
        props = ["-Dspark.extraListeners=perfbench.TraceListener",
                 "-Dspark.sql.queryExecutionListeners=perfbench.TracePlanListener",
                 "-Dperfbench.kernels=1"]
    if workload == "firn_archive":
        args = ["firn", spans, str(seconds), str(FIRN_WARM), inputs["root"],
                os.path.join(run_dir, "out"), ",".join(FIRN_SITES)]
    else:
        args = ["queries", spans, str(seconds), str(CURATION_WARM), inputs["corpus"],
                os.path.join(run_dir, "verify"),
                ",".join(inputs["queries"])]
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               # graft.Bench over an empty selection only builds its session
               SPARK_GRAFT_ONLY="",
               SPARK_GRAFT_SF_DIR=inputs.get("corpus", inputs.get("root")),
               SPARK_GRAFT_BENCH_FULL=os.path.join(run_dir, "bench_full.json"))
    setups = []
    if workload == "firn_archive":
        # firn's set-up is JVM start-up alone (~0.5 s) and swings by half
        # between launches, so two extra launches sample it
        probe = os.path.join(run_dir, "probe.jsonl")
        for _ in range(2):
            launch, recs = launch_harness(cp, ["probe", probe], [], env, run_dir,
                                          deadline)
            setups.append(setup_s(launch, recs))
    launch, recs = launch_harness(cp, args, props, env, run_dir, deadline)
    setups.append(setup_s(launch, recs))
    return setups, recs


def setup_s(launch, recs):
    """Launch of the JVM to its first workload call."""
    return next(r["at"] for r in recs if r["kind"] == "ready") / 1000 - launch


def check_queries(run_dir, inputs):
    """Oracle check of the workload's query results (graft.Verify dump)
    against DuckDB; returns the set of failed query names."""
    report = os.path.join(run_dir, "oracle.json")
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        os.path.join(run_dir, "verify"), inputs["corpus"], report],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if not os.path.exists(report):
        raise RuntimeError("oracle check wrote no report:\n" + p.stdout[-2000:])
    with open(report) as f:
        res = json.load(f)["queries"]
    failed = {n for n in inputs["queries"] if not res.get(n, {}).get("pass")}
    for n in sorted(failed):
        log(f"oracle FAIL {n}: {res.get(n, {}).get('reason', 'not checked')}")
    return failed


def check_firn(run_dir, inputs, passes):
    """Golden invariants per (pass, station); returns failed op names."""
    import firn
    failed = set()
    for p in passes:
        out = os.path.join(run_dir, "out", f"p{p}")
        for site in FIRN_SITES:
            try:
                bad = firn.check_station(
                    os.path.join(out, "level-1", f"{site}.csv"),
                    os.path.join(out, "level-2", f"{site}.csv"),
                    inputs["truth"][site])
            except Exception as e:  # missing or unreadable product
                bad = [f"{type(e).__name__}: {e}"]
            for b in bad:
                log(f"invariant FAIL pass {p} {site}: {b}")
            if bad:
                failed |= {(p, f"l1:{site}"), (p, f"l2:{site}")}
    return failed


def tail_percentile(samples, q=0.9):
    """Nearest-rank ``q`` quantile of ``samples``: (value, percentile, n).
    A run has about 20 warm operations, too few for a percentile with
    ten samples beyond it, so the percentile is fixed and reported."""
    s = sorted(samples)
    return s[max(0, math.ceil(q * len(s)) - 1)], 100 * q, len(s)


def end_to_end(setups, recs):
    passes = sorted((r for r in recs if r["kind"] == "pass"),
                    key=lambda r: r["pass"])
    rss = next(r["peak_kb"] for r in recs if r["kind"] == "rss")
    # operation latency in steady state: the cold pass is wall_s
    durs = [(o["end"] - o["start"]) / 1000 for o in recs
            if o["kind"] == "op" and o["pass"] > 0]
    tail, pct, n = tail_percentile(durs)
    m = {"setup_s": statistics.median(setups),
         "wall_s": (passes[0]["end"] - passes[0]["start"]) / 1000,
         "warm_wall_s": statistics.median(
             (p["end"] - p["start"]) / 1000 for p in passes[1:]),
         "op_p50_s": statistics.median(durs),
         "op_tail_s": tail}
    return m, {"op_tail_percentile": round(pct, 1), "op_samples": n,
               "passes": len(passes), "peak_rss_mb": round(rss / 1024, 1)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["firn_archive", "curation_heavy"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        cp = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    deadline = time.monotonic() + DEADLINE_S
    bench_root = os.path.join(ROOT, ".bench_run")
    # staged artifacts a killed earlier run left behind
    for e in staged_entries(bench_root):
        shutil.rmtree(e, ignore_errors=True)
    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(bench_root, f"{a.workload}-s{a.seed}-{run_id}")
    os.makedirs(run_dir)
    try:
        inputs = make_inputs(a.workload, a.seed, run_dir)
        setups, recs = run_harness(cp, a.workload, inputs, a.seconds, a.trace,
                                   run_dir, deadline)
        ops = [r for r in recs if r["kind"] == "op"]
        passes = sorted({o["pass"] for o in ops})
        if a.workload == "firn_archive":
            wrong = check_firn(run_dir, inputs, passes)
            bad = [o for o in ops if not o["ok"] or (o["pass"], o["name"]) in wrong]
        else:
            wrong = check_queries(run_dir, inputs)
            bad = [o for o in ops if not o["ok"] or o["name"] in wrong]
        metrics, detail = end_to_end(setups, recs)
        detail["fail_frac"] = len(bad) / len(ops)
        log("detail " + json.dumps(detail))
        log("op seconds by pass " + json.dumps(
            {o["name"]: [round((p["end"] - p["start"]) / 1000, 3)
                         for p in ops if p["name"] == o["name"]]
             for o in ops if o["pass"] == 0}))
        if a.trace:
            import layers
            layer = layers.per_layer(recs, run_dir, inputs, a.workload, CORES,
                                    staged_entries(inputs.get("corpus", run_dir)))
            out = layers.write_spans(recs, run_id, a.workload, a.seed,
                                    os.path.join(bench_root, "traces"))
            log(f"spans written to {out}")
            units = layers.UNITS
            result = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
        else:
            units = {"setup_s": "s", "wall_s": "s", "warm_wall_s": "s",
                     "op_p50_s": "s", "op_tail_s": "s"}
            result = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        print(json.dumps({"correct": not bad, "attempted": len(ops),
                          "failed": len(bad), "metrics": result}))
        return 0
    finally:
        for e in staged_entries(run_dir):
            shutil.rmtree(e, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
