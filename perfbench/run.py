#!/usr/bin/env python3
"""Benchmark of the marketing ETL engine, end to end and layer by layer.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run builds the program if its sources changed (perfbench/build.py),
generates the workload's inputs from the seed, and drives the program's
public entry points from fresh JVMs: `local[nproc]`, one client running one
query at a time (a closed loop), `spark.sql.shuffle.partitions = nproc`.

* `--trace 0` measures the end-to-end metrics. One JVM sets up, runs the cold
  pass, an untimed warm-up pass and then warm passes for `--seconds`, of
  which the first MIN_WARM are counted.
* `--trace 1` runs one JVM with a SparkListener and a QueryExecutionListener
  registered and spans recorded around every call into a layer; warm passes
  alternate traced and untraced, which gives the tracing overhead with both
  of its bases. Spans and per-query counters go to perfbench/out/.

Every run checks the cold pass's results against the DuckDB oracle SQL the
program declares, outside the timed region, and prints one JSON line last.
Workload sizes, query lists, JVM flags and baselines: perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# Star surfaces: the daily channel rollup the KPI views build on, and the
# analyst best-seller and retention reads. Three, because a run must end in
# about a minute and a JVM set-up alone takes about 11 s on a 4-core host.
STAR_SURFACES = ["mv_channel_daily", "q1_best_sellers", "q7_retention"]
# Curation queries: the d04/d16 memo pair and a consumer of it (d17), a
# light consumer of the fanned shingle cache (t11) and one that gains from
# the fan-out (d03), and d19, which publishes an ArtifactStore index.
CURATION_QUERIES = ["d04_minhash_lsh", "d16_dedup_clusters", "d17_cluster_apply",
                    "t11_decontaminate", "d03_ngram_jaccard", "d19_incremental_dedup"]

WORKLOADS = {"star_nightly": STAR_SURFACES, "curation": CURATION_QUERIES}
# half of sf0.1's 5,000 documents: the largest corpus with which 24 runs of
# each workload fit the regression check's time (perfbench/README.md)
CURATION_DOCS = 2500
# The warm passes the metrics are taken from, after the warm-up pass. A
# run goes on with more while `--seconds` have not passed, but those are
# not counted, so a faster commit does the same measured work. Traced runs
# alternate traced and untraced passes, so this is at least two.
MIN_WARM = 3
JVM_TIMEOUT_S = 150

# the module opens of build.sbt and tools/run.sh (Spark on JDK 17)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def heap():
    """Driver heap the way the tier-1 test command sizes it: half of
    MemTotal, clamped to 2-8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def jvm_flags():
    # -XX:-UsePerfData: no hsperfdata file in the system tmp directory
    return ADD_OPENS + [f"-Xmx{heap()}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
                        "-Dspark.sql.session.timeZone=UTC"]


def launch(cp, work, args):
    """One driver JVM in a fresh working, tmp and warehouse directory;
    returns its result JSON."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    log_path = os.path.join(work, "jvm.log")
    cmd = (["java"] + jvm_flags() + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                      "perfbench.PerfDriver", f"work={work}", f"out={out}"]
           + [f"{k}={v}" for k, v in args.items()])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd + [f"spawned_at={time.time():.6f}"], cwd=work,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"driver JVM failed ({code})")
    with open(out) as f:
        return json.load(f)


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if os.path.isfile(os.path.join(d, f)))
    return total


MB = 1 << 20


def measured_warm(res):
    return [p for p in res["passes"] if p["label"] == "warm"][:MIN_WARM]


def e2e_metrics(res):
    warm = [p["wall_s"] for p in measured_warm(res)]
    warm_idx = {p["index"] for p in measured_warm(res)}
    lat = [s["builder_s"] + s["action_s"] for s in res["samples"]
           if s["pass"] in warm_idx and s["kind"] in ("etl.catalog", "query")]
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_pass_s": (res["passes"][0]["wall_s"], "s"),
        "warm_pass_s": (statistics.median(warm), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
    }


def layer_metrics(res, cpus, leftover_bytes):
    """Layer counters over a fixed amount of work: the cold pass, the first
    traced warm pass and, on star_nightly, the landing."""
    traced_warm = [p["index"] for p in res["passes"] if p["label"] == "warm" and p["traced"]]
    counted = {p["index"] for p in res["passes"]
               if p["label"] in ("cold", "landing") or p["index"] == traced_warm[0]}
    passes = [p for p in res["passes"] if p["index"] in counted]
    samples = [s for s in res["samples"] if s["pass"] in counted]
    c = {}
    for s in samples:
        for k, v in s["counters"].items():
            c[k] = c.get(k, 0) + v
    wall = sum(p["wall_s"] for p in passes)
    reads = [s for s in samples if s["kind"] in ("etl.catalog", "query")]
    untraced = [p["wall_s"] for p in measured_warm(res) if not p["traced"]]
    traced = [p["wall_s"] for p in measured_warm(res) if p["traced"]]
    g = c.get
    return {
        "etl.pipeline_s": (sum(s["builder_s"] for s in samples if s["kind"] == "etl.pipeline"), "s"),
        "etl.catalog_s": (sum(s["builder_s"] + s["action_s"] for s in samples
                              if s["kind"] == "etl.catalog"), "s"),
        "scan.input_mb": (g("input_bytes", 0) / MB, "MB"),
        "scan.records": (g("input_records", 0), "count"),
        "sources.write_s": (g("write_job_ms", 0) / 1e3, "s"),
        "sources.files_written": (g("files_written", 0), "count"),
        "sources.output_mb": (g("output_bytes", 0) / MB, "MB"),
        "catalyst.plan_s": (g("plan_ms", 0) / 1e3, "s"),
        "catalyst.executions": (g("executions", 0), "count"),
        "scheduler.jobs": (g("jobs", 0), "count"),
        "scheduler.stages": (g("stages", 0), "count"),
        "scheduler.tasks": (g("tasks", 0), "count"),
        "scheduler.task_wait_s": (g("task_wait_ms", 0) / 1e3, "s"),
        "driver.idle_s": (sum(p["idle_s"] for p in passes), "s"),
        "exec.task_s": (g("task_ms", 0) / 1e3, "s"),
        "exec.cpu_s": (g("cpu_ns", 0) / 1e9, "s"),
        "exec.gc_s": (g("gc_ms", 0) / 1e3, "s"),
        "exec.core_util": (g("task_ms", 0) / 1e3 / (wall * cpus), "ratio"),
        "shuffle.write_mb": (g("shuffle_write_bytes", 0) / MB, "MB"),
        "shuffle.read_mb": (g("shuffle_read_bytes", 0) / MB, "MB"),
        "shuffle.fetch_wait_s": (g("fetch_wait_ms", 0) / 1e3, "s"),
        "shuffle.spill_mb": (g("spill_bytes", 0) / MB, "MB"),
        "builder.self_s": (sum(s["builder_s"] for s in reads), "s"),
        "action.s": (sum(s["action_s"] for s in reads), "s"),
        "memo.builds": (g("memo_builds", 0), "count"),
        "memo.scans": (g("memo_scans", 0), "count"),
        "memo.cached_mb": (max(p["cached_bytes"] for p in passes) / MB, "MB"),
        "memo.root_scans": (g("memo_root_scans", 0), "count"),
        "artifact.builds": (g("artifact_builds", 0), "count"),
        "artifact.disk_mb": (res["artifact_bytes"] / MB, "MB"),
        "jvm.rss_peak_mb": (res["vmhwm_kb"] / 1024, "MB"),
        "jvm.heap_peak_mb": (res["heap_peak_bytes"] / MB, "MB"),
        "jvm.gc_s": (res["jvm_gc_ms"] / 1e3, "s"),
        "exec.failed_tasks": (g("failed_tasks", 0), "count"),
        "scheduler.failed_stages": (g("failed_stages", 0), "count"),
        "disk.leftover_mb": (leftover_bytes / MB, "MB"),
        "trace.warm_untraced_s": (statistics.median(untraced), "s"),
        "trace.warm_traced_s": (statistics.median(traced), "s"),
        "trace.overhead": (statistics.median(traced) / statistics.median(untraced), "ratio"),
    }


def main():
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    queries = WORKLOADS[a.workload]

    cp = build.build()
    cpus = os.cpu_count()
    run_dir = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        inp = os.path.join(run_dir, "input")
        if a.workload == "star_nightly":
            gen.reference_csvs(inp, a.seed)
        else:
            gen.documents(inp, a.seed, CURATION_DOCS)

        main_dir = os.path.join(run_dir, "main")
        rows = os.path.join(main_dir, "rows")
        res = launch(cp, main_dir, dict(
            cpus=cpus, workload=a.workload, input=inp, rows=rows, seed=a.seed,
            seconds=a.seconds, trace=a.trace, queries=",".join(queries), min_warm=MIN_WARM))
        leftover = sum(dir_bytes(os.path.join(main_dir, d))
                       for d in ("tmp", "spark-local", "spark-warehouse"))

        star = a.workload == "star_nightly"
        verdicts = oracle.check(rows, None if star else inp, "ref_" if star else "")
        failed_names = {n for n, v in verdicts.items() if v is not None}
        for n, v in sorted(verdicts.items()):
            if v is not None:
                print(f"oracle mismatch {a.workload}/{n}: {v}", file=sys.stderr)
        attempted = len(res["samples"])
        failed = sum(1 for s in res["samples"]
                     if not s["ok"] or (s["pass"] == 0 and s["name"] in failed_names))
        for s in res["samples"]:
            if not s["ok"]:
                print(f"failed {a.workload}/{s['name']} pass {s['pass']}: {s['error']}",
                      file=sys.stderr)
        checked = set(verdicts) == set(queries)

        if a.trace:
            metrics = layer_metrics(res, cpus, leftover)
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            with open(os.path.join(HERE, "out", f"trace-{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "cpus": cpus,
                           "metrics": {k: v for k, (v, _) in metrics.items()},
                           "passes": res["passes"], "queries": res["samples"],
                           "spans": res["spans"]}, f)
        else:
            metrics = e2e_metrics(res)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and checked,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
