"""The engine benchmark: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run:

1. starts Spark at local[<cores>] and times set-up (process start until
   a SparkSession has run a trivial job);
2. writes the workload's inputs, made from ``--seed``, under
   ``perfbench/work/`` (untimed);
3. runs one untimed warm-up round, then timed rounds (load + jobs,
   back to back on one driver thread: a closed loop with one client)
   while one more round of the same length still fits in
   ``--seconds``, at least one; every round is traced with
   ``--trace 1``;
4. checks every output against a reference outside the timed region,
   and reports medians over rounds.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``. The line before it holds the full report (all six
end-to-end metrics with units, the host record and, when traced, every
per-layer number), also written to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"

E2E_UNITS = {
    "setup_s": "s",
    "load_s": "s",
    "analytics_s": "s",
    "superstep_edges_per_s": "edges/s",
    "peak_rss_mb": "MB",
    "job_error_frac": "ratio",
}


# -- host ---------------------------------------------------------------
def since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


# -- spark --------------------------------------------------------------
def start_spark(work: str):
    """A SparkSession whose scratch space lies under ``work``."""
    local_dir, tmp = f"{work}/spark-local", f"{work}/tmp"
    for d in (local_dir, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "OLIVE_SPARK_LOCAL_DIR": local_dir,
        "SPARK_LOCAL_DIRS": local_dir,
        "OLIVE_SPARK_DRIVER_MEM": DRIVER_MEMORY,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    })
    from olive_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            # a fixed, pre-touched heap: how far a growable heap grows and
            # how much of it gets touched depend on GC timing, which made
            # the resident-set peak swing by a third between runs
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
            # every job and stage of a run stays readable for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


# -- traced rounds ----------------------------------------------------------
def layer_report(rnd, cores: int) -> dict:
    """Per-layer numbers of one traced round, named after the layers
    (olive_spark modules) they come from."""
    from workloads import CSR_ITERS

    tracer = rnd.tracer
    spans = tracer.spans
    selfs = tracer.self_seconds(spans)
    root = spans[0]
    checks = sum(s.seconds for s in spans if s.name == "check")
    wall = root.seconds - checks
    by_layer: dict[str, float] = {}
    for s in spans:
        by_layer[s.layer] = by_layer.get(s.layer, 0.0) + selfs[s.id]
    layered = sum(v for k, v in by_layer.items() if k != "bench")
    rep: dict[str, float] = {f"self.{k}_s": v for k, v in by_layer.items() if k != "bench"}
    rep["trace.wall_s"] = wall
    rep["trace.layer_coverage"] = layered / wall

    for s in spans:  # load steps; tpch loads two graphs, so sum
        if s.layer in ("ingest", "graph") and s.parent == root.id:
            rep[f"{s.name}_s"] = rep.get(f"{s.name}_s", 0.0) + s.seconds
            sw = tracer.stage_metrics(s).get("shuffle_write_bytes", 0)
            rep[f"{s.layer}.shuffle_write_bytes"] = rep.get(f"{s.layer}.shuffle_write_bytes", 0) + sw
            for k, v in s.extra.items():
                rep[f"{s.name.split('.')[0]}.{k}"] = v

    pooled: list[dict] = []
    loop_jobs = 0
    for s in spans:
        if s.layer not in ("algorithms", "csr") or s.parent != root.id:
            continue
        ids = tracer.job_ids(s)
        own_m = tracer.stage_metrics(s)
        steps = s.extra.get("supersteps", [])
        alg = f"{s.layer}.{s.name}"
        total_jobs = ids[-1] - ids[0] + 1 if ids else 0
        stats = tracer.job_range_stats(ids[0], ids[-1]) if ids else {}
        rep[f"{alg}.job_s"] = s.seconds
        rep[f"{alg}.jobs"] = total_jobs
        rep[f"{alg}.executor_run_ms"] = (own_m.get("executor_run_ms", 0.0)
                                         + sum(m.get("executor_run_ms", 0.0) for m in steps))
        rep[f"{alg}.shuffle_write_bytes"] = (own_m.get("shuffle_write_bytes", 0)
                                             + sum(m.get("shuffle_write_bytes", 0) for m in steps))
        for k, v in stats.items():
            rep[f"{alg}.{k}"] = v
        if steps:
            n = len(steps)
            p = f"pregel.{s.name}"
            ms = [m["ms"] for m in steps]
            rep[f"{p}.supersteps"] = n
            rep[f"{p}.superstep_ms.p50"] = statistics.median(ms)
            rep[f"{p}.first_superstep_ms"] = ms[0]
            rep[f"{p}.driver_ms_per_superstep"] = statistics.fmean(
                m["ms"] - m.get("executor_run_ms", 0.0) / cores for m in steps)
            for key in ("executor_run_ms", "shuffle_read_bytes", "tasks", "stages"):
                rep[f"{p}.{key}_per_superstep"] = statistics.fmean(m.get(key, 0) for m in steps)
            jobs = total_jobs - len(ids)
            rep[f"{p}.jobs_per_superstep"] = jobs / n
            pooled.extend(steps)
            loop_jobs += jobs
        if "checkpoint" in s.extra:
            c = s.extra["checkpoint"]
            rep["checkpoint.write_ms_per_superstep"] = statistics.fmean(c["ms"])
            rep["checkpoint.bytes_per_superstep"] = statistics.fmean(c["bytes"])
        for child in spans:
            if child.parent == s.id and child.layer == "csr":
                rep[f"{child.name}_s"] = child.seconds
                if child.name == "csr.pagerank":
                    cids = tracer.job_ids(child)
                    rep["csr.jobs_per_superstep"] = len(cids) / CSR_ITERS

    # the same loop numbers pooled over every loop of the workload
    if pooled:
        ms = [m["ms"] for m in pooled]
        first = [rep[k] for k in rep if k.endswith(".first_superstep_ms")]
        rep["pregel.supersteps"] = len(pooled)
        rep["pregel.superstep_ms_p50"] = statistics.median(ms)
        rep["pregel.first_superstep_ms"] = statistics.fmean(first)
        rep["pregel.driver_ms_per_superstep"] = statistics.fmean(
            m["ms"] - m.get("executor_run_ms", 0.0) / cores for m in pooled)
        for key in ("executor_run_ms", "shuffle_read_bytes", "tasks", "stages"):
            rep[f"pregel.{key}_per_superstep"] = statistics.fmean(m.get(key, 0) for m in pooled)
        rep["pregel.jobs_per_superstep"] = loop_jobs / len(pooled)
    algs = [k[:-len(".job_s")] for k in rep if k.endswith(".job_s") and k.startswith("algorithms.")]
    rep["algorithms.job_s"] = sum(rep[f"{a}.job_s"] for a in algs)
    for key in ("jobs", "executor_run_ms", "shuffle_write_bytes"):
        rep[f"algorithms.{key}"] = sum(rep[f"{a}.{key}"] for a in algs)
    rep["algorithms.peak_execution_memory_mb"] = max(
        (rep.get(f"{a}.peak_execution_memory_mb", 0.0) for a in algs), default=0.0)
    return rep


# -- one run --------------------------------------------------------------
def round_record(rnd) -> dict:
    """A round's times: load steps (summed by name, as tpch loads two
    graphs) and jobs."""
    loads: dict[str, float] = {}
    for s in rnd.tracer.spans:
        if s.layer in ("ingest", "graph") and s.parent == rnd.tracer.spans[0].id:
            loads[s.name] = loads.get(s.name, 0.0) + s.seconds
    return {"load_s": rnd.load_s, "analytics_s": rnd.analytics_s, "loads": loads,
            "jobs": {j.name: j.seconds for j in rnd.jobs}}


def job_medians(rounds) -> dict:
    """analytics_s and superstep_edges_per_s from each job's median time
    over the timed rounds, so that one slow job in one round does not
    decide a run."""
    times: dict[str, list[float]] = {}
    steps: dict[str, int] = {}
    for r in rounds:
        for j in r.jobs:
            times.setdefault(j.name, []).append(j.seconds)
            steps[j.name] = j.loop_edge_steps
    median = {name: statistics.median(t) for name, t in times.items()}
    loops = [name for name in median if steps[name]]
    loop_s = sum(median[name] for name in loops)
    return {
        "analytics_s": sum(median.values()),
        # 0 when no loop job finished (the run then reports failures)
        "superstep_edges_per_s": sum(steps[n] for n in loops) / loop_s if loops else 0.0,
    }


def run(args, spark, work: str, setup_s: float) -> dict:
    from harness import Round
    from spans import Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    t_prep = time.monotonic()
    inputs = wl.prepare(spark, f"{work}/inputs", args.seed)
    phases = {"prepare_s": time.monotonic() - t_prep}

    def play(label: str, warmup: bool = False) -> Round:
        tracer = Tracer(spark, f"{args.seed}-{label}", bool(args.trace))
        rnd = Round(spark, tracer, warmup)
        with tracer.span("round", "bench"):
            try:
                wl.round(rnd, spark, inputs)
            except Exception:  # a load step raised: the round cannot go on
                rnd.fail("round", traceback.format_exc())
        rnd.finish()
        return rnd

    # one untimed round first, checked like the others: class loading,
    # code generation, the JIT and the Python workers warm up in it, and
    # the references are computed. Its loops run one superstep each: the
    # one-off costs are paid in the first, and a shorter warm-up leaves
    # more of the run's time for timed rounds.
    t_warm = time.monotonic()
    warmup = play("warmup", warmup=True)
    phases["warmup_s"] = time.monotonic() - t_warm

    rounds: list[Round] = []
    t0 = time.monotonic()
    while True:
        # start every timed round from a collected heap, so that no round
        # pays for garbage an earlier one left, and give Spark's
        # ContextCleaner a moment to drop the shuffles and blocks the
        # collection freed, before the clock starts
        gc.collect()
        spark._jvm.java.lang.System.gc()
        time.sleep(1.0)
        r0 = time.monotonic()
        rounds.append(play(str(len(rounds))))
        # stop unless one more round of the same length still fits
        if time.monotonic() - t0 + (time.monotonic() - r0) > args.seconds:
            break
    phases["rounds_s"] = time.monotonic() - t0

    attempted = warmup.attempted + sum(r.attempted for r in rounds)
    failures = warmup.failures + [f for r in rounds for f in r.failures]
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    layers: dict[str, float] = {}
    if args.trace:
        t_rep = time.monotonic()
        reports = [layer_report(r, CORES) for r in rounds]
        for rep in reports:
            # the layers must account for the round's timed wall time
            attempted += 1
            if rep["trace.layer_coverage"] < 0.9:
                failures.append("trace coverage")
                sys.stderr.write(f"perfbench: layer self times cover only "
                                 f"{rep['trace.layer_coverage']:.1%} of the round\n")
        for key in reports[0]:
            layers[key] = statistics.median(rep[key] for rep in reports)
        layers["session.start_s"] = setup_s
        layers["trace.overhead_s"] = statistics.median(r.tracer.overhead_s for r in rounds)
        phases["trace_read_s"] = time.monotonic() - t_rep
    e2e = {
        "setup_s": setup_s,
        "load_s": statistics.median(r.load_s for r in rounds),
        **job_medians(rounds),
        "peak_rss_mb": (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0,
        "job_error_frac": len(failures) / attempted,
    }
    return {
        "e2e": e2e, "layers": layers, "attempted": attempted,
        "failed": len(failures), "failures": failures, "phases": phases,
        "warmup": round_record(warmup),
        "rounds": [round_record(r) for r in rounds],
        "spans": [s for r in rounds for s in r.tracer.dump()],
    }


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "olive_spark")):
        sys.stderr.write(f"perfbench: no olive_spark package under {ROOT}; "
                         "run from the root of a checkout\n")
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    from bench import _cpu_ticks as cpu_ticks  # (steal, total) from /proc/stat

    load0 = os.getloadavg()[0]
    steal0, total0 = cpu_ticks()
    spark = start_spark(work)
    setup_s = since_process_start()
    try:
        res = run(args, spark, work, setup_s)
        host = {
            "nproc": CORES,
            "load_avg_1m": [load0, os.getloadavg()[0]],
            "spark_version": spark.version,
            "java_version": spark._jvm.java.lang.System.getProperty("java.version"),
        }
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    host["steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1.0)

    metrics_spec = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["layers"] if args.trace else res["e2e"]
    missing = [m["name"] for m in metrics_spec if m["name"] not in source]
    if missing:  # only when a round failed before producing them
        res["failed"] += 1
        res["failures"].append(f"missing metrics {missing}")
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
               for m in metrics_spec}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in res["e2e"].items()},
        "layers": res["layers"], "host": host, "phases": res["phases"],
        "warmup": res["warmup"], "rounds": res["rounds"],
        "failures": res["failures"],
    }
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{name}.json"), "w") as f:
        json.dump({**report, "spans": res["spans"]}, f, indent=1)
    print(json.dumps(report))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
