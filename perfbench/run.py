"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload nshm_lookup --seed 1 --seconds 5 --trace 0

The run isolates itself under ``.perfbench_runs/`` in the checkout (temp,
Spark local, warehouse and derby dirs and every table), pins the Spark
environment, starts one session through ``session.get_spark`` at
local[nproc], sets the workload up, runs the timed loop for ``--seconds``
(finishing the round in flight), checks every result and prints the
metrics. The last stdout line is one JSON object. ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` wraps each call in a span with its
own Spark job group, writes an uncompressed event log and prints the
per-layer metrics instead. Exits non-zero when any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("nshm_lookup", "lakehouse_dml")
# set-ups per run; setup_s counts their median. One NSHM build costs
# ~25 s cold at local[4], so that workload builds once.
SETUP_REPS = {"nshm_lookup": 1, "lakehouse_dml": 3}
DRIVER_MEMORY = "1g"
RUN_LIMIT_S = 170


def process_start_epoch() -> float:
    """Wall-clock start of this process, from /proc (so interpreter
    start-up counts toward set-up time)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def isolate(run_dir: str, trace: bool) -> dict:
    """Fresh per-run dirs and the pinned Spark environment. Must run before
    the JVM starts: spark-submit reads PYSPARK_SUBMIT_ARGS at launch."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "derby", "jtmp", "eventlog", "data")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={dirs['derby']} -Djava.io.tmpdir={dirs['jtmp']} "
            # a fixed-size heap: RSS does not swing with heap resizing
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData"
        ),
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
        })
    env = {
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_WAREHOUSE_DIR": dirs["warehouse"],
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
        ) + " pyspark-shell",
    }
    os.environ.update(env)
    os.environ.pop("OMP_NUM_THREADS", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    return {"dirs": dirs, "nproc": nproc, "env": env}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM (and
    so its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    from harness import process_tree

    deadline = time.time() + 10
    while time.time() < deadline:
        rest = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        for p in rest:
            try:
                os.kill(p, signal.SIGTERM)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def make_workload(name: str, spark, tracer, data_dir: str, seed: int):
    if name == "nshm_lookup":
        from nshm_workload import NshmLookup

        return NshmLookup(spark, tracer, data_dir, seed)
    from lake_workload import LakehouseDml

    return LakehouseDml(spark, tracer, data_dir, seed)


def job_mark(sc) -> int:
    """Run a one-task marker job and return its id. Spark numbers jobs in
    submission order, so the jobs between two marks are the ids strictly
    between them, whatever thread or job group ran them."""
    sc.setJobGroup("perfbench-mark", "job count mark", interruptOnCancel=False)
    sc.parallelize([0], 1).count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup("perfbench-mark"))


def end_to_end(w, log, timed_s: float, setup_s: float, peak_kb: int, jobs: int) -> tuple[dict, dict]:
    from harness import mean_of_medians, tail_percentile

    lat = log.all_ms()
    tail = tail_percentile(lat)
    disk, given = w.storage()
    metrics = {
        "setup_s": setup_s,
        "jobs_per_op": jobs / len(lat),
        "disk_bytes_per_input_byte": disk / given,
        "peak_rss_mb": peak_kb / 1024.0,
    }
    info = {
        "ops": len(lat),
        "light_ops": sum(len(v) for v in log.by_kind("light").values()),
        "heavy_ops": sum(len(v) for v in log.by_kind("heavy").values()),
        # too few samples per run for a steady tail: reported, not gated
        "tail_percentile": tail[0] if tail else None,
        "tail_ms": tail[1] if tail else None,
        # wall-clock figures: printed, not gated (see README)
        "ops_per_s": len(lat) / timed_s,
        "light_ms": mean_of_medians(log.by_kind("light")),
        "heavy_ms": mean_of_medians(log.by_kind("heavy")),
        "jobs": jobs,
        "timed_s": timed_s,
        "latency_ms": {k: [round(x, 1) for x in v] for k, v in log.by_kind().items()},
    }
    return metrics, info


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv=None) -> int:
    t_proc = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "nshm2022db_spark", "session.py")):
        print(f"perfbench: no nshm2022db_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    pinned = isolate(run_dir, bool(args.trace))
    load_start = loadavg()

    from harness import OpLog, RssSampler, Tracer, median
    from layers import END_TO_END, per_layer_units

    spark = None
    try:
        with RssSampler() as rss:
            from nshm2022db_spark.session import get_spark

            spark = get_spark(f"perfbench-{args.workload}")
            spark.range(1).count()  # the JVM's first job is part of session start
            session_s = time.time() - t_proc
            tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
            w = make_workload(args.workload, spark, tracer, pinned["dirs"]["data"], args.seed)
            reps = []
            for _ in range(SETUP_REPS[args.workload]):
                t0 = time.perf_counter()
                w.setup()
                reps.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            with tracer.paused():
                w.warm()
            warm_s = time.perf_counter() - t0
            setup_s = session_s + median(reps) + warm_s

            log = OpLog()
            overhead0 = tracer.overhead_s
            mark0 = job_mark(spark.sparkContext)
            t0 = time.perf_counter()
            w.run(args.seconds, log)
            timed_s = time.perf_counter() - t0
            jobs = job_mark(spark.sparkContext) - mark0 - 1
            errors = w.check()
            layer_extra = w.layer_stats() if args.trace else {}
            layer_extra["trace.overhead_frac"] = (tracer.overhead_s - overhead0) / timed_s
            layer_extra["session.start_s"] = session_s
        metrics, info = end_to_end(w, log, timed_s, setup_s, rss.peak_kb, jobs)
        info.update({"session_s": session_s, "setup_reps_s": reps, "warm_s": warm_s})
        stop_spark(spark)
        spark = None
        if args.trace:
            from layers import per_layer

            spans_path = os.path.join(ROOT, ".perfbench_runs", f"spans-{args.workload}-s{args.seed}.jsonl")
            tracer.dump(spans_path)
            metrics = per_layer(tracer, pinned["dirs"]["eventlog"], layer_extra)
    finally:
        if spark is not None:
            stop_spark(spark)
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)

    units = per_layer_units() if args.trace else END_TO_END
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": pinned["nproc"], "loadavg_start": load_start, "loadavg_end": loadavg(),
        "env": {k: v for k, v in pinned["env"].items() if k != "PYSPARK_SUBMIT_ARGS"},
        "spark_confs": pinned["env"]["PYSPARK_SUBMIT_ARGS"], **info,
    }
    print("# perfbench " + json.dumps(record))
    for e in errors[:20]:
        print(f"# check failed: {e}")
    result = {
        "correct": not errors,
        # every timed op, plus the set-up build, which is checked too
        "attempted": len(log.records) + 1,
        "failed": len(errors),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
