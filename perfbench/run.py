"""End-to-end benchmark of the Telegram pipeline: raw update JSON in,
checked reference-query answers out, every layer timed.

    python3 perfbench/run.py --workload day_batch --seed 1 --seconds 24 --trace 0

Run it from the repository root. It starts one Spark session on
``local[N]`` (N from the workload, capped at the usable cores) and sets
the workload up: input generation plus one untimed pass at reduced size.
``setup_s`` is the session start plus that cold set-up. Untimed full
passes then warm the JVM, and timed passes run for ``--seconds``
seconds; every time metric is a median over them or over their pooled
samples. With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` passes alternate traced and untraced and it
carries the per-layer metrics, including the tracing overhead. Every
answer and row count is checked; a mismatch is printed and counted in
``failed``. Everything the run writes goes under a temp dir in the
checkout, removed at exit. See perfbench/README.md for the workloads.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PHASES = {  # per-layer name → streaming progress durationMs key
    "get_batch_ms": "getBatch",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "query_planning_ms": "queryPlanning",
    "latest_offset_ms": "latestOffset",
}


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["day_batch", "webhook_trickle"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def start_spark(tmp: str, cores: int):
    """A session whose every file lives under ``tmp``; the master is passed
    explicitly and the repository root is on the Python workers' path."""
    for sub in ("local", "java", "py", "warehouse"):
        os.makedirs(f"{tmp}/{sub}")
    os.environ["SPARK_LOCAL_DIRS"] = f"{tmp}/local"
    os.environ["TMPDIR"] = f"{tmp}/py"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from data_pipeline_project_using_telegram_and_aws_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}/java -XX:-UsePerfData",
            "spark.local.dir": f"{tmp}/local",
            "spark.sql.warehouse.dir": f"{tmp}/warehouse",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the session's JVM, where the pipeline runs.
    This Python process is left out: it holds mostly the benchmark's own
    generated inputs and expected answers."""
    with open(f"/proc/{jvm_pid}/status") as fh:
        return next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:")) / 1024


def tail(values: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples above it
    (nearest rank), and that percentile; the maximum when there are ten
    samples or fewer."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return s[-1], 100
    pct = math.floor(100 * (n - 10) / n)
    return s[math.ceil(pct * n / 100) - 1], pct


def med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(passes: list[dict], setup_iv: tuple[float, float], ok: float,
               dur) -> tuple[dict, dict]:
    """The end-to-end metrics, each interval measured by ``dur(start, end)``."""
    cache: dict = {}

    def d(iv):
        if iv not in cache:
            cache[iv] = dur(*iv)
        return cache[iv]

    fresh_by_pass = [[d(iv) for iv in p["fresh"]] for p in passes]
    fresh = [f for fs in fresh_by_pass for f in fs]
    qs = [d(iv) for p in passes for iv in p["query_iv"]]
    # freshness tail per pass, then the median pass: one stall of the host
    # holds back every update of a micro-batch, far more than ten samples
    pass_tails = [tail(fs) for fs in fresh_by_pass]
    fresh_tail = med(t for t, _ in pass_tails)
    q_tail, q_pct = tail(qs)
    metrics = {
        "setup_s": (d(setup_iv), "s"),
        "pipeline_updates_per_s": (med(p["updates"] / d(p["pipeline_iv"]) for p in passes),
                                   "1/s"),
        "etl_day_s": (med(sum(d(iv) for iv in p["etl_iv"]) for p in passes), "s"),
        "freshness_p50_s": (med(fresh), "s"),
        "freshness_tail_s": (fresh_tail, "s"),
        "query_p50_s": (med(qs), "s"),
        "query_tail_s": (q_tail, "s"),
        "ok_share": (ok, "share"),
    }
    info = {"freshness_samples": len(fresh),
            "freshness_tail_pct": [pct for _, pct in pass_tails],
            "query_samples": len(qs), "query_tail_pct": q_pct}
    return metrics, info


def per_layer(passes: list[dict], rss: float) -> dict:
    from updates import QUERY_NAMES

    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]

    def span(p, name):
        return next(s for s in p["spans"] if s["name"] == name)

    batches = [b for p in traced for b in p["progress"] if b["numInputRows"]]
    m = {
        "ingest.batches": (med(sum(1 for b in p["progress"] if b["numInputRows"])
                               for p in traced), "count"),
        "ingest.input_rows": (med(sum(b["numInputRows"] for b in p["progress"])
                                  for p in traced), "count"),
        # over the batches' own time, not the ingest span, which on the
        # trickle is mostly the arrivals' fixed schedule
        "ingest.rows_per_s": (med(sum(b["numInputRows"] for b in p["progress"])
                                  / sum(b["durationMs"]["triggerExecution"] / 1000
                                        for b in p["progress"] if b["numInputRows"])
                                  for p in traced), "1/s"),
        "ingest.tasks": (med(p["stream"]["tasks"] for p in traced), "count"),
        "ingest.failed_tasks": (med(p["stream"]["failed_tasks"] for p in traced), "count"),
        "ingest.raw_files_written": (med(p["acct"]["raw_files"] for p in traced), "count"),
    }
    for metric, key in PHASES.items():
        m[f"ingest.{metric}"] = (med(b["durationMs"].get(key, 0) for b in batches), "ms")
    m["ingest.backlog_at_stop"] = (med(p["backlog"] for p in traced), "count")
    m["ingest.generator_late_s"] = (max(p["late_s"] for p in traced), "s")
    etl = [span(p, "etl") for p in traced]
    m.update({
        "etl.wall_s": (med(s["s"] for s in etl), "s"),
        "etl.jobs": (med(s["jobs"] for s in etl), "count"),
        "etl.tasks": (med(s["tasks"] for s in etl), "count"),
        "etl.raw_files_read": (med(p["acct"]["raw_files"] for p in traced), "count"),
        "etl.rows_in": (med(p["acct"]["raw_rows"] for p in traced), "count"),
        "etl.rows_out": (med(p["acct"]["rows_out"] for p in traced), "count"),
        "etl.files_per_partition": (
            med(p["acct"]["files_per_partition"] for p in traced), "count"),
        "etl.bytes_out_per_byte_in": (med(p["acct"]["bytes_ratio"] for p in traced), "ratio"),
        "catalog.register_s": (med(span(p, "catalog.register")["s"] for p in traced), "s"),
        "catalog.persistent_register_s": (
            med(span(p, "catalog.persistent_register")["s"] for p in traced), "s"),
    })
    for q in QUERY_NAMES:
        spans = [s for p in traced for s in p["spans"] if s["name"] == f"refq.{q}"]
        for key, unit in (("translate_s", "s"), ("build_s", "s"), ("exec_s", "s"),
                          ("tasks", "count")):
            m[f"refq.{q}.{key}"] = (med(s[key] for s in spans), unit)
    m["jvm.peak_rss_mb"] = (rss, "MB")
    m["trace.span_coverage"] = (
        med(sum(s["s"] for s in p["spans"] if s["top"]) / p["wall"] for p in traced), "ratio")
    m["trace.overhead_share"] = (
        med(p["wall"] for p in traced) / med(p["wall"] for p in plain) - 1 if plain else 0.0,
        "ratio")
    return m


def main() -> int:
    args = parse_args()
    sys.path.insert(0, ROOT)
    try:
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the pipeline package from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from steal import StealClock

    workload = workloads.WORKLOADS[args.workload]
    cores = min(workload.cores, len(os.sched_getaffinity(0)))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    spark = None
    clock = StealClock()
    try:
        setup_start = time.time()
        spark = start_spark(tmp, cores)
        session_s = time.time() - setup_start
        bench = workloads.Bench(spark, tmp)
        w = workload(bench, args.seed)
        w.setup()
        setup_iv = (setup_start, time.time())
        # Untimed full passes, in no metric: without them the median sat on
        # the JIT's warm-up slope.
        warm_s = []
        for _ in range(w.WARM_PASSES):
            t = time.perf_counter()
            w.run_pass(traced=False)
            warm_s.append(round(time.perf_counter() - t, 3))

        passes = []
        t_meas, t_meas_epoch = time.perf_counter(), time.time()
        while time.perf_counter() - t_meas < args.seconds or len(passes) < 1 + args.trace:
            passes.append(w.run_pass(traced=bool(args.trace) and len(passes) % 2 == 0))
        t_end_epoch = time.time()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = peak_rss_mb(jvm_pid)
    finally:
        clock.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still uses it

    ok = 1 - bench.failed / bench.attempted
    plain = [p for p in passes if not p["traced"]] or passes
    e2e, info = end_to_end(plain, setup_iv, ok, clock.unstolen)
    wall_clock, _ = end_to_end(plain, setup_iv, ok, lambda a, b: b - a)
    info.update(wall_clock={k: v for k, (v, _u) in wall_clock.items() if k != "ok_share"},
                steal_share=clock.steal_share(t_meas_epoch, t_end_epoch))
    info.update(workload=args.workload, seed=args.seed, cores=cores,
                master=f"local[{cores}]", trace=args.trace, passes=len(passes),
                session_s=round(session_s, 3), warm_passes_s=warm_s,
                pass_walls_s=[round(p["wall"], 3) for p in passes])
    metrics = per_layer(passes, rss) if args.trace else e2e
    print(json.dumps({"info": info}))
    correct = bench.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": bench.attempted, "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
