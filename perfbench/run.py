"""Crawl-engine benchmark: one command, two workloads, oracle-checked.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads:

  crawl_wide  four mirrored universes crawled from their listing pages with a
              large window; each operation copies a checkpoint holding
              rounds 0-1 and runs discovery round 2 through a fresh engine
              resuming from it
  query_mix   registry queries to the noop sink over the sf0.01 fixture, one
              cycle over the relational + iterative list per operation

Each is a closed loop with one client on ``local[<cpus>]``: the next
operation starts when the previous one ends, until ``--seconds`` have
passed. Before the workload the Spark session is started cold (a new JVM)
``SETUPS`` times; ``setup_s`` is the median of those starts, each with a
warm-up job. Outputs are checked against the oracles after the loop. With
``--trace 1`` calls into the program's layers are wrapped in spans and the
Spark status store is read per span; the spans are written to
``.bench_run/trace-<workload>-<seed>.json``. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_wide", "query_mix")
# cold session starts per run; setup_s is their median. Each launches a JVM
# (~10 s on 4 cores), so two is what leaves room for the workload in a run.
SETUPS = 2


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _start_session(conf: dict[str, str]):
    """Start the JVM and the session the program's way, then run a warm-up
    job; returns the session and the seconds that took."""
    from vbpl_web_crawl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def _stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit; the
    next session start launches a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _loop(work, seconds: float) -> None:
    """Closed loop: start operations until ``seconds`` have passed."""
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        try:
            work.run_op()
        except Exception:  # the gate counts it; keep the loop running
            traceback.print_exc(file=sys.stderr)


def _generic_layers(ops: list[dict], jobs, stages, cpus: int) -> dict[str, float]:
    """Per-operation Spark scheduler figures, defined the same way on every
    workload (an operation is a crawl round or a query cycle)."""
    from probes import spark_delta

    n = max(len(ops), 1)
    ds = [spark_delta(jobs, stages, o["start"], o["end"]) for o in ops]
    wall = sum(o["wall_s"] for o in ops)
    busy = sum(d["job_busy_s"] for d in ds)
    run_s = sum(d["executor_run_s"] for d in ds)
    return {
        "spark.jobs_per_op": sum(d["jobs"] for d in ds) / n,
        "spark.stages_per_op": sum(d["stages"] for d in ds) / n,
        "spark.tasks_per_op": sum(d["tasks"] for d in ds) / n,
        "spark.job_busy_s_per_op": busy / n,
        "spark.driver_only_s_per_op": max(wall - busy, 0.0) / n,
        "spark.executor_run_s_per_op": run_s / n,
        "spark.executor_cpu_s_per_op": sum(d["executor_cpu_s"] for d in ds) / n,
        "spark.core_util": run_s / (wall * cpus),
        "spark.shuffle_write_mb_per_op": sum(d["shuffle_write_mb"] for d in ds) / n,
    }


def main(argv: list[str]) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "vbpl_web_crawl_spark")):
        print(f"no vbpl_web_crawl_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import probes

    run_root = os.path.join(ROOT, ".bench_run")
    work_dir = os.path.join(run_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    host = probes.pin_host(work_dir)
    cpus = host["cpus"]
    conf = probes.session_conf(work_dir)
    run_id = f"{args.workload}-{args.seed}-{args.trace}-{int(time.time())}"
    tracer = probes.Tracer(run_id, enabled=bool(args.trace))
    record: dict = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "cpus": cpus,
        "git_sha": probes.source_revision(ROOT),
    }
    jiffies0 = probes.cpu_jiffies()
    spark = None
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    try:
        with probes.RssSampler() as rss:
            setups = []
            for _ in range(SETUPS):
                if spark is not None:
                    _stop_session(spark)
                    spark = None
                spark, s = _start_session(conf)
                setups.append(s)
            phase("setup")

            if args.workload == "query_mix":
                import queries

                work = queries.QueryLoop(spark, args.seed, tracer)
            else:
                import crawl

                work = crawl.CrawlLoop(spark, crawl.wide_config(args.seed, cpus), work_dir, tracer, cpus)
            work.instrument()
            work.prepare()

            phase("prepare")
            jiffies1 = probes.cpu_jiffies()
            _loop(work, args.seconds)
            phase("measure")
            record["steal_pct_measured"] = probes.steal_pct(jiffies1, probes.cpu_jiffies())

            # a raised operation is counted by the gate as a failed one
            attempted = work.attempted()
            failed = work.check()
            e2e = work.end_to_end()
            phase("check")
            metrics: dict[str, dict] = {}
            if args.trace:
                jobs, stages = probes.status_snapshot(spark)
                ops = work.cycles if args.workload == "query_mix" else work.rounds
                generic = _generic_layers(ops, jobs, stages, cpus)
                named, unattributed = work.layers(jobs, stages)
                generic["trace.unattributed_share"] = unattributed
                generic["trace.bookkeeping_s_per_op"] = tracer.bookkeeping_s / max(len(ops), 1)
                record["layers"] = named
                record["self_s"] = tracer.self_times()
                metrics = {k: {"value": v, "unit": UNITS_TRACE[k]} for k, v in generic.items()}
                phase("trace_report")
            else:
                metrics = {
                    "setup_s": {"value": statistics.median(setups), "unit": "s"},
                    "op_p50_s": {"value": e2e["op_p50_s"], "unit": "s"},
                    "work_per_s": {"value": e2e["work_per_s"], "unit": "1/s"},
                }
        if args.trace:
            metrics["process_tree.peak_rss_mb"] = {"value": rss.peak_kb / 1024.0, "unit": "MB"}
        record.update(
            setups_s=setups,
            named={**e2e["named"], "cpu_s_per_op": (e2e["cpu_s_per_op"], "s")},
            attempted=attempted,
            failed=failed,
            error_rate=failed / max(attempted, 1),
            peak_rss_mb=rss.peak_kb / 1024.0,
            steal_pct=probes.steal_pct(jiffies0, probes.cpu_jiffies()),
            phases_s=phases,
            metrics=metrics,
        )
        _write_record(run_root, record, tracer, e2e)
    finally:
        if spark is not None:
            _stop_session(spark)
        tracer.restore()
        shutil.rmtree(work_dir, ignore_errors=True)

    _report(record)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


UNITS_TRACE = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.job_busy_s_per_op": "s",
    "spark.driver_only_s_per_op": "s",
    "spark.executor_run_s_per_op": "s",
    "spark.executor_cpu_s_per_op": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_write_mb_per_op": "MB",
    "trace.unattributed_share": "ratio",
    "trace.bookkeeping_s_per_op": "s",
}  # plus process_tree.peak_rss_mb, added after the sampler stops


def _write_record(run_root: str, record: dict, tracer, e2e: dict) -> None:
    """Keep the run record (and the spans of a traced run) for later
    comparison; the traced run also reports its overhead against the
    untraced record of the same workload, seed and source revision."""
    rec_dir = os.path.join(run_root, "records")
    os.makedirs(rec_dir, exist_ok=True)
    key = f"{record['workload']}-{record['seed']}"
    if record["trace"]:
        untraced = os.path.join(rec_dir, f"{key}-0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)
            if base.get("git_sha") == record["git_sha"]:
                record["trace_overhead_share"] = e2e["op_p50_s"] / base["metrics"]["op_p50_s"]["value"] - 1.0
        tracer.dump(os.path.join(run_root, f"trace-{key}.json"), {"record": record})
    with open(os.path.join(rec_dir, f"{key}-{record['trace']}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)


def _report(record: dict) -> None:
    print(f"# {record['workload']} seed={record['seed']} trace={record['trace']} "
          f"cpus={record['cpus']} git={record['git_sha']} steal={record['steal_pct']:.2f}%")
    print(f"setup_s {statistics.median(record['setups_s']):.4f} s")
    for name, (value, unit) in record["named"].items():
        print(f"{name} {value:.6g} {unit}")
    print(f"peak_rss_mb {record['peak_rss_mb']:.1f} MB")
    print("phases_s " + " ".join(f"{k}={v:.2f}" for k, v in record["phases_s"].items()))
    print(f"error_rate {record['error_rate']:.4f} ratio ({record['failed']}/{record['attempted']})")
    for name, value in sorted(record.get("layers", {}).items()):
        print(f"{name} {value:.6g}")
    for name, value in sorted(record.get("self_s", {}).items()):
        print(f"self_s {name} {value:.4f} s")
    if "trace_overhead_share" in record:
        print(f"trace_overhead_share {record['trace_overhead_share']:.4f} ratio")
    elif record["trace"]:
        print("trace_overhead_share unavailable: no untraced record of this workload, seed and revision")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
