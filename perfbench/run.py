"""Loader-and-analytics benchmark.

    python3 perfbench/run.py --workload {ingest,query_mix}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Starts one local Spark session at a
pinned width through the package's own ``session.get_spark``, sets the
workload up (inputs, warm-up), then times whole rounds of operations in a
closed loop (the next operation starts when the previous one returns):
one round for every ``ROUND_S`` seconds of ``--seconds`` (see
``timed_rounds``). Every round's outputs are checked against figures
computed apart from the program.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). A record
of the run's context (width, heap, CPU steal, machine speed, samples) goes
to standard error and to ``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from common import (  # noqa: E402
    MAX_WIDTH,
    cpu_delta_pct,
    cpu_loop_s,
    cpu_ticks,
    grouped_summary,
)

WORKLOADS = ("ingest", "query_mix")
DRIVER_HEAP = "2g"


def spark_width() -> int:
    """At most half the host's cores, and never more than MAX_WIDTH, so
    the figures stay comparable between hosts of different sizes."""
    return max(1, min(MAX_WIDTH, (os.cpu_count() or 2) // 2))


# Seconds of --seconds each timed round stands for. Once warm on the
# reference host (4 vCPU, local[2]) an ingest round takes 8-11 s and a
# query_mix pass 6-11 s. A run times round(seconds / ROUND_S) whole rounds,
# at least one, so the count depends on --seconds alone: every run of a
# workload measures the same operations at the same point of the JVM's
# warm-up, however fast the host is at the time.
ROUND_S = 10.0


def timed_rounds(seconds: float) -> int:
    return max(1, round(seconds / ROUND_S))


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(work: str, width: int):
    """Session through the program's factory, with every scratch path the
    JVM, Spark, Derby and Python's tempfile use kept inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    # The registry's load_all() derives its query order from git history
    # when it runs inside a git work tree, at a cost that grows with the
    # size of the uncommitted diff. A GIT_DIR that does not exist makes it
    # take its fixed fallback order on every checkout, so setup_s does not
    # depend on the state of version control.
    os.environ["GIT_DIR"] = os.path.join(work, "no-git")
    os.environ["SPARK_GRAFT_CPUS"] = str(width)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.stream.error.file={work}/derby.log"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" --conf spark.local.dir={tmp} '
        f"--conf spark.sql.warehouse.dir={work}/warehouse "
        f"--conf spark.hadoop.hadoop.tmp.dir={tmp} pyspark-shell"
    )
    from aws_lambda_redshift_loader_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit; its Python workers
    exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
        proc.wait(timeout=120)


def build_workload(name: str, spark, seed: int, work: str, tracer):
    if name == "query_mix":
        from query_mix import QueryMix

        return QueryMix(spark, seed, tracer)
    from gen import generate
    from load import Ingest

    drop = generate(seed, os.path.join(work, "drop"))
    return Ingest(spark, drop, work, f"jdbc:derby:{work}/derby/db;create=true")


def main(argv=None) -> int:
    args = parse_args(argv)
    loop_before = cpu_loop_s()
    t_start = time.perf_counter()
    ticks_before = cpu_ticks()
    # Import the program first: without the checkout's own copy the run
    # fails here, before any result is printed or any file written.
    import aws_lambda_redshift_loader_spark as program

    if not os.path.abspath(program.__file__).startswith(ROOT + os.sep):
        sys.exit(f"{program.__file__} is not the checkout's program")

    width = spark_width()
    records = os.path.join(ROOT, ".perfbench_work", "records")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(records, exist_ok=True)

    phases = {}
    spark = start_spark(work, width)
    phases["session_s"] = time.perf_counter() - t_start
    errors: list[str] = []
    try:
        tracer = counters = None
        if args.trace:
            import tracing as tr

            tracer = tr.Tracer()
            tr.install_loader_wrappers(tracer)
            tr.install_stream_counter(tracer)
        wl = build_workload(args.workload, spark, args.seed, work, tracer)
        phases["inputs_s"] = time.perf_counter() - t_start - phases["session_s"]

        errors += [f"warm-up: {e}" for e in wl.warm_up()]  # untimed, checked
        if tracer is not None:
            tracer.reset()
            counters = tr.SparkCounters(spark)
        from aws_lambda_redshift_loader_spark.operators import dedup

        memo_mark = len(dedup.MEMO_EVENTS)
        setup_s = time.perf_counter() - t_start
        phases["warm_up_s"] = setup_s - phases["session_s"] - phases["inputs_s"]

        latencies: list[float] = []
        progress: list[dict] = []
        groups: dict[str, list[float]] = {}
        round_walls: list[float] = []
        attempted = failed = 0
        timed = 0.0
        rounds = timed_rounds(args.seconds)
        for i in range(rounds):
            tag = f"r{i}"
            if counters is not None:
                counters.mark()
            res = wl.round(tag)
            if counters is not None:
                counters.collect()
            timed += res["wall"]
            round_walls.append(res["wall"])
            latencies += res["latencies"]
            progress += res.get("progress", [])
            for name, lats in res["groups"].items():
                groups.setdefault(name, []).extend(lats)
            attempted += res["attempted"]
            failed += res["failed"]
            errors += [f"{tag}: {e}" for e in wl.check(res, tag)]
            wl.cleanup(res, tag)
        memo_events = dedup.MEMO_EVENTS[memo_mark:]
    finally:
        stop_spark(spark)

    summary = grouped_summary(groups)
    end_to_end = {
        "setup_s": setup_s,
        "latency_p50_s": summary["p50"],
        "latency_tail_s": summary["tail"],
        "throughput_per_s": len(latencies) / timed,
    }
    per_layer = {}
    if tracer is not None:
        per_layer = {name: 0.0 for name in tr.PER_LAYER}
        ops = len(latencies)
        per_layer.update(counters.metrics(ops, sum(latencies), width))
        if args.workload == "query_mix":
            per_layer.update(tr.query_metrics(tracer, ops, rounds, memo_events))
        else:
            per_layer.update(tr.loader_metrics(tracer, ops))
            per_layer.update(tr.epoch_metrics(progress))
        tracer.write(os.path.join(records, f"{os.path.basename(work)}-spans.json"))

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "spark_width": width,
        "driver_heap": DRIVER_HEAP,
        "nproc": os.cpu_count(),
        "cpu": cpu_delta_pct(ticks_before, cpu_ticks()),
        "cpu_loop_s": {"before": loop_before, "after": cpu_loop_s()},
        "setup_phases": phases,
        "attempted": attempted,
        "failed": failed,
        "rounds": rounds,
        "round_walls_s": round_walls,
        "timed_s": timed,
        "samples": summary["n"],
        "tail_percentile": summary["tail_pct"],
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "memo_events": memo_events,
        "groups_s": groups,
        "group_summaries": {name: {k: s[k] for k in ("n", "p50", "tail")} for name, s in summary["groups"].items()},
        "errors": errors,
    }
    with open(os.path.join(records, f"{os.path.basename(work)}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)

    chosen = per_layer if args.trace else end_to_end
    units = {"setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s", "throughput_per_s": "1/s"}
    metrics = {k: {"value": v, "unit": tr.unit(k) if args.trace else units[k]} for k, v in chosen.items()}
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
