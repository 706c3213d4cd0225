#!/usr/bin/env python
"""Isolated per-query measurement + plan capture (optimization tooling).

Usage:
    python qbench.py [--sf-dir DIR] [--repeat N] [--no-warm]
                     [--explain-dir DIR] name [name ...]

Runs each named registered query against the noop sink (guide §1.4) on the
same session shape bench.py uses, printing per-run seconds plus any memo
events the run emitted (so a cache-hit run is never mistaken for the
standalone cost).  With --explain-dir, also writes
``<dir>/<name>.txt`` containing ``explain("formatted")`` for each query.

This is measurement tooling only: it never persists results and runs
bench.py's warm_session so isolated numbers are comparable to
BENCH_DETAIL rows.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_lambda_redshift_loader_spark.plans.registry import load_all
from aws_lambda_redshift_loader_spark.session import get_spark, release_persisted
from bench import warm_session


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("--explain-dir", default=None)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    spark = get_spark("qbench")
    specs = load_all()
    from aws_lambda_redshift_loader_spark.operators import dedup as _dedup

    names: list[str] = []
    for n in args.names:
        if n in specs:
            names.append(n)
        else:
            hits = sorted(k for k in specs if k.startswith(n))
            if not hits:
                raise SystemExit(f"unknown query: {n}")
            names.extend(hits)

    if not args.no_warm:
        warm_session(spark, specs, args.sf_dir)

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)

    for name in names:
        for i in range(args.repeat):
            spark.sparkContext.setJobDescription(f"qbench:{name}#{i}")
            n_events = len(_dedup.MEMO_EVENTS)
            t0 = time.perf_counter()
            df = specs[name].fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            ev = _dedup.MEMO_EVENTS[n_events:]
            print(f"{name}\trun{i}\t{dt:.3f}s\t{','.join(ev)}", flush=True)
            if args.explain_dir and i == 0:
                import contextlib
                import io

                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as fh:
                    fh.write(buf.getvalue())
            release_persisted()
            spark.catalog.clearCache()
            for tbl in spark.catalog.listTables():
                if tbl.name.startswith("stream_result_"):
                    spark.catalog.dropTempView(tbl.name)
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
