"""The ``query_mix`` workload: registered queries, one at a time.

The operation is one query: build it with its registry function and run it
into the noop sink. A *pass* runs every query of the frozen list once, in
an order drawn from the seed, after clearing the session memos, so the one
memo the list builds is built once per pass and hit once per pass. A run
times a fixed number of passes (``run.timed_rounds``).

Correctness is checked on the warm-up pass in set-up: each query's rows
are collected and compared, through ``answers.normalise``, with the stored
DuckDB answer for the same data. A query that fails in a timed pass is
counted in ``failed`` and reported as an error, so ``correct`` turns false.
"""

from __future__ import annotations

import gc
import json
import random
import time

from answers import ANSWERS_PATH, SF_DIR, digest

# Frozen list; README "query_mix" gives the rule that drew it. Module in
# the registry -> query names.
QUERIES = {
    "batching_sql": ["count_trigger_batches"],
    "dedup": ["exact_dedup_docs"],
    "multimodal": ["multimodal_metadata"],
    "relational": ["prefix_projection"],
    "similarity": ["gram_power_iteration", "kmeans_step", "ivf_occupancy_report"],
    "sketches": ["join_size_estimate_cms"],
    "stream_queries": ["stream_ingest_e2e"],
    "text": ["doc_fingerprint"],
    "windows_sql": ["sliding_window_events"],
}

# (query that builds the memo, query that hits it): the first always runs
# first, so the same query pays the build in every pass whatever the order.
MEMO_PAIRS = (("kmeans_step", "ivf_occupancy_report"),)


def query_names() -> list[str]:
    return sorted(n for names in QUERIES.values() for n in names)


def module_of() -> dict[str, str]:
    return {n: m for m, names in QUERIES.items() for n in names}


class QueryMix:
    def __init__(self, spark, seed: int, tracer=None):
        from aws_lambda_redshift_loader_spark.plans.registry import load_all

        self.spark = spark
        self.tracer = tracer
        self.specs = load_all()
        self.rng = random.Random(seed)
        with open(ANSWERS_PATH) as fh:
            self.answers = json.load(fh)

    def _hygiene(self) -> None:
        """Drop what a query leaves behind so later queries measure
        operators, not heap pressure (as bench.py does between queries)."""
        from aws_lambda_redshift_loader_spark.session import release_persisted

        release_persisted()
        for t in self.spark.catalog.listTables():
            if t.name.startswith("stream_result_"):
                self.spark.catalog.dropTempView(t.name)

    def _clear_memos(self) -> None:
        from aws_lambda_redshift_loader_spark.memos import clear_session_memos

        clear_session_memos()
        self.spark.catalog.clearCache()
        gc.collect()

    def warm_up(self) -> list[str]:
        """Untimed pass that collects every result and compares it with
        the stored answer."""
        self._clear_memos()
        errors = []
        for name in query_names():
            df = self.specs[name].fn(self.spark, SF_DIR)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            self._hygiene()
            want = self.answers.get(name)
            got = digest(rows, cols)
            if want is None:
                errors.append(f"{name}: no stored answer")
            elif got != want:
                errors.append(f"{name}: {got['rows']} rows, digest {got['sha256'][:12]} "
                              f"!= stored {want['rows']} rows, {want['sha256'][:12]}")
        return errors

    def round(self, tag: str) -> dict:
        """One timed pass in seeded order."""
        tracer = self.tracer
        self._clear_memos()
        order = query_names()
        self.rng.shuffle(order)
        for first, second in MEMO_PAIRS:
            i, j = order.index(first), order.index(second)
            if j < i:
                order[i], order[j] = second, first
        latencies: dict[str, list[float]] = {}
        failed: list[str] = []
        t_pass = time.perf_counter()
        for name in order:
            fn = self.specs[name].fn
            module = module_of()[name]
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    fn(self.spark, SF_DIR).write.format("noop").mode("overwrite").save()
                else:
                    with tracer.span("registry.fn", module=module):
                        df = fn(self.spark, SF_DIR)
                    with tracer.span("registry.action", module=module):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # counted and reported; the pass goes on
                failed.append(f"{name} failed: {type(exc).__name__}: {str(exc)[:200]}")
            else:
                latencies[name] = [time.perf_counter() - t0]
            self._hygiene()
        return {
            "latencies": [lat for lats in latencies.values() for lat in lats],
            "attempted": len(order),
            "failed": len(failed),
            "failures": failed,
            "wall": time.perf_counter() - t_pass,
            "groups": latencies,
        }

    def check(self, res: dict, tag: str) -> list[str]:
        """A timed pass writes to the noop sink, so its rows are not read
        back: the warm-up pass has checked the same queries over the same
        data. What a timed pass can show is a query that failed."""
        return res["failures"]

    def cleanup(self, res: dict, tag: str) -> None:
        pass
