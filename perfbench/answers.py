"""Stored DuckDB answers for the ``query_mix`` queries.

    python3 perfbench/answers.py rebuild      # rewrite answers.json
    python3 perfbench/answers.py draw DETAIL  # redo the query draw

``rebuild`` runs each query's registered oracle SQL in DuckDB over the
parquet tables in ``perfbench/data/sf0.01`` and stores, per query, the row
count, the sorted column names and a SHA-256 of the normalised rows. The
benchmark compares Spark's result with these digests instead of running
DuckDB on every run.

``draw`` repeats the stratified draw that chose the frozen list in
``query_mix.QUERIES`` from a ``BENCH_DETAIL.json`` (per-query seconds and
memo events of a full bench), and prints it.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")
ANSWERS_PATH = os.path.join(HERE, "answers.json")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

DRAW_SEED = 20261018


def normalise(rows, columns: list[str]) -> list[str]:
    """Rows as sorted text lines, columns in name order, so the two
    engines' results compare whatever their row and column order. NaN is
    spelled out (NaN != NaN); everything else is its Python repr, which
    both engines' fetch paths produce from the same Python types."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float) and math.isnan(v):
                vals.append("NaN")
            else:
                vals.append(repr(v))
        out.append("\x1f".join(vals))
    out.sort()
    return out


def digest(rows, columns: list[str]) -> dict:
    lines = normalise(rows, columns)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"rows": len(lines), "columns": sorted(columns), "sha256": h}


def _registry():
    sys.path.insert(0, os.path.dirname(HERE))
    from aws_lambda_redshift_loader_spark.plans.registry import load_all

    return load_all()


def rebuild() -> None:
    import duckdb

    from query_mix import query_names

    specs = _registry()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    out = {}
    for name in query_names():
        res = con.execute(specs[name].oracle)
        cols = [d[0] for d in res.description]
        out[name] = digest(res.fetchall(), cols)
        print(name, out[name]["rows"], "rows", file=sys.stderr)
    with open(ANSWERS_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


def draw(detail_path: str) -> dict[str, list[str]]:
    """One query per registry module, drawn uniformly from the module's
    queries that have an oracle, logged no memo event in the full bench of
    ``detail_path``, and ran no slower there than the first quartile of
    those;
    plus the two consumers of the similarity k-means memo, so that each
    pass builds one memo and hits it once."""
    import statistics

    with open(detail_path) as fh:
        detail = json.load(fh)
    secs, memo = detail["queries"], detail["memo_events"]
    pools: dict[str, list[str]] = {}
    for name, spec in _registry().items():
        if spec.oracle and secs.get(name, 0) > 0 and not memo.get(name):
            pools.setdefault(spec.fn.__module__.rsplit(".", 1)[-1], []).append(name)
    rng = random.Random(DRAW_SEED)
    picked = {}
    for module, pool in sorted(pools.items()):
        q1 = statistics.quantiles([secs[n] for n in pool], n=4)[0] if len(pool) > 1 else secs[pool[0]]
        picked[module] = rng.sample(sorted(n for n in pool if secs[n] <= q1), 1)
    picked["similarity"] += ["kmeans_step", "ivf_occupancy_report"]
    return picked


if __name__ == "__main__":
    if sys.argv[1:2] == ["rebuild"]:
        rebuild()
    elif sys.argv[1:2] == ["draw"] and len(sys.argv) == 3:
        print(json.dumps(draw(sys.argv[2]), indent=1))
    else:
        sys.exit(__doc__)
