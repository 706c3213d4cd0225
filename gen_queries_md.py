#!/usr/bin/env python
"""Regenerate QUERIES.md from the live registry (one line per query, first
docstring sentence), so the inventory doc can never drift from the code.
Run after adding/removing queries: `python gen_queries_md.py`."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_lambda_redshift_loader_spark.plans.registry import load_all


def first_sentence(doc: str, limit: int = 160) -> str:
    text = " ".join((doc or "").split())
    sent = re.split(r"(?<=[.!?]) ", text, 1)[0] if text else ""
    sent = sent.rstrip(".")
    sent = sent.replace("|", "\\|")
    return (sent[: limit - 3] + "...") if len(sent) > limit else sent


def main() -> None:
    specs = load_all()
    n = len(specs)
    n_oracle = sum(1 for s in specs.values() if s.oracle is not None)
    lines = [
        "# QUERIES — the full registered inventory",
        "",
        f"{n} registered queries; {'every one carries' if n_oracle == n else f'{n_oracle} carry'}"
        " a DuckDB oracle",
        "(hash-compared by the driver at sf0.01 and re-verified by",
        "tests/test_oracle.py on every pytest run). One line per query —",
        "the first sentence of its docstring; see the source for the full",
        "scale rationale and reference citations. Generated by",
        "gen_queries_md.py; order = registration order (plans/registry.py).",
        "",
        "| # | Query | Oracle | Summary |",
        "|---|---|---|---|",
    ]
    for i, (name, spec) in enumerate(specs.items(), 1):
        lines.append(
            f"| {i} | `{name}` | {'hash' if spec.oracle else 'rows'} | "
            f"{first_sentence(spec.doc)} |"
        )
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "QUERIES.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {n} queries, {n_oracle} oracle-backed")


if __name__ == "__main__":
    main()
