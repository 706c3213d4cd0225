#!/usr/bin/env python
"""Verification-window status: where every query sits in the driver's
~50-slot correctness window, by tier.

The correctness harness hash-verifies the FIRST ~50 entries of
__spark_entry__.queries(), which follows registry.verification_order()
(derived from git history and the CORRECTNESS files; see
plans/registry.py). The tiers below come from that same derivation,
registry.verification_tiers(). Before registering new
queries (tier 0 — they go first and push everything down) or touching
shared helpers (which promotes consumers to tier 1), run this to check
the margin: the last tier-0/1 position must stay under 50, or some
changed query ends the round wearing a verdict for code that no longer
exists.

Usage: python window_status.py [--list]
"""

from __future__ import annotations

import sys

sys.path.insert(0, __file__.rsplit("/", 1)[0])

from aws_lambda_redshift_loader_spark.plans import registry as R  # noqa: E402

WINDOW = 50


def main() -> None:
    order, last, changed = R.verification_tiers()
    tier0 = [n for n in order if n not in last]
    tier1 = [n for n in order if n in last and n in changed]
    obligated = tier0 + tier1
    last_ob = max((order.index(n) for n in obligated), default=-1)
    print(f"queries: {len(order)}  window: {WINDOW}")
    print(f"tier-0 (never verified): {len(tier0)}")
    print(f"tier-1 (changed since own green verdict): {len(tier1)}")
    print(f"last tier-0/1 position: {last_ob}")
    outside = [n for n in obligated if order.index(n) >= WINDOW]
    if outside:
        print(f"OBLIGATED QUERIES OUTSIDE THE WINDOW ({len(outside)}): {outside}")
    print(f"registration margin (new queries safely addable): {WINDOW - 1 - last_ob}")
    if "--list" in sys.argv:
        for i, n in enumerate(order[:WINDOW]):
            mark = "NEW" if n in tier0 else ("CHG" if n in tier1 else f"r{last[n]}")
            print(f"{i:3d} {mark:>4} {n}")


if __name__ == "__main__":
    main()
