"""Docs-drift gates.

The r15 and r16 verdicts both flagged the same defect class: the
ROADMAP round-header query count went stale when queries landed after
the header was written. This kills the class, not the instance — the
LAST round section's `Registered queries: A → **B ...**` line is
checked against the live registry at every pytest run (i.e. at commit
time, since the suite gates commits), as is its `(K new ...)` delta
and QUERIES.md's generated count line.
"""

from __future__ import annotations

import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registry_count() -> int:
    from aws_lambda_redshift_loader_spark.plans.registry import load_all

    return len(load_all())


def _last_round_section() -> str:
    with open(os.path.join(REPO, "ROADMAP.md")) as fh:
        text = fh.read()
    parts = re.split(r"(?m)^## Round \d+ ", text)
    assert len(parts) > 1, "ROADMAP.md has no '## Round N' sections"
    return parts[-1]


def test_roadmap_round_header_count_matches_registry():
    section = _last_round_section()
    m = re.search(
        r"Registered queries: (\d+) → \*\*(\d+)", section
    )
    assert m, (
        "last ROADMAP round section lacks a 'Registered queries: "
        "A → **B ...**' header line — add one (it is CI-checked)"
    )
    start, now = int(m.group(1)), int(m.group(2))
    live = _registry_count()
    assert now == live, (
        f"ROADMAP round-header count {now} is stale: the live registry "
        f"has {live} queries. Update the header in the same commit that "
        "registers/removes queries."
    )
    mnew = re.search(r"\*\*\d+[^(]*\((\d+) new", section)
    if mnew:
        assert int(mnew.group(1)) == now - start, (
            f"ROADMAP '(K new)' delta {mnew.group(1)} != {now} - {start}"
        )


def test_bench_scale_policy_counts_are_true():
    """The r17 verdict flagged 'BENCH_SCALE covers the full registry' as
    drift. The corrected ROADMAP prose states the real policy with its
    counts ('202 entries covering 185 of the 335 registered names') —
    this gate keeps those three numbers CI-true against the committed
    artifact and the live registry."""
    import json

    with open(os.path.join(REPO, "ROADMAP.md")) as fh:
        text = fh.read()
    m = re.search(
        r"(\d+) entries covering (\d+) of the (\d+) registered names", text
    )
    assert m, "ROADMAP lacks the BENCH_SCALE policy-count sentence"
    with open(os.path.join(REPO, "BENCH_SCALE.json")) as fh:
        entries = json.load(fh)["queries"]
    base_names = {re.sub(r"@.*$", "", k) for k in entries}
    assert int(m.group(1)) == len(entries), (
        f"ROADMAP claims {m.group(1)} BENCH_SCALE entries, artifact has "
        f"{len(entries)} — update the sentence with the new count"
    )
    assert int(m.group(2)) == len(base_names), (
        f"ROADMAP claims {m.group(2)} covered names, artifact covers "
        f"{len(base_names)}"
    )
    assert int(m.group(3)) == _registry_count(), (
        f"ROADMAP claims a {m.group(3)}-query registry, live registry "
        f"has {_registry_count()}"
    )


def _latest_optimization_doc() -> str | None:
    rounds = []
    for name in os.listdir(REPO):
        m = re.fullmatch(r"OPTIMIZATION_r(\d+)\.md", name)
        if m:
            rounds.append((int(m.group(1)), name))
    if not rounds:
        return None
    return os.path.join(REPO, max(rounds)[1])


def test_optimization_final_claims_match_bench_detail():
    """The r17 verdict's item 1: closing-bench prose must be asserted
    against the committed artifact, not trusted. The optimization
    round's FINAL line follows the fixed format
      FINAL (committed BENCH_DETAIL_rNN.json): total N s / N queries /
      N failed; N flagged-resolved reruns; load_1m max N.
    A closing round copies the closing BENCH_DETAIL.json to
    BENCH_DETAIL_rNN.json in the closing commit, and the FINAL line of
    OPTIMIZATION_rNN.md cites that copy. Every bench run rewrites the
    rolling BENCH_DETAIL.json, so a FINAL line that cites it, another
    round's copy, or a file the repo does not hold fails here. Every
    number is checked against the frozen copy. Skips only while the
    round is still open (no FINAL (committed ...) line yet)."""
    import json

    doc = _latest_optimization_doc()
    if doc is None:
        pytest.skip("no OPTIMIZATION_r*.md")
    with open(doc) as fh:
        text = fh.read()
    cited = re.search(r"FINAL \(committed ([^)]*)\):", text)
    if not cited:
        pytest.skip("optimization round not closed (no FINAL line yet)")
    rnd = re.fullmatch(r"OPTIMIZATION_r(\d+)\.md", os.path.basename(doc))
    frozen = f"BENCH_DETAIL_r{rnd.group(1)}.json"
    assert cited.group(1) == frozen, (
        f"{os.path.basename(doc)} FINAL line cites {cited.group(1)!r}; "
        f"cite the frozen per-round copy {frozen} (copy the closing "
        "BENCH_DETAIL.json to it in the closing commit) — the rolling "
        "BENCH_DETAIL.json is rewritten by every bench run"
    )
    artifact = os.path.join(REPO, frozen)
    assert os.path.isfile(artifact), (
        f"FINAL line cites {frozen}, which is not in the repo — commit "
        "the frozen per-round copy of the closing BENCH_DETAIL.json"
    )
    m = re.search(
        r"FINAL \(committed " + re.escape(frozen) + r"\): total ([\d.]+) s / "
        r"(\d+) queries / (\d+) failed; (\d+) flagged-resolved reruns; "
        r"load_1m max ([\d.]+)",
        text,
    )
    assert m, (
        f"the FINAL line in {os.path.basename(doc)} does not follow the "
        "fixed format 'FINAL (committed BENCH_DETAIL_rNN.json): total N s "
        "/ N queries / N failed; N flagged-resolved reruns; load_1m max N'"
    )
    with open(artifact) as fh:
        art = json.load(fh)
    assert float(m.group(1)) == round(art["total_sec"], 1), (
        f"FINAL total {m.group(1)} != artifact {art['total_sec']}"
    )
    assert int(m.group(2)) == len(art["queries"]), (
        f"FINAL query count {m.group(2)} != artifact {len(art['queries'])}"
    )
    n_failed = sum(1 for v in art["queries"].values() if v is None)
    assert int(m.group(3)) == n_failed
    assert int(m.group(4)) == len(art.get("flagged_reruns", {})), (
        f"FINAL flagged count {m.group(4)} != artifact "
        f"{len(art.get('flagged_reruns', {}))}"
    )
    assert float(m.group(5)) == round(art["load_1m"]["max"], 2), (
        f"FINAL load max {m.group(5)} != artifact {art['load_1m']['max']}"
    )


def test_queries_md_count_matches_registry():
    path = os.path.join(REPO, "QUERIES.md")
    if not os.path.exists(path):
        pytest.skip("QUERIES.md not generated")
    with open(path) as fh:
        text = fh.read()
    m = re.search(r"^(\d+) registered queries", text, re.M)
    assert m, "QUERIES.md lacks the generated count line"
    live = _registry_count()
    assert int(m.group(1)) == live, (
        f"QUERIES.md says {m.group(1)} queries but the registry has "
        f"{live} — rerun `python gen_queries_md.py`"
    )
    # One table line per query, so the doc can't silently drop names.
    rows = re.findall(r"^\| \d+ \| `", text, re.M)
    assert len(rows) == live, (
        f"QUERIES.md lists {len(rows)} query rows vs {live} registered"
    )
