"""The mechanical verification-rotation derivation (plans/registry.py).

The correctness harness hash-verifies only the first ~50 entries of
__spark_entry__.queries() each round, so registry.verification_order()
IS the instrument that retires stale verdicts; load_all() itself returns
registration order and starts no process.
These tests lock the change-attribution helpers the derivation relies on:
over-flagging floods the window (round-7 failure mode: appended
registrations starved genuinely-changed queries out); under-flagging
leaves a changed query wearing a green verdict for old code.
"""

from __future__ import annotations

from aws_lambda_redshift_loader_spark.plans import registry as R


def test_removed_toplevel_names_attributes_constants_and_defs():
    names, opaque = R._removed_toplevel_names(
        ("FUZZY_BLOCK_LEN = 15  # blocking-key prefix length",)
    )
    assert names == {"FUZZY_BLOCK_LEN"} and not opaque
    names, opaque = R._removed_toplevel_names(
        ("def _old_helper(spark):", "    return 1"),
    )
    assert names == {"_old_helper"} and not opaque


def test_removed_toplevel_names_ignores_comments_and_continuations():
    names, opaque = R._removed_toplevel_names(
        ("# a comment", "    indented body line", "", "@register(", ")"),
    )
    assert names == set() and not opaque


def test_removed_toplevel_names_opaque_on_unparseable_code():
    names, opaque = R._removed_toplevel_names(("somecall()",))
    assert opaque  # bare col-0 call: cannot attribute -> conservative


def test_rebound_import_names_flags_rewires_not_append_churn(tmp_path):
    """ADVICE r8: 'from .a import f' -> 'from .b import f' alters query
    behavior and must flag f; rewriting 'import x' to 'import x, y'
    re-binds x identically and must NOT flood tier 1 (round-7 lesson)."""
    p = tmp_path / "m.py"
    p.write_text(
        "from .b import f\nimport numpy as np\nfrom .mod import alpha, beta\n"
    )
    root = str(tmp_path)
    # rewired source -> flagged
    assert R._rebound_import_names(root, "m.py", ("from .a import f",)) == {"f"}
    # identical re-bind (append churn) -> clean
    assert R._rebound_import_names(root, "m.py", ("import numpy as np",)) == set()
    assert (
        R._rebound_import_names(root, "m.py", ("from .mod import alpha,",)) == set()
    )
    # deleted binding -> flagged; parenthesized continuation joined
    assert R._rebound_import_names(
        root, "m.py", ("from .c import (", "    gone,", ")")
    ) == {"gone"}
    # as-rename changes the bound object for the OLD asname
    assert R._rebound_import_names(
        root, "m.py", ("from .mod import alpha as a",)
    ) == {"a"}
    assert R._rebound_import_names(root, "m.py", ()) == set()


def test_changed_queries_shared_by_window_status():
    """window_status.py must take its tiers from the derivation that
    builds the order (registry.verification_tiers) rather than keeping a
    drift-prone private copy of the tier-1 loop (ADVICE r8) or walking
    git a second time."""
    import re

    src = open(
        __file__.rsplit("/", 2)[0] + "/window_status.py"
    ).read()
    assert "R.verification_tiers(" in src
    assert "_changed_queries" not in src and "R.verification_order(" not in src
    assert not re.search(r"def _changed_set\(", src)


def test_name_graph_marks_imports_and_definitions(tmp_path):
    p = tmp_path / "mod.py"
    p.write_text(
        "from x import y\n"
        "CONST = 1\n"
        "def f():\n"
        "    return CONST\n"
        "def g():\n"
        "    return f()\n"
    )
    graph = R._name_graph(str(tmp_path), "mod.py")
    by_def = {tuple(sorted(g[2])): g for g in graph}
    assert by_def[("y",)][4] is True  # import marked
    assert by_def[("CONST",)][4] is False
    # reachability: g -> f -> CONST
    gspan = by_def[("g",)]
    reach = R._reachable_names(graph, gspan[0], gspan[1])
    assert {"f", "CONST"} <= reach
    # f does not reach g
    fspan = by_def[("f",)]
    reach_f = R._reachable_names(graph, fspan[0], fspan[1])
    assert "g" not in reach_f


def test_is_new_toplevel_only(tmp_path):
    p = tmp_path / "m2.py"
    p.write_text(
        "def old(a):\n"
        "    x = a\n"
        "    return x\n"
        "def brand_new():\n"
        "    return 2\n"
    )
    # lines 4-5 are a complete new top-level def -> harmless addition
    assert R._is_new_toplevel_only(str(tmp_path), "m2.py", 4, 5)
    # line 2 sits inside pre-existing `old` -> NOT a new-toplevel-only hunk
    assert not R._is_new_toplevel_only(str(tmp_path), "m2.py", 2, 2)


def test_load_all_registers_every_query_with_resolved_oracles():
    q = R.load_all()
    assert len(q) >= 163
    # every oracle is a resolved string (lazy callables materialized)
    assert all(s.oracle is None or isinstance(s.oracle, str) for s in q.values())


def test_load_all_starts_no_subprocess(monkeypatch):
    """Name lookups (tests, bench, entry()) must not pay the git walk:
    load_all() returns registration order without running git."""
    import subprocess

    calls = []
    real_run = subprocess.run

    def recording_run(*args, **kwargs):
        calls.append(args[0] if args else kwargs.get("args"))
        return real_run(*args, **kwargs)

    monkeypatch.setattr(subprocess, "run", recording_run)
    assert list(R.load_all()) == list(R.QUERIES)
    assert calls == []


def test_verification_order_puts_never_verified_before_verified(monkeypatch):
    """Tier 0 (no green verdict) precedes tier 1 (changed since its own
    green round), which precedes the rest, stalest round first."""
    names = list(R.load_all())
    never, changed = set(names[-3:]), {names[5]}
    last = {n: 18 if i % 2 else 19 for i, n in enumerate(names) if n not in never}
    monkeypatch.setattr(R, "_last_green_rounds", lambda root: last)
    monkeypatch.setattr(R, "_verdict_commits", lambda root: {18: "a", 19: "b"})
    monkeypatch.setattr(R, "_changed_queries", lambda root, last, commits: changed)
    order = R.verification_order()
    assert sorted(order) == sorted(names)
    assert set(order[:3]) == never
    assert order[3] == names[5]
    rounds = [last[n] for n in order[4:]]
    assert rounds == sorted(rounds)


def test_verification_order_reads_git_log_once(monkeypatch):
    """One derivation walks the commit log once: `_derive_order` hands
    the verdict commits it read to `_changed_queries`, whose per-round
    work is `git diff` only."""
    import subprocess

    calls = []
    real_run = subprocess.run

    def recording_run(*args, **kwargs):
        calls.append(args[0] if args else kwargs.get("args"))
        return real_run(*args, **kwargs)

    names = list(R.load_all())
    monkeypatch.setattr(R, "_last_green_rounds", lambda root: {names[0]: 1})
    monkeypatch.setattr(subprocess, "run", recording_run)
    R.verification_order()
    verbs = [c[3] for c in calls if c[:1] == ["git"]]
    assert verbs.count("log") == 1, calls
    assert "diff" in verbs  # the derivation ran past the commit lookup


def test_oracle_sql_is_registration_order_without_git(monkeypatch):
    """The driver looks oracles up by name; building the map must not
    pay the git walk."""
    import subprocess
    import sys

    sys.path.insert(0, __file__.rsplit("/", 2)[0])
    import __spark_entry__ as E

    calls = []
    monkeypatch.setattr(subprocess, "run", lambda *a, **k: calls.append(a))
    osql = E.oracle_sql()
    assert calls == []
    assert list(osql) == [n for n, s in R.load_all().items() if s.oracle is not None]


def test_verification_order_without_git_is_registration_order(monkeypatch, tmp_path):
    monkeypatch.setenv("GIT_DIR", str(tmp_path / "no_such_git_dir"))
    assert R.verification_order() == list(R.load_all())


def test_operator_modules_import_standalone():
    """Round-7 ADVICE: importing operators.text without operators.similarity
    crashed on the cross-module RRF oracle. Each operator module must
    import in a FRESH interpreter on its own (lazy oracles defer)."""
    import subprocess
    import sys

    for mod in ["text", "similarity", "dedup", "multimodal"]:
        r = subprocess.run(
            [sys.executable, "-c",
             f"import aws_lambda_redshift_loader_spark.operators.{mod}"],
            capture_output=True, text=True, cwd="/root/repo", timeout=60,
        )
        assert r.returncode == 0, f"operators.{mod} standalone import failed:\n{r.stderr[-800:]}"


def test_union_find_matches_networkx_free_reference(spark):
    """Property: the union-find fast path's components equal a brute
    reachability closure on random small graphs."""
    import random

    from aws_lambda_redshift_loader_spark.operators import dedup

    rng = random.Random(42)
    for trial in range(5):
        n = rng.randint(2, 25)
        edges = [
            (rng.randint(0, n), rng.randint(0, n)) for _ in range(rng.randint(1, 40))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        got = {
            (r["node"], r["cluster_id"])
            for r in dedup.connected_components(spark, pairs, "doc_a", "doc_b").collect()
        }
        # reference: transitive closure by repeated expansion
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        expected = set()
        for start in adj:
            seen = {start}
            frontier = [start]
            while frontier:
                x = frontier.pop()
                for y in adj[x]:
                    if y not in seen:
                        seen.add(y)
                        frontier.append(y)
            expected.add((start, min(seen)))
        assert got == expected, f"trial {trial}: {sorted(got)} != {sorted(expected)}"
