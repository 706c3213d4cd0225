"""bench.py's self-denoising rerun policy (round-8 verdict item 3):
flag only genuinely-slower runs — >1.5x the recorded prior AND more
than 0.5 s absolute excess, so sub-second host wobble never churns
reruns while real contention spikes always get a second measurement."""

import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from bench import should_rerun


def test_should_rerun_thresholds():
    assert should_rerun(2.0, 1.0)  # 2x, 1.0 s excess
    assert should_rerun(0.9, 0.2)  # 4.5x AND 0.7 s excess
    assert not should_rerun(0.4, 0.2)  # 2x but only 0.2 s excess
    assert not should_rerun(1.4, 1.0)  # under the ratio
    assert not should_rerun(1.6, 1.2)  # 1.33x
    assert not should_rerun(5.0, -1.0)  # no prior recorded
    assert not should_rerun(5.0, 0.0)  # degenerate prior


def test_suppressed_by_raw_prior():
    """A query whose cold first run matches its own LAST raw (cold) time
    is codegen cost, not contention — suppressed; a genuinely slower run
    than even the raw prior still reruns."""
    from bench import suppressed_by_raw

    assert suppressed_by_raw(1.4, 1.3)  # same cold cost as last run
    assert suppressed_by_raw(1.4, 1.0)  # within ratio of raw
    assert not suppressed_by_raw(3.0, 1.4)  # slower than even the raw prior
    assert not suppressed_by_raw(1.4, -1.0)  # never flagged before


def test_substitutable_memo_rules():
    from bench import substitutable

    # No memo involvement: plain contention, min-of-2 applies.
    assert substitutable([])
    # Pure hits: the bench run and the rerun consume the SAME warm memo,
    # so the two times are comparable — substitute (the round-10 driver
    # artifact's quality_calibration_{curve,scalable} case).
    assert substitutable(["surprisal_hit"])
    assert substitutable(["surprisal_hit", "nb_scorer_hit"])
    # Any build in the bench run means the rerun is a cache hit.
    assert not substitutable(["pairs_build"])
    assert not substitutable(["cc_build", "pairs_build"])
    assert not substitutable(["nb_scorer_build", "surprisal_hit"])
    assert not substitutable(["inc_ingest_build", "doc_split_build"])


def test_cpu_delta_pct_guards_both_snapshots():
    """steal/busy need field 7 (steal) in BOTH /proc/stat snapshots; a
    short one on either side, or no elapsed ticks, yields no figures
    instead of an IndexError."""
    from bench import _cpu_delta_pct

    full = [100, 0, 50, 800, 10, 0, 0, 40, 0, 0]
    later = [150, 0, 80, 900, 10, 0, 0, 60, 0, 0]  # +200 ticks, 20 steal, 100 idle
    assert _cpu_delta_pct(full, later) == {"steal_pct": 10.0, "busy_pct": 40.0}
    assert _cpu_delta_pct(full[:4], later) == {}  # short before
    assert _cpu_delta_pct(full, later[:4]) == {}  # short after
    assert _cpu_delta_pct([], later) == {}
    assert _cpu_delta_pct(full, list(full)) == {}  # zero total
