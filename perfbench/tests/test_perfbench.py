"""Unit tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import random
import statistics
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from answers import digest, normalise  # noqa: E402
from common import (  # noqa: E402
    checksum,
    combine,
    cpu_delta_pct,
    cpu_ticks,
    grouped_summary,
    latency_summary,
    quartile_spread,
    tail_percentile,
)
from gen import Drop, FileInfo, PrefixSpec  # noqa: E402

# -- tail percentile -----------------------------------------------------------


@pytest.mark.parametrize(
    "n, pct",
    [(1, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
     (200, 95.0), (999, 95.0), (1000, 99.0), (50_000, 99.0)],
)
def test_tail_percentile_ladder(n, pct):
    assert tail_percentile(n) == pct


def test_below_forty_samples_tail_is_the_median():
    xs = [float(i) for i in range(39)]
    random.Random(1).shuffle(xs)
    s = latency_summary(xs)
    assert s["tail_pct"] == 50.0
    assert s["tail"] == s["p50"] == statistics.median(xs)


@pytest.mark.parametrize("n", [40, 57, 100, 250, 1000])
def test_tail_leaves_at_least_ten_samples_beyond(n):
    xs = [float(i) for i in range(n)]
    random.Random(n).shuffle(xs)
    s = latency_summary(xs)
    beyond = sum(1 for x in xs if x > s["tail"])
    assert beyond >= 10
    # nearest rank: the tail is the ceil(p/100*n)-th smallest sample
    assert s["tail"] == sorted(xs)[math.ceil(s["tail_pct"] / 100 * n) - 1]


def test_latency_summary_rejects_no_samples():
    with pytest.raises(ValueError):
        latency_summary([])


def test_grouped_summary_combines_groups_instead_of_pooling():
    fast = [0.40 + 0.001 * i for i in range(21)]
    slow = [0.70 + 0.001 * i for i in range(21)]
    s = grouped_summary({"flush": fast, "epoch": slow})
    assert s["n"] == 42
    assert s["p50"] == pytest.approx(math.sqrt(statistics.median(fast) * statistics.median(slow)))
    # 21 samples a group is under forty: each group's tail is its median
    assert s["tail_pct"] == [50.0]
    assert s["tail"] == pytest.approx(s["p50"])
    # one sample more on either side moves a pooled median across the gap,
    # the grouped one by a thousandth
    moved = grouped_summary({"flush": fast + [0.39], "epoch": slow})
    assert abs(moved["p50"] - s["p50"]) < 0.001
    assert statistics.median(fast + slow) - statistics.median(fast + [0.39] + slow) > 0.1


def test_quartile_spread():
    assert quartile_spread([1.0] * 10) == 0.0
    vals = [float(v) for v in range(1, 11)]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / 5.5)


# -- checksum ------------------------------------------------------------------

KINDS = ["int", "float", "str"]
ROWS = [(1, 0.1, "a"), (2, 2.5, "b|c"), (3, -1e-300, "")]


def test_checksum_is_order_independent():
    assert checksum(KINDS, ROWS) == checksum(KINDS, list(reversed(ROWS)))


def test_checksum_sees_a_row_loaded_twice_and_a_changed_value():
    base = checksum(KINDS, ROWS)
    assert checksum(KINDS, ROWS + [ROWS[0]]) != base
    assert checksum(KINDS, ROWS + [ROWS[0]])[0] == base[0] + 1
    changed = [ROWS[0], (2, 2.5000000000000004, "b|c"), ROWS[2]]
    assert checksum(KINDS, changed)[1] != base[1]


def test_checksum_canonicalises_by_declared_kind():
    """Values read back through numpy/pandas hash like the written ones."""
    read_back = [(np.int64(r[0]), np.float64(r[1]), r[2]) for r in ROWS]
    assert checksum(KINDS, read_back) == checksum(KINDS, ROWS)
    # an int column read back as float still hashes as the int
    assert checksum(KINDS, [(1.0, 0.1, "a")]) == checksum(KINDS, [(1, 0.1, "a")])


def test_combine_equals_checksum_of_the_union():
    parts = [checksum(KINDS, ROWS[:1]), checksum(KINDS, ROWS[1:])]
    assert combine(parts) == checksum(KINDS, ROWS)


# -- /proc/stat delta ------------------------------------------------------------

BEFORE = [100, 0, 50, 800, 10, 0, 0, 40, 0, 0]
AFTER = [200, 0, 100, 900, 10, 0, 0, 90, 0, 0]


def test_cpu_delta_normal_case():
    d = cpu_delta_pct(BEFORE, AFTER)
    # elapsed: user 100, system 50, idle 100, steal 50 -> total 300
    assert d == {"steal_pct": round(100 * 50 / 300, 2), "busy_pct": 50.0}


@pytest.mark.parametrize(
    "before, after",
    [([], AFTER), (BEFORE, []), (BEFORE[:7], AFTER), (BEFORE, AFTER[:7]), ([], [])],
)
def test_cpu_delta_guards_both_snapshots(before, after):
    assert cpu_delta_pct(before, after) == {}


def test_cpu_delta_no_elapsed_ticks():
    assert cpu_delta_pct(BEFORE, BEFORE) == {}


def test_cpu_ticks_missing_or_malformed_file(tmp_path):
    assert cpu_ticks(str(tmp_path / "absent")) == []
    bad = tmp_path / "stat"
    bad.write_text("intr 1 2 3\n")
    assert cpu_ticks(str(bad)) == []
    short = tmp_path / "stat2"
    short.write_text("cpu  1 2 3 4\n")
    assert cpu_ticks(str(short)) == [1, 2, 3, 4]
    assert cpu_delta_pct(cpu_ticks(str(short)), AFTER) == {}


# -- oracle-answer normaliser ----------------------------------------------------


def test_normalise_ignores_row_and_column_order():
    a = normalise([(1, "x"), (2, "y")], ["n", "s"])
    b = normalise([("y", 2), ("x", 1)], ["s", "n"])
    assert a == b
    assert digest([(1, "x"), (2, "y")], ["n", "s"]) == digest([("y", 2), ("x", 1)], ["s", "n"])


def test_normalise_nan_equals_nan_and_values_still_differ():
    nan = float("nan")
    assert normalise([(nan,)], ["v"]) == normalise([(float("nan"),)], ["v"])
    assert normalise([(0.1,)], ["v"]) != normalise([(0.1 + 1e-17 * 10,)], ["v"])
    assert normalise([(1,)], ["v"]) != normalise([("1",)], ["v"])
    assert normalise([(None,)], ["v"]) != normalise([("None",)], ["v"])


def test_digest_counts_rows_and_names_columns():
    d = digest([(1, 2), (1, 2)], ["b", "a"])
    assert d["rows"] == 2 and d["columns"] == ["a", "b"]
    assert d != digest([(1, 2)], ["b", "a"])


# -- the generator's batching prediction -----------------------------------------


def _spec(name, files, **trig):
    return PrefixSpec(name=name, s3_prefix=name, source_dir=name, data_format="CSV",
                      schema="", columns=[], kinds=[], filename_filter_regex="",
                      filename_filter_glob="", files=files, **trig)


def test_expected_batches_follow_thresholds_dedup_and_filter():
    f = [FileInfo(f"a/{i}", 10, 1, 0, accepted=(i != 2)) for i in range(6)]
    g = [FileInfo(f"b/{i}", s, 1, 0, True) for i, s in enumerate([30, 80, 60, 10])]
    a, b = _spec("a", f, batch_size=2), _spec("b", g, batch_size_bytes=100)
    log = [("a/0", 10), ("b/0", 30), ("a/0", 10), ("a/1", 10), ("a/2", 10), ("b/1", 80),
           ("x/unrouted", 1), ("a/3", 10), ("b/2", 60), ("a/4", 10), ("a/5", 10), ("b/3", 10)]
    drop = Drop(prefixes=[a, b], log=log)
    got = drop.expected_batches()
    assert got["a"] == [[("a/0", 10), ("a/1", 10)], [("a/3", 10), ("a/4", 10)], [("a/5", 10)]]
    assert got["b"] == [[("b/0", 30), ("b/1", 80)], [("b/2", 60), ("b/3", 10)]]
    assert drop.deliveries()["a/0"] == 2


# -- round count ----------------------------------------------------------------


def test_timed_rounds_depend_on_seconds_alone():
    from run import timed_rounds

    assert timed_rounds(20) == 2
    assert timed_rounds(40) == 4
    assert timed_rounds(1) == 1
