"""Locks the one-memo design of ``memos.py``.

Every cross-query session memo goes through ``memos.memo()``, whose
single ``_MEMO`` dict is the one thing ``clear_session_memos()`` has to
clear for scale instruments to price full builds. A module-level memo
dict anywhere else, or an event appended outside ``memos.py``, would be
a second cache that escapes that clear. No Spark session needed.
"""

from __future__ import annotations

import ast
import pathlib
import re
from types import SimpleNamespace

import pytest

import aws_lambda_redshift_loader_spark as pkg
from aws_lambda_redshift_loader_spark import memos

_MEMO_NAME = re.compile(r"_[A-Z0-9_]*_MEMO")


def _package_sources():
    root = pathlib.Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root.parent).with_suffix("")
        yield ".".join(rel.parts).removesuffix(".__init__"), ast.parse(path.read_text())


def test_memos_module_holds_the_only_memo_dict():
    found = set()
    for mod, tree in _package_sources():
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            for t in targets:
                if isinstance(t, ast.Name) and (t.id == "_MEMO" or _MEMO_NAME.fullmatch(t.id)):
                    found.add((mod, t.id))
    assert found == {("aws_lambda_redshift_loader_spark.memos", "_MEMO")}


def test_memo_events_are_appended_only_in_memos_module():
    appends = set()
    for mod, tree in _package_sources():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "append"
                and "MEMO_EVENTS" in ast.unparse(node.func.value)
            ):
                appends.add(mod)
    assert appends == {"aws_lambda_redshift_loader_spark.memos"}


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture()
def fresh_memo(monkeypatch):
    monkeypatch.setattr(memos, "_MEMO", {})
    events: list[str] = []
    monkeypatch.setattr(memos, "MEMO_EVENTS", events)
    return events


def test_memo_builds_once_then_hits(fresh_memo):
    spark = _session("app-1")
    calls = []

    def build():
        calls.append(1)
        return object()

    first = memos.memo(spark, "thing", ("sf", 3), build)
    assert memos.memo(spark, "thing", ("sf", 3), build) is first
    assert memos.memo(spark, "thing", ("sf", 3), build) is first
    assert len(calls) == 1
    assert fresh_memo == ["thing_build", "thing_hit", "thing_hit"]
    assert list(memos._MEMO) == [("app-1", "thing", "sf", 3)]


def test_memo_logs_a_nested_build_after_its_parent(fresh_memo):
    spark = _session("app-1")
    memos.memo(
        spark, "outer", ("sf",), lambda: memos.memo(spark, "inner", ("sf",), lambda: 1)
    )
    assert fresh_memo == ["outer_build", "inner_build"]


def test_raising_build_publishes_nothing(fresh_memo):
    spark = _session("app-1")

    def build():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        memos.memo(spark, "thing", ("sf",), build)
    assert memos._MEMO == {}
    assert memos.memo(spark, "thing", ("sf",), lambda: 7) == 7
    assert fresh_memo == ["thing_build", "thing_build"]


def test_application_ids_do_not_share_entries(fresh_memo):
    assert memos.memo(_session("app-1"), "thing", ("sf",), lambda: "one") == "one"
    assert memos.memo(_session("app-2"), "thing", ("sf",), lambda: "two") == "two"
    assert fresh_memo == ["thing_build", "thing_build"]


def test_labels_do_not_share_entries(fresh_memo):
    spark = _session("app-1")
    assert memos.memo(spark, "a", ("sf",), lambda: "a") == "a"
    assert memos.memo(spark, "b", ("sf",), lambda: "b") == "b"
    assert fresh_memo == ["a_build", "b_build"]


def test_clear_session_memos_clears_everything(fresh_memo):
    spark = _session("app-1")
    for label in ("a", "b", "c"):
        memos.memo(spark, label, ("sf",), object)
    assert memos.clear_session_memos() == 3
    assert memos._MEMO == {}
    memos.memo(spark, "a", ("sf",), object)
    assert fresh_memo[-1] == "a_build"


def test_dedup_reexports_the_event_log():
    from aws_lambda_redshift_loader_spark.operators import dedup

    assert dedup.MEMO_EVENTS is memos.MEMO_EVENTS
