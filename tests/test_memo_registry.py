"""Locks the session-memo clearing convention (round-18 verdict item 8).

Every cross-query session memo must be a module-level ``_*_MEMO`` dict
in one of ``memos.MEMO_MODULES`` so that scale instruments price full
builds: a memo added in an unlisted module, or under a non-conforming
name, would silently survive clear_session_memos() — the r18 verdict
flagged exactly that as the line between legitimate within-session
sharing and gaming. No Spark session needed.
"""

from __future__ import annotations

import ast
import importlib
import pathlib
import pkgutil
import re

import aws_lambda_redshift_loader_spark as pkg
from aws_lambda_redshift_loader_spark.memos import (
    MEMO_MODULES,
    clear_session_memos,
    iter_session_memos,
)

_MEMO_NAME = re.compile(r"_[A-Z0-9_]*_MEMO")


def _all_package_modules():
    for info in pkgutil.walk_packages(pkg.__path__, prefix=pkg.__name__ + "."):
        yield importlib.import_module(info.name)


def _memo_assignments_in_source() -> set[tuple[str, str]]:
    """(module, name) of every module-level ``_*_MEMO`` assignment in the
    package's .py files, plain or annotated — read from the source, so
    the expectation is independent of the attribute filter the registry
    itself uses."""
    root = pathlib.Path(pkg.__file__).parent
    found = set()
    for path in root.rglob("*.py"):
        rel = path.relative_to(root.parent).with_suffix("")
        mod = ".".join(rel.parts).removesuffix(".__init__")
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            for t in targets:
                if isinstance(t, ast.Name) and _MEMO_NAME.fullmatch(t.id):
                    found.add((mod, t.id))
    return found


def test_every_memo_dict_is_registered():
    registered = {(m, n) for m, n, _ in iter_session_memos()}
    in_source = _memo_assignments_in_source()
    # Guard the scan itself: one memo per source stream leaves 18 in the
    # package, 7 of them in stream_queries.
    assert len(in_source) >= 18, sorted(in_source)
    assert ("aws_lambda_redshift_loader_spark.streaming.stream_queries",
            "_SOURCE_STREAM_MEMO") in in_source
    unregistered = in_source - registered
    assert not unregistered, f"memo dicts escaping clear: {sorted(unregistered)}"
    # Any memo-named dict attribute OUTSIDE the registered modules must be
    # the same object as a registered one (a re-export), else the
    # registry misses it.
    registered_objs = {id(d) for _, _, d in iter_session_memos()}
    strays = set()
    for mod in _all_package_modules():
        if mod.__name__ in MEMO_MODULES:
            continue
        for name in dir(mod):
            obj = getattr(mod, name)
            if (
                _MEMO_NAME.fullmatch(name)
                and isinstance(obj, dict)
                and id(obj) not in registered_objs
            ):
                strays.add((mod.__name__, name))
    assert not strays, f"memo dicts in unregistered modules: {strays}"


def test_clear_session_memos_clears_everything():
    # Seed every registered memo with a sentinel, clear, assert empty.
    memos = [d for _, _, d in iter_session_memos()]
    assert len(memos) >= 18  # the inventory the scan test counts; guard the sweep
    for d in memos:
        d["__sentinel__"] = object()
    n = clear_session_memos()
    assert n == len(memos)
    assert all(not d for d in memos)


def test_docstream_memo_registered():
    # The source-stream memo (the doc stream's and every other source's)
    # must be in the sweep (the newest memo is always the one a hand
    # list would have missed).
    names = {n for _, n, _ in iter_session_memos()}
    assert "_SOURCE_STREAM_MEMO" in names
