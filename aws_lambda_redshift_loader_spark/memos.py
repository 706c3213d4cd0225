"""The one per-session memo of every shared intermediate.

Every cross-query reuse in this package — the dedup pair graph, the
co-purchase supports, the trained quantizer, the scorer frames, the
ingest-stream store maps and their source splits — goes through
:func:`memo`, which keeps its values in the single ``_MEMO`` dict keyed
``(applicationId, label, *key)``. A dead session's entries are never
reused (the application id differs), and :func:`clear_session_memos` is
the one eviction point: scale instruments (scale_bench, the exponent
tests) and the perfbench query mix call it so each timed query prices
its full cost.

``MEMO_EVENTS`` is the append-only event log (``"<label>_build"`` /
``"<label>_hit"``) that bench.py, qbench.py and perfbench read, through
``operators.dedup.MEMO_EVENTS`` (the same list object), to tell a memo
hit from a query's standalone cost.

``tests/test_memo_registry.py`` locks the design: no other module-level
``_*_MEMO`` dict and no ``MEMO_EVENTS.append`` outside this module.
"""

from __future__ import annotations

from typing import Callable, Hashable, TypeVar

T = TypeVar("T")

MEMO_EVENTS: list[str] = []

_MEMO: dict[tuple, object] = {}


def memo(spark, label: str, key: tuple[Hashable, ...], build: Callable[[], T]) -> T:
    """The value memoized under ``(applicationId, label, *key)``,
    built by ``build()`` on first use. Logs ``<label>_hit`` or
    ``<label>_build`` (before the build runs, so a nested memo's events
    follow its parent's); a build that raises publishes nothing."""
    k = (spark.sparkContext.applicationId, label, *key)
    if k in _MEMO:
        MEMO_EVENTS.append(f"{label}_hit")
        return _MEMO[k]
    MEMO_EVENTS.append(f"{label}_build")
    value = build()
    _MEMO[k] = value
    return value


def clear_session_memos() -> int:
    """Drop every memoized value; returns how many entries it dropped."""
    n = len(_MEMO)
    _MEMO.clear()
    return n
