"""Tri-threshold micro-batcher + batch state machine (reference T1-T5).

The reference's heart: every incoming file event is appended to the open
batch for its prefix (addFileToPendingBatch, index.js:313-516), then the
pending batch is checked against three flush thresholds
(processPendingBatch, index.js:602-813):

- T1 count:  pendingEntryCount >= batchSize           (index.js:663-670)
- T2 bytes:  sum(entry sizes)  >= batchSizeBytes      (index.js:684-691)
- T3 age:    now - min(writeDates) > batchTimeoutSecs (index.js:674-682),
             swept on EVERY event, including ones the filename filter
             rejected (index.js:233) and the cron trigger-file sweep
             (createS3TriggerFile.js:17-78).

On flush: CAS `open→locked` (index.js:693-757, loser exits quietly), a
fresh `currentBatch = uuid4` is rotated onto the config (index.js:768-803),
the locked batch is loaded (pipeline._load → sinks.fan_out) and moved to
`complete`/`error` (closeBatch index.js:1409-1489 / failBatch 1327-1403).

Spark disposition: batch *contents* are file references, not rows — the
control plane is tiny (thousands of batches), so it lives in plain Python
dataclasses on the driver, checkpointed as parquet DataFrames
(control_tables). The data plane — actually parsing and loading the
files of a flushed batch — is a full distributed `spark.read` +
sink write. This mirrors the reference exactly: the Lambda never touches
row data either; Redshift COPY does (SURVEY §1).

Statuses: constants.js:15-18 + batchOperations.js:279,358.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

# Reference status machine (constants.js:15-18, batchOperations.js:279,358)
OPEN = "open"
LOCKED = "locked"
COMPLETE = "complete"
ERROR = "error"
REPROCESSING = "reprocessing"
REPROCESSED = "reprocessed"


@dataclass
class BatchEntry:
    """entryMap element {file, size} (index.js:344-357)."""

    file: str
    size: int


@dataclass
class Batch:
    """One batch item (LambdaRedshiftBatches row, common.js:165-210)."""

    s3_prefix: str
    batch_id: str
    status: str = OPEN
    entries: list[BatchEntry] = field(default_factory=list)
    write_dates: list[float] = field(default_factory=list)  # epoch secs (NS set)
    size: int = 0  # A1 running byte sum (ADD size, index.js:344)
    last_update: float = 0.0
    error_message: str | None = None

    @property
    def entry_count(self) -> int:  # A2 (index.js:651-660)
        return len(self.entries)

    @property
    def created(self) -> float | None:  # A3 min(writeDates) (index.js:634-643)
        return min(self.write_dates) if self.write_dates else None

    def files(self) -> list[str]:
        return [e.file for e in self.entries]


class Batcher:
    """Per-prefix open-batch accumulator with the reference's flush rules.

    `now` is injected on every call so tests drive virtual time, mirroring
    how the reference derives age from wall clock (common.js:100-103).
    """

    def __init__(self, config) -> None:
        from ..sources.routing import LoadConfig

        assert isinstance(config, LoadConfig)
        self.config = config
        self.current: Batch | None = None
        self.history: list[Batch] = []  # locked/complete/error batches

    # -- ingest ------------------------------------------------------------

    def add_file(self, file: str, size: int, now: float | None = None) -> Batch | None:
        """addFileToPendingBatch (index.js:313-516) + processPendingBatch
        sweep. Returns the locked batch if this event flushed one."""
        now = time.time() if now is None else now
        if self.current is None:
            self._rotate()
        b = self.current
        b.entries.append(BatchEntry(file=file, size=size))
        b.write_dates.append(now)
        b.size += size
        b.last_update = now
        return self.sweep(now)

    def sweep(self, now: float | None = None) -> Batch | None:
        """processPendingBatch (index.js:602-813): check T1/T2/T3 against
        the open batch; lock + rotate on any hit. Runs on every event —
        including filtered ones — and on the cron trigger sweep (S9)."""
        now = time.time() if now is None else now
        b = self.current
        if b is None or not b.entries:
            return None  # no pending entries → nothing to do (index.js:653)
        cfg = self.config
        flush = False
        if cfg.batch_size and b.entry_count >= cfg.batch_size:  # T1
            flush = True
        if cfg.batch_size_bytes and b.size >= cfg.batch_size_bytes:  # T2
            flush = True
        if cfg.batch_timeout_secs and (now - b.created) > cfg.batch_timeout_secs:  # T3
            flush = True
        if not flush:
            return None
        return self._lock(b, now)

    def _lock(self, b: Batch, now: float) -> Batch:
        """CAS open→locked (index.js:693-757) + rotate (index.js:768-803).
        Single-driver engine ⇒ the CAS race the reference guards against
        (concurrent Lambdas) cannot occur; rotation is atomic here."""
        b.status = LOCKED
        b.last_update = now
        self.history.append(b)
        self._rotate()
        return b

    def _rotate(self) -> None:
        """New currentBatch = uuid4 (T5, index.js:779)."""
        self.current = Batch(
            s3_prefix=self.config.s3_prefix, batch_id=str(uuid.uuid4())
        )
        self.config.current_batch = self.current.batch_id

    # -- state transitions post-load --------------------------------------

    def mark(self, batch: Batch, status: str, error: str | None = None) -> Batch:
        """closeBatch (index.js:1409-1489) / failBatch (index.js:1327-1403)
        / reprocess transitions (batchOperations.js:296-310,353-360)."""
        _assert_transition(batch.status, status)
        batch.status = status
        batch.error_message = error
        batch.last_update = time.time()
        return batch

    def all_batches(self) -> list[Batch]:
        out = list(self.history)
        if self.current is not None:
            out.append(self.current)
        return out


# Legal transitions, per the reference's ConditionExpressions:
# lock: open→locked (index.js:724-731); close: locked→complete
# (index.js:1429-1445); fail: locked→error (index.js:1351-1369);
# reprocess: {locked,error}→reprocessing (batchOperations.js:414-422,
# the IN precondition), reprocessing→reprocessed (batchOperations.js:353-360).
# unlockBatch CLI: locked→open (common.js:790-840).
_TRANSITIONS = {
    (OPEN, LOCKED),
    (LOCKED, COMPLETE),
    (LOCKED, ERROR),
    (LOCKED, OPEN),  # unlockBatch.js escape hatch
    (LOCKED, REPROCESSING),
    (ERROR, REPROCESSING),
    (COMPLETE, REPROCESSING),  # reprocessBatch forceAll path
    (REPROCESSING, REPROCESSED),
    (REPROCESSING, ERROR),
}


class IllegalTransition(ValueError):
    """Mirror of the reference's conditional-write failure (quiet loser,
    index.js:744-749 — but in-process we surface it loudly)."""


def _assert_transition(frm: str, to: str) -> None:
    if (frm, to) not in _TRANSITIONS:
        raise IllegalTransition(f"batch status {frm} -> {to} not allowed")
