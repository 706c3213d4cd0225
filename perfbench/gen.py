"""Seeded input generator for the two ingest workloads.

Cuts three S3-style file drops out of the sf0.01 tables shipped in
``perfbench/data`` with pyarrow, apart from the program under test:

- ``lineitem/csv``: pipe-delimited CSV, count trigger;
- ``orders/json/dt=YYYY-MM-DD``: hive-style JSON lines, bytes trigger;
- ``events/parquet``: parquet, count and bytes triggers.

It also writes the event log that ``load_batches`` replays: every accepted
file once, some files delivered again (at-least-once delivery), files whose
names fail the prefix's filename filter, and events under a prefix no
config routes. For each file it records the row count and an
order-independent checksum (``common.checksum``), and it replays the
batching rules on its own to predict each prefix's flushes and the
contents of every manifest.

The same seed gives the same files, sizes, log and expected figures.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from common import MAX_WIDTH, checksum, combine

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE_DIR = os.path.join(HERE, "data", "sf0.01")

# Virtual clock of the event log: one event per second from this instant.
# The age trigger is a day, so only the closing sweep (run a week later)
# fires it, and it flushes exactly the batches still open.
LOG_T0 = 1_700_000_000.0
AGE_TIMEOUT_S = 86_400
SWEEP_AT_OFFSET_S = 7 * 86_400

# The reference publishes no traffic mix (BASELINE.md), so the shares,
# file counts and sizes below are coverage choices, not measured traffic:
# enough repeats, filtered names and unrouted keys to exercise every branch
# of routing and the ledger in each round. README "Inputs" says which
# figure rests on a source.
DUP_ONE_SHARE = 0.20  # accepted files delivered twice
DUP_TWO_SHARE = 0.05  # accepted files delivered three times

# Count trigger: the reference's sizing advice is a batchSize that is an
# even multiple of the loading cluster's CPU count (BASELINE.md, "Target
# load cadence"); here the cluster is the pinned Spark width.
COUNT_TRIGGER = 2 * MAX_WIDTH


@dataclass
class FileInfo:
    key: str  # absolute path, also the event key
    size: int
    rows: int
    checksum: int
    accepted: bool  # passes the filename filter


@dataclass
class PrefixSpec:
    name: str
    s3_prefix: str  # config prefix (hive segments already as `name=*`)
    source_dir: str  # directory a file stream watches
    data_format: str
    schema: str  # DDL
    columns: list[str]
    kinds: list[str]
    filename_filter_regex: str
    filename_filter_glob: str
    batch_size: int = 0
    batch_size_bytes: int = 0
    files: list[FileInfo] = field(default_factory=list)

    def accepted(self) -> list[FileInfo]:
        return [f for f in self.files if f.accepted]

    def expected(self) -> tuple[int, int]:
        return combine([(f.rows, f.checksum) for f in self.accepted()])


@dataclass
class Drop:
    prefixes: list[PrefixSpec]
    log: list[tuple[str, int]]  # (key, size) in delivery order

    def deliveries(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for key, _ in self.log:
            out[key] = out.get(key, 0) + 1
        return out

    def expected_batches(self) -> dict[str, list[list[tuple[str, int]]]]:
        """Per prefix, the flushed batches as lists of (key, size), from
        the thresholds alone: first deliveries of accepted files join the
        open batch in log order; the batch flushes once it holds
        ``batch_size`` files or ``batch_size_bytes`` bytes; the closing
        sweep flushes whatever is left."""
        by_key = {f.key: (p, f) for p in self.prefixes for f in p.files}
        open_: dict[str, list[tuple[str, int]]] = {p.name: [] for p in self.prefixes}
        done: dict[str, list[list[tuple[str, int]]]] = {p.name: [] for p in self.prefixes}
        seen: set[str] = set()
        for key, size in self.log:
            hit = by_key.get(key)
            if hit is None or not hit[1].accepted or key in seen:
                continue
            seen.add(key)
            spec = hit[0]
            cur = open_[spec.name]
            cur.append((key, size))
            nbytes = sum(s for _, s in cur)
            if (spec.batch_size and len(cur) >= spec.batch_size) or (
                spec.batch_size_bytes and nbytes >= spec.batch_size_bytes
            ):
                done[spec.name].append(cur)
                open_[spec.name] = []
        for name, cur in open_.items():
            if cur:
                done[name].append(cur)
        return done


# name, table, format, files, accepted rows per file (lo, hi), triggers.
# The byte triggers have no source; each is set so that it fires before
# any count trigger, after three files of that prefix (orders files are
# 40-49 KB, events files 10.8-12.2 KB), so both trigger kinds flush.
# The file counts give each prefix two threshold flushes a round and
# orders one more from the closing sweep, so every trigger kind fires in
# every round.
PREFIXES = (
    ("lineitem", "lineitem", "CSV", 8, (450, 550), {"batch_size": COUNT_TRIGGER}),
    ("orders", "orders", "JSON", 7, (270, 330), {"batch_size_bytes": 120_000}),
    ("events", "events", "PARQUET", 6, (320, 380), {"batch_size": COUNT_TRIGGER, "batch_size_bytes": 30_000}),
)
FILTERED_PER_PREFIX = 2
UNROUTED_EVENTS = 2
ORDER_DATES = ("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04")


def _source(table: str) -> tuple[list[str], list[str], pa.Table]:
    """Columns, kinds and rows of one source table, with timestamps turned
    into values every format carries exactly (date text for lineitem and
    orders, epoch microseconds for events)."""
    t = pq.read_table(os.path.join(SOURCE_DIR, f"{table}.parquet"))
    cols, kinds, arrays = [], [], []
    for name, col in zip(t.column_names, t.columns):
        typ = col.type
        if pa.types.is_timestamp(typ):
            if table == "events":
                name, kind = "ts_us", "int"
                col = col.cast(pa.timestamp("us")).cast(pa.int64())
            else:
                kind = "str"
                col = pc.strftime(col, format="%Y-%m-%d")
        elif pa.types.is_integer(typ):
            kind, col = "int", col.cast(pa.int64())
        elif pa.types.is_floating(typ):
            kind = "float"
        else:
            kind = "str"
        cols.append(name)
        kinds.append(kind)
        arrays.append(col)
    return cols, kinds, pa.table(arrays, names=cols)


_DDL = {"int": "BIGINT", "float": "DOUBLE", "str": "STRING"}


def _write(fmt: str, path: str, cols: list[str], kinds: list[str], part: pa.Table) -> list[tuple]:
    """Write one file; returns its rows as Python values."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rows = list(zip(*(c.to_pylist() for c in part.columns)))
    if fmt == "CSV":
        with open(path, "w") as fh:
            for r in rows:
                fh.write("|".join(repr(v) if k == "float" else str(v) for k, v in zip(kinds, r)))
                fh.write("\n")
    elif fmt == "JSON":
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps(dict(zip(cols, r))))
                fh.write("\n")
    else:
        pq.write_table(part, path)
    return rows


def generate(seed: int, root: str) -> Drop:
    rng = np.random.default_rng(seed)
    root = os.path.abspath(root)
    prefixes: list[PrefixSpec] = []
    for name, table, fmt, n_files, (lo, hi), triggers in PREFIXES:
        cols, kinds, source = _source(table)
        ext = fmt.lower()
        if name == "orders":
            base = os.path.join(root, name, ext)
            s3_prefix = os.path.join(base, "dt=*")
        else:
            base = s3_prefix = os.path.join(root, name, ext)
        spec = PrefixSpec(
            name=name,
            s3_prefix=s3_prefix,
            source_dir=base,
            data_format=fmt,
            schema=", ".join(f"{c} {_DDL[k]}" for c, k in zip(cols, kinds)),
            columns=cols,
            kinds=kinds,
            filename_filter_regex=rf"\.{ext}$",
            filename_filter_glob=f"*.{ext}",
            **triggers,
        )
        perm = rng.permutation(source.num_rows)
        pos = 0
        n_total = n_files + FILTERED_PER_PREFIX
        filtered_at = set(rng.choice(n_total, size=FILTERED_PER_PREFIX, replace=False).tolist())
        for i in range(n_total):
            k = int(rng.integers(lo, hi + 1))
            part = source.take(perm[pos : pos + k])
            pos += k
            accepted = i not in filtered_at
            fname = f"part-{i:05d}.{ext}" + ("" if accepted else ".tmp")
            if name == "orders":
                d = ORDER_DATES[int(rng.integers(len(ORDER_DATES)))]
                path = os.path.join(base, f"dt={d}", fname)
            else:
                path = os.path.join(base, fname)
            n, cs = checksum(kinds, _write(fmt, path, cols, kinds, part))
            spec.files.append(FileInfo(path, os.path.getsize(path), n, cs, accepted))
        prefixes.append(spec)

    # Event log: every file once in a seeded interleaving, then repeat
    # deliveries of accepted files, each inserted after the original.
    log = [(f.key, f.size) for p in prefixes for f in p.files]
    log = [log[i] for i in rng.permutation(len(log))]
    accepted = [f for p in prefixes for f in p.accepted()]
    extra = []
    for f in accepted:
        u = rng.random()
        times = 2 if u < DUP_TWO_SHARE else 1 if u < DUP_TWO_SHARE + DUP_ONE_SHARE else 0
        extra.extend([(f.key, f.size)] * times)
    for ev in extra:
        first = log.index(ev)
        at = int(rng.integers(first + 1, len(log) + 1))
        log.insert(at, ev)
    for i in range(UNROUTED_EVENTS):
        at = int(rng.integers(0, len(log) + 1))
        log.insert(at, (os.path.join(root, "unrouted", f"part-{i:05d}.csv"), 1))
    return Drop(prefixes=prefixes, log=log)
