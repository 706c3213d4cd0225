"""Multi-format file reader driven by a LoadConfig (reference S3 operator).

The reference routes five payload formats to Redshift COPY without parsing
them (COPY-options assembly, index.js:1163-1199; formats validated at
setup.js:212-220): CSV with arbitrary delimiter + optional header skip,
JSON (+JSONPaths or 'auto'), AVRO, PARQUET, ORC, plus an optional
compression directive (index.js:1196-1199).

Here the engine *is* the parallel loader (Spark executors replace
Redshift's COPY fleet), so the same config surface maps onto
`spark.read` options. Format parsing happens in the JVM's vectorized
readers; compression codecs are auto-detected by extension, matching the
reference's GZIP/BZIP2/LZOP passthrough.

Scale notes: `spark.read.format(...).load(files)` with an explicit file
list does distributed split planning — 10k files become ~10k input splits
across executors, no driver-side loop. Schema is declared (config DDL) or
inferred once; at 100 TB always declare (inference is a full extra pass
for JSON/CSV).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import tune
from .routing import LoadConfig

# Reference: supported currently ['CSV','JSON','AVRO','PARQUET','ORC']
# (setup.js:212-220); unsupported → "unsupported data format" error
# (index.js:1193-1194).
SUPPORTED_FORMATS = {"CSV", "JSON", "AVRO", "PARQUET", "ORC"}


class UnsupportedFormatError(ValueError):
    """Mirror of the reference's unsupported-format hard error."""


class MaxErrorExceeded(ValueError):
    """Load aborted: malformed-row count reached the MAXERROR budget
    (the Redshift COPY error-ceiling semantic, copyOptions passthrough
    index.js:1202-1204)."""


class CompressionMismatch(ValueError):
    """Load aborted: a file's extension contradicts the configured
    compression directive (index.js:1196-1199 — the reference passes
    GZIP/BZIP2/LZOP to COPY, which fails on mismatched payloads; here
    the mismatch is caught before any bytes are read)."""


# Compression directive → accepted file extensions (reference set,
# setup.js compression choices + Spark's auto-detected codecs).
_COMPRESSION_EXTS = {
    "GZIP": (".gz", ".gzip"),
    "BZIP2": (".bz2",),
    "LZOP": (".lzo",),
    "NONE": (),
}


def _check_compression(paths: list[str], directive: str) -> None:
    """Error-on-mismatch for an explicit compression directive. Only
    explicit file paths are checkable (globs/directories resolve at scan
    time); a directory entry passes through to Spark's own codec
    detection. NONE asserts that no path carries a known codec
    extension."""
    directive = directive.upper()
    if directive not in _COMPRESSION_EXTS:
        raise CompressionMismatch(f"unknown compression directive {directive}")
    all_exts = tuple(e for exts in _COMPRESSION_EXTS.values() for e in exts)
    for p in paths:
        low = p.lower()
        if any(ch in low for ch in "*?[{"):
            # Glob patterns resolve at scan time; Spark's codec detection
            # applies per matched file. But a glob with a LITERAL suffix
            # ('data/*.gz') still pins every match's extension, so the
            # directive check applies to it; only skip when the suffix
            # itself is non-literal ('data/part-*', 'x.[gb]z', and Hadoop
            # brace alternations 'dir/*.{gz,gzip}' — '{' is a glob
            # metacharacter too, so such a suffix defers to per-file
            # codec detection instead of being read as a literal ext).
            suffix = low.rsplit("/", 1)[-1].rsplit(".", 1)[-1]
            if "." not in low.rsplit("/", 1)[-1] or any(
                ch in suffix for ch in "*?[{"
            ):
                continue
            low = "literal." + suffix  # check by the pinned extension only
        if directive == "NONE":
            if low.endswith(all_exts):
                raise CompressionMismatch(
                    f"compression NONE configured but {p} has a compressed extension"
                )
        elif "." in low.rsplit("/", 1)[-1] and not low.endswith(
            _COMPRESSION_EXTS[directive]
        ):
            raise CompressionMismatch(
                f"compression {directive} configured but {p} does not match "
                f"{_COMPRESSION_EXTS[directive]}"
            )


def configure_reader(reader, config: LoadConfig, schema: str | None, options: dict):
    """Apply `config`'s format, CSV `sep`/`header`, `schema` and `options`
    to `reader` — a `spark.read` or a `spark.readStream` — with
    `config.reader_options` LAST, so the batch and stream paths parse a
    file the same way."""
    fmt = (config.data_format or "CSV").upper()
    if schema:
        reader = reader.schema(schema)
    if fmt == "CSV":
        reader = (
            reader.format("csv")
            # csvDelimiter (index.js:1174-1177); reference default '|'
            .option("sep", config.csv_delimiter or "|")
            # ignoreCsvHeader → IGNOREHEADER 1 (index.js:1178-1183)
            .option("header", bool(config.ignore_csv_header))
        )
    else:
        reader = reader.format(fmt.lower())
    # copyOptions passthrough (index.js:1202-1204): user-supplied reader
    # options apply LAST so they win over the structured defaults above
    # (e.g. a custom quote/escape/dateFormat/nullValue for CSV).
    for k, v in {**options, **(config.reader_options or {})}.items():
        reader = reader.option(k, v)
    return reader


def read_files(
    spark: SparkSession,
    config: LoadConfig,
    files: list[str] | str,
) -> DataFrame:
    """Read `files` (a list of paths or a glob/directory) per `config`.

    Returns the parsed DataFrame with the optional P7 column-list
    projection applied (index.js:1157-1161) — a `.select()` so Catalyst
    prunes unread columns at the scan.
    """
    tune(spark)
    fmt = (config.data_format or "CSV").upper()
    if fmt not in SUPPORTED_FORMATS:
        raise UnsupportedFormatError(
            f"unsupported data format {config.data_format}"  # index.js:1193
        )

    paths = files if isinstance(files, list) else [files]
    if config.compression:
        _check_compression(paths, config.compression)
    if fmt == "AVRO":
        # JVM spark-avro datasource when deployed; otherwise the engine's
        # own container-file decoder (sources/avro_io.py) over a
        # distributed binaryFile scan. Schema comes from the file header
        # either way (Avro is self-describing).
        from .avro_io import read_avro

        if config.reader_options:
            # The reference appends copyOptions to the COPY unconditionally
            # for AVRO too (index.js:1202-1206), so configs like
            # AVRO + GZIP/REGION copyOptions are accepted upstream. Match
            # that: accept and log-warn (Avro is self-describing and the
            # container-file decoder has no option surface, so the options
            # cannot change parse semantics here — they are inert, not
            # silently semantics-altering).
            import logging

            logging.getLogger(__name__).warning(
                "reader_options %r ignored for AVRO load (Avro is "
                "self-describing; options apply to CSV/JSON/PARQUET/ORC)",
                config.reader_options,
            )
        df = read_avro(spark, paths)
        if config.column_list:
            df = df.select(*config.column_list)  # P7 ordered projection
        return df

    max_error = config.max_error
    schema, options = config.schema, {}
    if max_error is not None and fmt in ("CSV", "JSON"):
        # COPY MAXERROR analog (copyOptions, index.js:1202-1204): parse
        # permissively into a corrupt-record column, budget the malformed
        # rows, and fail the whole load once the budget is exceeded —
        # exactly Redshift's per-load error ceiling.
        if not config.schema:
            raise ValueError("max_error requires an explicit schema")
        schema = config.schema + ", _corrupt_record STRING"
        options = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"}
    elif fmt == "CSV" and not config.schema:
        options = {"inferSchema": True}
    df = configure_reader(spark.read, config, schema, options).load(paths)

    if max_error is not None and fmt in ("CSV", "JSON"):
        from pyspark.sql import functions as F

        # Cache before splitting: Spark refuses queries that reference
        # ONLY the corrupt column of an un-materialized permissive scan.
        df = df.cache()
        n_bad = df.filter(F.col("_corrupt_record").isNotNull()).count()
        # Redshift MAXERROR fails when the error count REACHES the
        # budget, and MAXERROR 0 fails on the first error — i.e. fail
        # when n_bad >= max(budget, 1).
        if n_bad >= max(max_error, 1):
            df.unpersist()
            raise MaxErrorExceeded(
                f"{n_bad} malformed rows reach MAXERROR {max_error}"
            )
        clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
        # Materialize the clean rows and release the permissive-parse
        # cache — otherwise the full raw load (bad rows included) stays
        # pinned in executor storage for the life of the session.
        clean = clean.localCheckpoint(eager=True)
        df.unpersist()
        df = clean

    if fmt == "JSON" and config.json_path:
        # jsonPath config (index.js:1167-1172): Redshift JSONPaths remap
        # nested fields to columns; Spark's reader exposes the full nested
        # struct, so a JSONPaths list like ["$.a.b", "$.c"] becomes an
        # ordered post-read column projection.
        cols = []
        for i, jp in enumerate(_parse_jsonpaths(config.json_path)):
            dotted = jp.lstrip("$").lstrip(".")
            cols.append(df[dotted].alias(dotted.replace(".", "_") or f"c{i}"))
        df = df.select(*cols)

    if config.column_list:
        df = df.select(*config.column_list)  # P7 ordered projection
    return df


def _parse_jsonpaths(json_path: str) -> list[str]:
    """Accept either a comma-joined string of JSONPaths or a JSON document
    of the Redshift form {"jsonpaths": ["$.a", ...]}."""
    import json

    s = json_path.strip()
    if s.startswith("{"):
        return list(json.loads(s).get("jsonpaths", []))
    return [p.strip() for p in s.split(",") if p.strip()]
