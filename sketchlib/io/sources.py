"""Input-source handling: one entry point for every format a reference
user might bring.

The reference read headered TSV with NLineInputFormat for split
control (/root/reference hadoop job config; spark/main.py reads the
same TSV). Spark's own readers cover that natively — header skip is
``header=true`` (S3), split control is ``maxPartitionBytes`` (S2) —
so this is a thin dispatch, not a custom source: the scan stays a
Catalyst FileSourceScan with pushdown/pruning for every format.

Format is explicit or inferred from the path suffix. Prefer parquet
(columnar pruning + predicate pushdown reach the footer); text formats
are for parity with the reference's inputs and one-off ingests — the
scale posture is "transcode to parquet at ingest".
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_SUFFIXES = {
    ".parquet": "parquet", ".pq": "parquet", ".orc": "orc",
    ".csv": "csv", ".tsv": "tsv", ".txt": "tsv",
    ".json": "json", ".jsonl": "json", ".ndjson": "json",
    ".warc": "warc",  # .warc.gz handled by the double-suffix rule
}
FORMATS = sorted(set(_SUFFIXES.values()))


def infer_format(path: str) -> str:
    """Format from the path suffix (directories of part-files included:
    'x.parquet/', 'x.parquet/*' style paths still carry the suffix)."""
    base = path.rstrip("*/")
    if base.lower().endswith(".gz"):
        # compressed inputs carry their real format in the DOUBLE
        # suffix: x.warc.gz -> warc; x.csv.gz -> csv (Spark reads
        # gzipped text sources natively); a bare .gz stays ambiguous
        base = base[:-3]
    _, ext = os.path.splitext(base)
    fmt = _SUFFIXES.get(ext.lower())
    if fmt is None:
        raise ValueError(
            f"cannot infer input format from {path!r} (suffix {ext!r}); "
            f"pass fmt= explicitly, one of {FORMATS}")
    return fmt


def read_input(spark: SparkSession, path: str, fmt: str | None = None,
               header: bool = True, schema: str | None = None) -> DataFrame:
    """Read any supported input into a DataFrame.

    csv/tsv: ``header`` skips the header line (the reference's
    header-skip predicate, done by the source); without an explicit
    ``schema`` (DDL string) the types are inferred — an extra pass,
    fine for ingest, pass the schema in production.
    """
    fmt = fmt or infer_format(path)
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "orc":
        return spark.read.orc(path)
    if fmt in ("csv", "tsv"):
        reader = (spark.read
                  .option("header", str(bool(header)).lower())
                  .option("sep", "\t" if fmt == "tsv" else ","))
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("inferSchema", "true")
        return reader.csv(path)
    if fmt == "json":
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.json(path)
    if fmt == "warc":
        # crawl container -> pages-shaped rows (url, warc_ts, html,
        # ...); chain textops.html_to_text (or the CLI's
        # --extract-html) for the text column
        from sketchlib.io.warc import read_warc
        return read_warc(spark, path)
    raise ValueError(f"unsupported format {fmt!r}; one of {FORMATS}")
