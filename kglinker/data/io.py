"""Source-format layer: load the two corpus tables from the formats a
real deployment actually has — parquet (the default everywhere in this
repo), JSONL (the common chat-log export shape), CSV, or an existing
catalog table (Iceberg on a cluster; any `spark.table`-resolvable name).

Every reader CONFORMS its output to the canonical schema (column set,
order, and types — `(conv_id, turn_idx, role, text, tool, ts)` for
transcripts per BASELINE input_hint; `(doc_id, text, lang, source,
n_chars)` for documents), so downstream operators never see
format-dependent types (e.g. CSV's all-strings, parquet's int64 vs the
declared int). Missing required columns fail loud with the full missing
list; extra columns are dropped.

Scale notes: parquet/Iceberg are the only formats that carry pushdown +
column pruning to the scan; JSONL/CSV are full-scan text formats (every
reader here is one `spark.read` — Spark parallelizes by file split
either way) and a 100 TB pipeline should land them into
parquet/Iceberg once rather than re-parse per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kglinker.data.transcripts import TRANSCRIPTS_SCHEMA

__all__ = ["read_transcripts", "read_documents", "DOCUMENTS_DDL",
           "TRANSCRIPTS_DDL"]

TRANSCRIPTS_DDL = [(f.name, f.dataType.simpleString())
                   for f in TRANSCRIPTS_SCHEMA.fields]
DOCUMENTS_DDL = [("doc_id", "bigint"), ("text", "string"),
                 ("lang", "string"), ("source", "string"),
                 ("n_chars", "int")]


def _conform(df: DataFrame, ddl: list[tuple[str, str]],
             what: str) -> DataFrame:
    missing = [c for c, _ in ddl if c not in df.columns]
    if missing:
        raise ValueError(
            f"{what} source is missing required columns {missing}; "
            f"expected {[c for c, _ in ddl]}, got {df.columns}")
    return df.select(*[F.col(c).cast(t).alias(c) for c, t in ddl])


def _read(spark: SparkSession, path: str, fmt: str,
          ddl: list[tuple[str, str]], what: str,
          **options: str) -> DataFrame:
    fmt = fmt.lower()
    if fmt == "parquet":
        df = spark.read.options(**options).parquet(path)
    elif fmt in ("json", "jsonl"):
        df = spark.read.options(**options).json(path)
    elif fmt == "csv":
        # nullValue defaults to '\\N' (not the CSV-reader default of the
        # empty string) so an empty cell stays an empty STRING — '' vs
        # NULL must not depend on the source format
        df = spark.read.options(**{"header": "true", "nullValue": "\\N",
                                   **options}).csv(path)
    elif fmt in ("table", "iceberg"):
        # catalog-resolved (Iceberg on a cluster; `path` is the table
        # name) — the only branch that needs jars absent in this sandbox
        df = spark.read.table(path)
    else:
        raise ValueError(f"unsupported source format {fmt!r}; one of "
                         "parquet, jsonl, csv, table")
    return _conform(df, ddl, what)


def read_transcripts(spark: SparkSession, path: str,
                     fmt: str = "parquet", **options: str) -> DataFrame:
    """Canonical (conv_id, turn_idx, role, text, tool, ts) from any
    supported source. For JSONL/CSV, ``ts`` accepts ISO-8601 strings
    (cast to timestamp); malformed rows surface as NULL ts — filter or
    fail upstream per your contract."""
    return _read(spark, path, fmt, TRANSCRIPTS_DDL, "transcripts",
                 **options)


def read_documents(spark: SparkSession, path: str,
                   fmt: str = "parquet", **options: str) -> DataFrame:
    """Canonical (doc_id, text, lang, source, n_chars) from any
    supported source."""
    return _read(spark, path, fmt, DOCUMENTS_DDL, "documents", **options)
