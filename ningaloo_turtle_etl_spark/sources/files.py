"""File sources/sinks — SURVEY.md §2.1 S5/S6/S8.

The reference's CSV round-trips (`write.csv` ×8 products,
ningaloo-etl.Rmd:86,204,239,290; `read.csv(as.is=T)` spatial_modelling.Rmd:77)
and binary snapshots (`save(d, file='tracks.Rda')`, track_analysis.R:45-46)
map to schema-explicit CSV and Parquet. Parquet is the engine-native snapshot:
columnar, splittable, statistics for pushdown — the properties .Rda lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession, path: str, schema: StructType | str, **options
) -> DataFrame:
    """S5: CSV scan with an explicit schema — never inference (`as.is=T` is
    the reference's way of deferring typing to a repair stage; we pin types
    at the scan instead)."""
    opts = {"header": "true", "mode": "PERMISSIVE"} | options
    return spark.read.options(**opts).schema(schema).csv(path)


def write_csv(df: DataFrame, path: str, single_file: bool = False, **options) -> None:
    """S6: CSV product sink (`write.csv(x, file, row.names=F)`).

    ``single_file=True`` coalesces to one partition for parity with the
    reference's one-file products. ``coalesce(1)`` is a narrow dependency,
    so it folds the product's whole upstream stage (scan, joins, encode)
    into one task, not just the write: only sane for dimension/summary-sized
    output. The other cores only do useful work when other actions run
    beside it, as in run_batch_etl (plans/etl_graph.py). Fact-scale data
    stays multi-part (one file per partition)."""
    out = df.coalesce(1) if single_file else df
    opts = {"header": "true"} | options
    out.write.options(**opts).mode("overwrite").csv(path)


def snapshot(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S8: binary snapshot (`save(...Rda)`) → Parquet. ``partition_by``
    enables partition pruning for downstream readers — e.g. snapshot the
    track stream by observation date and date-filtered queries skip files."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def load_snapshot(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    corrupt_col: str | None = "_corrupt_record",
    **options,
) -> DataFrame:
    """JSON-Lines reader — the de-facto LLM corpus interchange format (the
    reference has no JSON file source; this extends S3/S14's JSON handling
    to files). Schema is explicit, never inferred: inference reads the
    whole dataset twice and silently widens types between snapshots.

    PERMISSIVE by default with a quarantine column: malformed lines land in
    ``corrupt_col`` (whole raw line, other fields null) instead of killing
    a 100 TB ingest; pass ``corrupt_col=None`` for FAILFAST when a corrupt
    line should abort. Filter ``corrupt_col IS NOT NULL`` into a dead-letter
    sink and drop the column for the clean path — but cache() (or project
    other columns alongside) before querying the quarantine column ALONE:
    Spark disallows corrupt-column-only queries straight off the raw scan
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN)."""
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    if corrupt_col is None:
        opts = {"mode": "FAILFAST"} | options
        return spark.read.options(**opts).schema(schema).json(path)
    from pyspark.sql.types import StringType, StructField

    if corrupt_col in schema.fieldNames():
        with_quarantine = schema  # caller already declared the quarantine slot
    else:
        with_quarantine = StructType(
            [*schema.fields, StructField(corrupt_col, StringType(), True)]
        )
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col} | options
    return spark.read.options(**opts).schema(with_quarantine).json(path)


def write_jsonl(df: DataFrame, path: str, single_file: bool = False, **options) -> None:
    """JSON-Lines sink: one JSON object per line, one file per partition.
    ``single_file=True`` coalesces, which runs the whole upstream stage
    (scan, joins, encode) as one task, not just the write: dimension-sized
    output only, same caveat as write_csv."""
    out = df.coalesce(1) if single_file else df
    out.write.options(**options).mode("overwrite").json(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """ORC sink (extends the snapshot matrix beyond Parquet — ORC is the
    other columnar format Spark ships natively, common in Hive-lineage
    warehouses). Same partition-pruning contract as ``snapshot``; Spark's
    ORC writer emits file/stripe statistics, so the reader side gets
    predicate pushdown for free."""
    w = df.write.mode("overwrite").options(**options)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC scan. No schema argument on purpose: unlike CSV/JSONL (text,
    schema must be imposed), ORC embeds its schema — passing one would
    only invite silent cast drift between writer and reader."""
    return spark.read.options(**options).orc(path)
