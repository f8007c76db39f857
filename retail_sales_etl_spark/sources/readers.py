"""Extract layer: validated readers for csv/parquet/json sources.

Spark-first re-expression of the reference extract layer
(/root/reference/etl/extract.py:138): read -> schema contract check ->
distributed sanity checks -> raw-but-validated DataFrame.

The reference reads whole CSVs into pandas and checks them in memory;
here the read is a lazy distributed scan and every check is either
metadata-only (schema) or one aggregate query (row count, null %,
duplicate detection) — nothing proportional to data size ever reaches
the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType | None = None,
    **options: str,
) -> DataFrame:
    """Read a source file/directory as a DataFrame.

    CSV defaults to header=true + schema inference off when an explicit
    schema is given (at scale, always give one: inference is a full
    extra pass over the data).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        opts = {"header": "true"}
        if schema is None:
            opts["inferSchema"] = "true"
        opts.update(options)
        return reader.options(**opts).csv(path)
    if fmt == "json":
        return reader.options(**options).json(path)
    if fmt == "parquet":
        return reader.options(**options).parquet(path)
    raise ValueError(f"Unsupported source format: {fmt}")


def validate_schema(df: DataFrame, expected_columns: Sequence[str]) -> None:
    """Schema contract check (reference extract.py:64) — metadata only."""
    read_columns = sorted(df.columns)
    expected = sorted(expected_columns)
    if read_columns != expected:
        raise ValueError(
            "Schema mismatch detected.\n"
            f"Expected: {expected}\n"
            f"Read: {read_columns}"
        )


def sanity_check(
    df: DataFrame,
    null_threshold_pct: float = 95.0,
    fail_on_duplicates: bool = True,
) -> dict:
    """Distributed sanity checks (reference extract.py:94).

    - non-empty source
    - per-column NULL percentage below threshold
    - full-row duplicate detection (fail-fast, like the reference)

    One aggregate query: group by every column (``groupBy`` treats
    NULLs as equal and normalizes NaN/-0.0, the same semantics as
    ``distinct()``), then fold the groups to row count, distinct-row
    count and per-column NULL counts. Returns the stats dict so callers
    can log it.
    """
    cols = df.columns
    groups = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__k"))
    row = groups.agg(
        F.sum("__k").alias("__n"),
        F.count(F.lit(1)).alias("__distinct"),
        *[
            F.sum(F.when(F.col(c).isNull(), F.col("__k")).otherwise(0)).alias(
                f"__null_{i}"
            )
            for i, c in enumerate(cols)
        ],
    ).first()
    n = row["__n"] or 0
    if n == 0:
        raise ValueError("Source data is empty")

    null_pct = {c: 100.0 * (row[f"__null_{i}"] or 0) / n for i, c in enumerate(cols)}
    for c, pct in null_pct.items():
        if pct > null_threshold_pct:
            raise ValueError(f"Column '{c}' has {pct:.2f}% NULL values")

    dup_count = n - row["__distinct"]
    if dup_count > 0 and fail_on_duplicates:
        raise ValueError(f"Duplicate rows found in source data: {dup_count}")

    return {"row_count": n, "null_pct": null_pct, "duplicate_rows": dup_count}


def run_extract(
    spark: SparkSession,
    source_name: str,
    path: str,
    expected_columns: Sequence[str],
    fmt: str = "parquet",
    schema: StructType | None = None,
) -> tuple[DataFrame, dict]:
    """Full Extract phase (reference extract.py:138): read + validate.

    Returns the lazy source frame and the ``sanity_check`` stats, whose
    ``row_count`` is the extracted row count — no separate count job.
    """
    df = read_source(spark, path, fmt=fmt, schema=schema)
    validate_schema(df, expected_columns)
    return df, sanity_check(df)
