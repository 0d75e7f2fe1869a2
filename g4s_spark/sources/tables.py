"""Parquet table loaders for the driver testdata (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under the sf dir. Filters and
projections applied downstream push into these scans (verify with
.explain: PushedFilters / ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import session_memo

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Timestamp columns the testdata has shipped under several parquet logical
# types across regenerations: TIMESTAMP(NANOS) (readable only as long under
# spark.sql.legacy.parquet.nanosAsLong) and timestamp[us] with
# isAdjustedToUTC=false (which Spark 4 reads as TIMESTAMP_NTZ). Normalize
# every variant to TimestampType on load — the session TZ is pinned UTC
# (g4s_spark/session.py), so NTZ->TZ cast is a pure type relabel — so that
# downstream event-time logic (unix_millis, window(), withWatermark) always
# sees a native TIMESTAMP.
TS_COLS = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}


def normalize_ts(df: DataFrame, cols: list[str]) -> DataFrame:
    """Normalize declared timestamp columns to TimestampType regardless of
    the parquet logical type they arrived as."""
    dtypes = dict(df.dtypes)
    for c in cols:
        dt = dtypes.get(c)
        if dt == "bigint":
            # integer `div`, not float `/`: epoch-nanos ≈ 2^60 exceed double's
            # exact range, so a float divide can land on a different
            # microsecond than DuckDB's native nanos read
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# One analyzed DataFrame per (sf_dir, table) in the session memo
# (memo.session_memo). spark.read.parquet lists files and
# reads footers ON THE DRIVER at plan-construction time (~100 ms/table),
# so an uncached load_tables() call cost ~1 s of serial driver time per
# GATE; across a 50-gate driver window that was ~50 s of pure plan
# construction (round-14 build-vs-execute profile, NOTES.md). The plan
# is immutable — reuse is free; nothing here persists executor memory.
#
# ASSUMPTION (ADVICE r14): parquet under sf_dir is immutable for the
# application's lifetime — a cached plan holds the file listing read
# at first load, so rewriting the files behind it yields stale reads
# or FileNotFoundException. That matches this engine's inputs (the
# driver's testdata is write-once; mutations go through the graph
# store's append paths, never in-place rewrites). Code that DOES
# rewrite a directory must release the memo after
# (``session_memo(spark).uncache()``).
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return session_memo(spark).get(
        ("table", sf_dir, name), (),
        lambda: normalize_ts(
            spark.read.parquet(f"{sf_dir}/{name}.parquet"), TS_COLS.get(name, [])
        ),
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


# the engine's documents schema (TESTDATA.md): explicit everywhere —
# schema INFERENCE on JSON is itself a full scan, never acceptable at
# 100 TB, so readers always declare it
DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def read_documents_jsonl(
    spark: SparkSession, path: str, source: str | None = None
) -> DataFrame:
    """Line-delimited JSON corpus ingest (the de-facto training-data
    interchange format) under the engine's documents schema. The schema
    is declared, not inferred (no sampling pre-scan). Missing fields
    repair deterministically: ``source`` from the argument, ``doc_id``
    as xxhash64(source, text) — stable across re-ingests of the same
    file, so downstream exact-dedup collapses accidental double loads —
    and ``n_chars`` from the text. Narrow column expressions only."""
    df = spark.read.schema(DOCUMENTS_SCHEMA).json(path)
    if source is not None:
        df = df.withColumn("source", F.coalesce(F.col("source"), F.lit(source)))
    return df.withColumn(
        "doc_id",
        F.coalesce(F.col("doc_id"), F.xxhash64(F.col("source"), F.col("text"))),
    ).withColumn(
        "n_chars",
        F.coalesce(F.col("n_chars"), F.length(F.col("text")).cast("long")),
    )


def write_documents_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "error",
    partition_by: tuple[str, ...] = ("source",),
) -> None:
    """Export a documents table as JSONL partitioned by source (each
    source a prunable directory — the layout downstream per-source
    samplers and mix designers read without touching other sources)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)
