"""Shared helpers for driver-contract queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def money(col) -> "F.Column":
    """Exact-decimal cast for currency math so SUM() is order-independent
    (double summation order varies across partitions/engines; decimal sums
    are exact, so Spark and the DuckDB oracle agree bit-for-bit)."""
    return F.col(col).cast("decimal(18,2)") if isinstance(col, str) else col.cast("decimal(18,2)")


def dround(col, scale: int = 6) -> "F.Column":
    return F.round(col.cast("double"), scale)


def md5_int(col) -> "F.Column":
    """First 8 hex chars of md5 -> bigint. DuckDB mirror:
    ('0x' || substr(md5(x), 1, 8))::BIGINT — verified identical."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def tokens(col="text") -> "F.Column":
    """Whitespace tokenization; DuckDB mirror: string_split(text, ' ')."""
    return F.split(F.col(col), " ")


def spread_scan(spark: SparkSession, sf_dir: str, name: str, df: DataFrame) -> DataFrame:
    """Parallelism guard for CPU-heavy pipelines rooted at a small-file
    scan (r6, generalized from the r3 lsh-candidates guard): the file
    source plans ~(bytes / maxPartitionBytes) splits, so a few-MB bench
    parquet serializes a quadratic or per-row-expensive downstream onto
    1-2 tasks (AQE partition coalescing is off, session.py). Spread the
    scan across default parallelism when the planner would under-split;
    at corpus scale the scan already has >= that many splits and this
    no-ops. Split count is estimated from the same inputs the planner
    uses — never df.rdd.getNumPartitions (house invariant: that runs a
    full plan analysis + RDD conversion per call). FAILS CLOSED: when
    the size probe errors (exotic filesystems), the guard is skipped —
    an unconditional repartition would full-shuffle a corpus-scale scan
    exactly where the docstring promises a no-op. The same holds for a
    maxPartitionBytes value the size parse does not understand ("0.5g",
    "0") — no guard rather than a crash."""
    import re as _re

    from harvesting_validator_spark import fs as _fs

    try:
        mpb_raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        m = _re.fullmatch(r"(\d+)([bkmgt]?)b?", mpb_raw.strip().lower())
        mpb = int(m.group(1)) * {"": 1, "b": 1, "k": 1 << 10, "m": 1 << 20,
                                 "g": 1 << 30, "t": 1 << 40}[m.group(2)]
        scan_bytes = _fs.tree_size(spark, f"{sf_dir}/{name}.parquet")
        if not scan_bytes:
            return df
        scan_parts = max(1, -(-scan_bytes // mpb))
    except Exception:
        return df
    want = spark.sparkContext.defaultParallelism
    if scan_parts < want:
        return df.repartition(want)
    return df


def spread_tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """tbl() + spread_scan in one call so the sizing probe and the scan
    can never name different tables."""
    return spread_scan(spark, sf_dir, name, tbl(spark, sf_dir, name))


def epoch_us(col="ts") -> "F.Column":
    """Epoch microseconds for a parquet TIMESTAMP_NTZ column. The session
    timezone is pinned to UTC (session.py), so NTZ -> TIMESTAMP is a
    no-op reinterpretation and matches DuckDB's naive epoch_us(ts)."""
    return F.unix_micros(F.col(col).cast("timestamp"))
