"""Per-partition lineage + metrics, and resumable stage outputs.

North-rule requirement: checkpoint per-partition lineage and row-count
metrics so a 10^12-row run can resume without recomputing finished work.

Pattern (no reference analogue — geozero is single-pass/single-process):

- A *stage* writes its output partitioned by a deterministic bucket of
  the stage key (e.g. cell prefix). Each completed bucket directory is
  recorded in ``_meta/<stage>.parquet`` with its row count, bucket id
  and input fingerprint.
- ``run_stage`` skips buckets already recorded with the same
  fingerprint — idempotent resume at bucket granularity; a killed run
  redoes only in-flight buckets.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

# the only read errors that mean "nothing written there yet": no such
# path (no _meta before the first run), or a directory holding no data
# files (a write whose pending buckets were all empty)
_NOTHING_WRITTEN = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _nothing_written(e: AnalysisException) -> bool:
    return e.getCondition() in _NOTHING_WRITTEN


def meta_path(base: str, stage: str) -> str:
    return f"{base}/_meta/{stage}"


def completed_buckets(spark: SparkSession, base: str, stage: str,
                      fingerprint: str) -> set[int]:
    try:
        m = spark.read.parquet(meta_path(base, stage))
    except AnalysisException as e:
        if not _nothing_written(e):
            raise
        return set()
    return {r.bucket for r in
            m.where(F.col("fingerprint") == fingerprint)
            .select("bucket").distinct().collect()}


def run_stage(spark: SparkSession, df: DataFrame, base: str, stage: str,
              bucket_col: str, n_buckets: int, fingerprint: str) -> list:
    """Write df bucketed by pmod(hash(bucket_col), n_buckets); skip
    buckets already recorded for this fingerprint. Returns metric rows
    [(bucket, rows, wall_s)]. Output: ``base/stage/bucket=i`` parquet.

    ONE pass over the input: the write consumes df directly (no
    persist, no separate count job — round 5 cached the whole input
    and ran a groupBy-count first), pre-partitioned by bucket so each
    write task emits ONE file per bucket it owns instead of every task
    opening every bucket (tasks x buckets small files — 512 at the
    bench shape, the guide §6 small-files trap; now n_buckets x
    fanout, with fanout sized so write parallelism still matches the
    cluster). Metric counts come from the written parquet footers —
    a partition-pruned count(*) touches metadata only. wall_s is the
    shared wall of the combined write, recorded on every bucket row
    it covered."""
    if "bucket" in df.columns:
        raise ValueError(
            "run_stage derives its own 'bucket' partition column; the "
            "input DataFrame already has one (it would be silently "
            "overwritten and lost in the staged output) — rename it "
            "before staging")
    done = completed_buckets(spark, base, stage, fingerprint)
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return []
    t0 = time.perf_counter()
    # clear pending bucket dirs up front: dynamic overwrite only
    # replaces partitions that receive rows THIS run, so a stale dir
    # from a previous fingerprint whose bucket is now empty would
    # survive (and poison the footer counts below)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    hconf = spark._jsc.hadoopConfiguration()
    for b in todo:
        p = jpath(f"{base}/{stage}/bucket={b}")
        p.getFileSystem(hconf).delete(p, True)
    bdf = (df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(bucket_col)),
                         F.lit(n_buckets)).cast("int"))
        .where(F.col("bucket").isin(todo)))
    # fanout keeps the write as wide as the cluster when n_buckets is
    # small: n_buckets * fanout partitions, each holding one (bucket,
    # sub-file) slice -> one output file per task
    par = spark.sparkContext.defaultParallelism
    fanout = max(1, -(-par // n_buckets))
    out = bdf.repartition(
        n_buckets * fanout, F.col("bucket"),
        F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(fanout)))
    (out.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("bucket").parquet(f"{base}/{stage}"))
    try:
        written = spark.read.parquet(f"{base}/{stage}")
    except AnalysisException as e:
        # any other read error must not record real buckets as 0 rows
        if not _nothing_written(e):
            raise
        counts = {}  # nothing written (all pending buckets empty)
    else:
        counts = {r.bucket: r.cnt for r in
                  written.where(F.col("bucket").isin(todo))
                  .groupBy("bucket").agg(F.count("*").alias("cnt"))
                  .collect()}
    wall = round(time.perf_counter() - t0, 3)
    now = time.time()
    rec = spark.createDataFrame(
        [(stage, b, counts.get(b, 0), wall, fingerprint, now)
         for b in todo],
        "stage string, bucket int, rows long, wall_s double, "
        "fingerprint string, ts double")
    rec.write.mode("append").parquet(meta_path(base, stage))
    return [(b, counts.get(b, 0), wall) for b in todo]


def stage_metrics(spark: SparkSession, base: str, stage: str) -> DataFrame:
    return spark.read.parquet(meta_path(base, stage))
