"""Per-stage lineage checkpoints with idempotent resume.

North-rule requirement: "every stage checkpoints per-partition with
lineage manifests (cell range, row counts, content hashes) so any
tiling or join stage resumes idempotently". The reference's analog is
`gdal raster tile --resume` — generate only missing tiles
(apps/gdalalg_raster_tile.cpp:289) — plus the materialize step
(apps/gdalalg_materialize.cpp).

Design (all DataFrame ops, no driver data paths):

 - a stage's output is hash-bucketed by its key columns into
   `n_buckets` deterministic buckets (pmod(xxhash64(keys), n)); each
   bucket's rows land in its own parquet partition directory
   (`bucket=<i>/`);
 - the manifest (parquet under `<path>/_manifest/`) carries per bucket:
   row count, order-independent content hash (bit_xor of per-row
   xxhash64 over all columns, hashed natively: an array column by its
   elements, with no string form), and the key range (lineage: min/max
   of the first key column — for cell-keyed stages this is the cell
   range served by that bucket). Manifests written when the hash went
   through each column's string form fail `verify_stage`; resume reads
   only their bucket ids, so it still works on them;
 - commit protocol (`run_stage`): purge bucket dirs with no manifest
   row, write the data of the uncommitted buckets, then append their
   manifest rows. A bucket is committed once its manifest row exists,
   so a crash between the writes leaves an orphan dir that the next
   run purges, never a duplicate. Each write is one pass over the
   input (no persist, no count), so the input is computed twice;
 - resume keeps only input rows of buckets the manifest lacks: a re-run
   after a mid-write failure (or a second identical run) writes nothing
   twice and converges to the same manifest;
 - manifests are read with their declared schema: no inference job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructType

DEFAULT_BUCKETS = 64


def _bucket(df: DataFrame, key_cols: list[str], n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]),
                         F.lit(n_buckets)).cast("int"))


def _row_hash(df: DataFrame):
    cols = [c for c in df.columns if c != "bucket"]
    return F.xxhash64(*[F.col(c) for c in cols])


def manifest_of(bucketed: DataFrame, key_cols: list[str]) -> DataFrame:
    """(bucket, n_rows, content_hash, key_lo, key_hi) per bucket."""
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(_row_hash(bucketed)).alias("content_hash"),
        F.min(key_cols[0]).alias("key_lo"),
        F.max(key_cols[0]).alias("key_hi"),
    )


def _hadoop_fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _purge_orphan_buckets(spark: SparkSession, path: str,
                          committed: set[int]) -> None:
    """Delete any bucket=<i> data dir with no manifest row: the orphan a
    crash between the data and the manifest append leaves, which the
    append-mode re-write would otherwise duplicate. Hadoop FS API, so any
    supported filesystem; touches only bucket dirs, never data rows."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith("bucket=")):
            continue
        try:
            b = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if b not in committed:
            fs.delete(status.getPath(), True)


def committed_buckets(spark: SparkSession, path: str) -> set[int]:
    """Bucket ids with a manifest row at `path` (empty if none). The
    manifest is read with its declared schema: no schema-inference job."""
    mpath = os.path.join(path, "_manifest")
    # same Hadoop FS existence check as _purge_orphan_buckets: the
    # manifest probe and the purge MUST see the same filesystem, or on
    # a non-local FS the probe finds nothing and the purge then deletes
    # every previously committed bucket before re-appending
    fs, jmpath = _hadoop_fs(spark, mpath)
    if not fs.exists(jmpath):
        return set()
    return {r.bucket for r in
            spark.read.schema("bucket int").parquet(mpath).collect()}


def run_stage(df: DataFrame, path: str, key_cols: list[str],
              n_buckets: int = DEFAULT_BUCKETS) -> dict:
    """Write `df` to `path` bucketed by key_cols, resuming from any
    prior partial run. Returns {'written': k, 'skipped': m} bucket
    counts. Idempotent: running twice writes nothing the second time,
    and once every bucket is committed `df` is not computed at all.

    Two writes, each one pass over `df`: the data, its row count
    observed, then (only if it had rows) the manifest aggregated straight
    into one file, `written` observed on that aggregate. `df` is thus
    computed twice: pass it persisted if that costs more than a second
    read (write_pyramid passes persisted levels). Input with no row in an
    uncommitted bucket writes no data and no manifest file; a fresh path
    gets only the committer's `_SUCCESS` marker."""
    spark = df.sparkSession
    bucketed = _bucket(df, key_cols, n_buckets)
    committed = committed_buckets(spark, path)
    # crash-window repair: drop data dirs that never got a manifest row,
    # so re-processing them cannot append duplicates
    _purge_orphan_buckets(spark, path, committed)
    if committed >= set(range(n_buckets)):
        # every bucket a row can hash to is committed: nothing to compute
        return {"written": 0, "skipped": len(committed)}
    if committed:
        bucketed = bucketed.filter(~F.col("bucket").isin(sorted(committed)))

    rows = Observation()
    (bucketed.observe(rows, F.count(F.lit(1)).alias("n"))
     .write.mode("append").partitionBy("bucket").parquet(path))
    if rows.get["n"] == 0:
        return {"written": 0, "skipped": len(committed)}
    # manifest LAST (commit protocol: module docstring)
    buckets = Observation()
    (manifest_of(bucketed, key_cols)
     .observe(buckets, F.count(F.lit(1)).alias("n")).coalesce(1)
     .write.mode("append").parquet(os.path.join(path, "_manifest")))
    return {"written": buckets.get["n"], "skipped": len(committed)}


def verify_stage(spark: SparkSession, path: str, key_cols: list[str]) -> DataFrame:
    """Recompute per-bucket counts/hashes from the written data and
    join against the manifest -> rows with ok flag (lineage audit). The
    manifest is read with its declared schema, the key range typed as
    the data's first key column."""
    data = spark.read.parquet(path)
    actual = manifest_of(data, key_cols).select(
        "bucket", F.col("n_rows").alias("a_rows"),
        F.col("content_hash").alias("a_hash"))
    key = data.schema[key_cols[0]].dataType
    man = (spark.read.schema(
        StructType().add("bucket", IntegerType()).add("n_rows", LongType())
        .add("content_hash", LongType()).add("key_lo", key).add("key_hi", key))
        .parquet(os.path.join(path, "_manifest")))
    # coalesce to False so orphan buckets (data-only or manifest-only:
    # the full outer join leaves one side NULL) fail the audit instead
    # of slipping past filter(~col('ok')) as NULL
    return (man.join(actual, "bucket", "full")
            .withColumn("ok", F.coalesce(
                (F.col("n_rows") == F.col("a_rows"))
                & (F.col("content_hash") == F.col("a_hash")),
                F.lit(False))))
