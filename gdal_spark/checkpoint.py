"""Per-stage lineage checkpoints with idempotent resume.

North-rule requirement: "every stage checkpoints per-partition with
lineage manifests (cell range, row counts, content hashes) so any
tiling or join stage resumes idempotently". The reference's analog is
`gdal raster tile --resume` — generate only missing tiles
(apps/gdalalg_raster_tile.cpp:289) — plus the materialize step
(apps/gdalalg_materialize.cpp).

Design (all DataFrame ops, no driver data paths):

 - a stage's output is hash-bucketed by its key columns into
   `n_buckets` deterministic buckets (pmod(xxhash64(keys), n));
 - each bucket's rows land in its own parquet partition directory
   (`bucket=<i>/`), written ATOMICALLY per bucket relative to the
   manifest: a bucket is only considered committed once its manifest
   row exists;
 - the manifest (one parquet under `<path>/_manifest/`) carries per
   bucket: row count, order-independent content hash (bit_xor of
   per-row xxhash64 over all columns, hashed natively: an array column
   by its elements, with no string form), and the key range (lineage:
   min/max of the first key column — for cell-keyed stages this is the
   cell range served by that bucket). Manifests written when the hash
   went through each column's string form fail `verify_stage`; resume
   reads only their bucket ids, so it still works on them;
 - `run_stage` with an existing manifest anti-joins the input against
   committed buckets and processes ONLY missing buckets — a re-run
   after a mid-write failure (or a second identical run) writes
   nothing twice and converges to the same manifest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def _purge_orphan_buckets(spark: SparkSession, path: str,
                          committed: set[int]) -> int:
    """Delete any bucket=<i> data dir with no manifest row.

    A crash between the data append and the manifest append leaves an
    orphan bucket dir; because run_stage writes with mode('append'),
    re-processing that bucket would duplicate its rows. Purging orphans
    first makes the data write atomic relative to the manifest: a bucket
    dir exists on disk iff it either has a manifest row or is being
    (re)written this run. Uses the Hadoop FS API so it works on any
    supported filesystem, and touches only the bounded bucket dirs
    (DEFAULT_BUCKETS), never data rows.
    """
    fs, jpath, jvm = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return 0
    purged = 0
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
            purged += 1
    return purged


def committed_buckets(spark: SparkSession, path: str) -> DataFrame | None:
    mpath = os.path.join(path, "_manifest")
    # same Hadoop FS existence check as _purge_orphan_buckets: the
    # manifest probe and the purge MUST see the same filesystem, or on
    # a non-local FS the probe returns None and the purge then deletes
    # every previously committed bucket before re-appending
    fs, jmpath, _ = _hadoop_fs(spark, mpath)
    if not fs.exists(jmpath):
        return None
    try:
        return spark.read.parquet(mpath)
    except Exception:
        return None


def run_stage(df: DataFrame, path: str, key_cols: list[str],
              n_buckets: int = DEFAULT_BUCKETS) -> dict:
    """Write `df` to `path` bucketed by key_cols, resuming from any
    prior partial run. Returns {'written': k, 'skipped': m} bucket
    counts. Idempotent: running twice writes nothing the second time,
    and once every bucket is committed `df` is not computed at all.
    """
    spark = df.sparkSession
    bucketed = _bucket(df, key_cols, n_buckets)

    prior = committed_buckets(spark, path)
    skipped = 0
    if prior is not None:
        committed = {r.bucket for r in prior.select("bucket").collect()}
        skipped = len(committed)
        # crash-window repair: drop data dirs that never got a manifest
        # row, so re-processing them cannot append duplicates
        _purge_orphan_buckets(spark, path, committed)
        if committed >= set(range(n_buckets)):
            # every bucket a row can hash to is committed: the anti-join
            # below would drop every row
            return {"written": 0, "skipped": skipped}
        done = prior.select("bucket")
        bucketed = bucketed.join(F.broadcast(done), "bucket", "left_anti")
    else:
        _purge_orphan_buckets(spark, path, set())

    bucketed = bucketed.persist()
    try:
        new_manifest = manifest_of(bucketed, key_cols).persist()
        n_new = new_manifest.count()
        if n_new > 0:
            (bucketed.write.mode("append").partitionBy("bucket").parquet(path))
            # manifest append LAST: a bucket is committed only once its
            # manifest row exists => crash between the two writes leaves
            # an orphan data dir that the next resume PURGES before
            # re-processing (never silent duplication; verify_stage also
            # recomputes hashes from data as a belt-and-braces audit).
            (new_manifest.write.mode("append")
             .parquet(os.path.join(path, "_manifest")))
        return {"written": int(n_new), "skipped": int(skipped)}
    finally:
        bucketed.unpersist()
        try:
            new_manifest.unpersist()
        except Exception:
            pass


def verify_stage(spark: SparkSession, path: str, key_cols: list[str]) -> DataFrame:
    """Recompute per-bucket counts/hashes from the written data and
    join against the manifest -> rows with ok flag (lineage audit)."""
    data = spark.read.parquet(path)
    actual = manifest_of(data, key_cols).select(
        "bucket", F.col("n_rows").alias("a_rows"),
        F.col("content_hash").alias("a_hash"))
    man = spark.read.parquet(os.path.join(path, "_manifest"))
    # coalesce to False so orphan buckets (data-only or manifest-only:
    # the full outer join leaves one side NULL) fail the audit instead
    # of slipping past filter(~col('ok')) as NULL
    return (man.join(actual, "bucket", "full")
            .withColumn("ok", F.coalesce(
                (F.col("n_rows") == F.col("a_rows"))
                & (F.col("content_hash") == F.col("a_hash")),
                F.lit(False))))
