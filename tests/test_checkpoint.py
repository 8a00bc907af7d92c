"""Lineage-checkpoint contract: idempotent resume, manifest audit."""

import os

import numpy as np
from pyspark.sql import functions as F

from gdal_spark import checkpoint as CP


def _df(spark, n=1000, start=0):
    return (spark.range(start, start + n)
            .select(F.col("id").alias("cell_id"),
                    (F.col("id") * 31 % 97).alias("v")))


def test_stage_write_and_manifest(spark, tmp_path):
    path = str(tmp_path / "stage1")
    out = CP.run_stage(_df(spark), path, ["cell_id"], n_buckets=8)
    assert out == {"written": 8, "skipped": 0}
    back = spark.read.parquet(path)
    assert back.count() == 1000
    man = spark.read.parquet(path + "/_manifest")
    rows = man.collect()
    assert len(rows) == 8
    assert sum(r["n_rows"] for r in rows) == 1000
    # lineage: key ranges cover the id space
    assert min(r["key_lo"] for r in rows) == 0
    assert max(r["key_hi"] for r in rows) == 999


def test_stage_rerun_is_noop(spark, tmp_path):
    path = str(tmp_path / "stage2")
    CP.run_stage(_df(spark), path, ["cell_id"], n_buckets=8)
    out2 = CP.run_stage(_df(spark), path, ["cell_id"], n_buckets=8)
    assert out2 == {"written": 0, "skipped": 8}
    assert spark.read.parquet(path).count() == 1000  # nothing duplicated
    # every bucket committed: the input is not even evaluated (the UDF
    # is nondeterministic so Catalyst cannot push the bucket filter below it)
    fail = F.udf(lambda v: v // 0, "long").asNondeterministic()
    boom = _df(spark).withColumn("v", fail("v"))
    out3 = CP.run_stage(boom, path, ["cell_id"], n_buckets=8)
    assert out3 == {"written": 0, "skipped": 8}


def test_stage_resume_after_partial(spark, tmp_path):
    """Simulate a crash that committed only some buckets: resume must
    process exactly the missing ones."""
    path = str(tmp_path / "stage3")
    df = _df(spark)
    bucketed = CP._bucket(df, ["cell_id"], 8)
    part = bucketed.filter(F.col("bucket") < 3)
    part.write.partitionBy("bucket").parquet(path)
    CP.manifest_of(part, ["cell_id"]).write.parquet(path + "/_manifest")

    out = CP.run_stage(df, path, ["cell_id"], n_buckets=8)
    assert out["skipped"] == 3 and out["written"] == 5
    assert spark.read.parquet(path).count() == 1000
    audit = CP.verify_stage(spark, path, ["cell_id"])
    assert audit.filter(~F.col("ok")).count() == 0


def test_resume_purges_orphan_buckets(spark, tmp_path):
    """Crash window: data append succeeded, manifest append did not.
    The orphan bucket dir must be purged on resume so re-processing
    cannot duplicate its rows (run_stage writes with mode=append)."""
    path = str(tmp_path / "stage5")
    df = _df(spark)
    bucketed = CP._bucket(df, ["cell_id"], 8)
    # committed buckets 0-2 (data + manifest), orphan buckets 3-7
    # (data only — as if the crash hit between the two writes)
    part = bucketed.filter(F.col("bucket") < 3)
    part.write.partitionBy("bucket").parquet(path)
    CP.manifest_of(part, ["cell_id"]).write.parquet(path + "/_manifest")
    (bucketed.filter(F.col("bucket") >= 3)
     .write.mode("append").partitionBy("bucket").parquet(path))
    assert spark.read.parquet(path).count() == 1000  # orphans on disk

    out = CP.run_stage(df, path, ["cell_id"], n_buckets=8)
    assert out["skipped"] == 3 and out["written"] == 5
    assert spark.read.parquet(path).count() == 1000  # NOT 1000 + orphans
    audit = CP.verify_stage(spark, path, ["cell_id"])
    assert audit.filter(~F.col("ok")).count() == 0


def test_verify_flags_orphans_as_false_not_null(spark, tmp_path):
    """Data-only and manifest-only buckets leave one side of the full
    outer join NULL; ok must coalesce to False so filter(~ok) sees
    them (NULL would slip past the audit)."""
    path = str(tmp_path / "stage6")
    df = _df(spark)
    bucketed = CP._bucket(df, ["cell_id"], 8)
    # manifest rows for buckets 0-4, data for buckets 2-7:
    #   0-1 manifest-only, 5-7 data-only, 2-4 consistent
    (bucketed.filter(F.col("bucket") >= 2)
     .write.partitionBy("bucket").parquet(path))
    (CP.manifest_of(bucketed.filter(F.col("bucket") <= 4), ["cell_id"])
     .write.parquet(path + "/_manifest"))
    audit = CP.verify_stage(spark, path, ["cell_id"])
    bad = {r["bucket"] for r in audit.filter(~F.col("ok")).collect()}
    assert bad == {0, 1, 5, 6, 7}
    assert audit.filter(F.col("ok").isNull()).count() == 0


def test_verify_detects_corruption(spark, tmp_path):
    path = str(tmp_path / "stage4")
    CP.run_stage(_df(spark), path, ["cell_id"], n_buckets=4)
    # corrupt: append extra rows to the data without touching manifest
    extra = CP._bucket(_df(spark, n=5, start=5000), ["cell_id"], 4)
    extra.write.mode("append").partitionBy("bucket").parquet(path)
    audit = CP.verify_stage(spark, path, ["cell_id"])
    assert audit.filter(~F.col("ok")).count() > 0


def test_verify_detects_one_changed_pixel(spark, tmp_path):
    """The manifest hash covers array contents: rewriting one pixel of
    a stored `px` array (same rows, same keys) fails that bucket's
    audit and only that bucket's."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = str(tmp_path / "stage7")
    rows = [(ty, tx, [float(ty * 8 + tx + i) for i in range(16)])
            for ty in range(4) for tx in range(4)]
    tiles = spark.createDataFrame(rows, "tile_y int, tile_x int, px array<double>")
    CP.run_stage(tiles, path, ["tile_y", "tile_x"], n_buckets=4)
    target = sorted(glob.glob(f"{path}/bucket=*/*.parquet"))[0]
    table = pq.read_table(target)
    px = table.column("px").to_pylist()
    px[0][5] += 1.0
    table = table.set_column(table.schema.get_field_index("px"),
                             table.schema.field("px"), [px])
    pq.write_table(table, target)
    # the local Hadoop FS would reject the rewrite by its stale checksum
    os.remove(os.path.join(os.path.dirname(target),
                           f".{os.path.basename(target)}.crc"))
    bucket = int(target.split("bucket=")[1].split("/")[0])
    audit = CP.verify_stage(spark, path, ["tile_y", "tile_x"])
    assert {r["bucket"] for r in audit.filter(~F.col("ok")).collect()} == {bucket}
    assert audit.filter(F.col("a_rows") != F.col("n_rows")).count() == 0


def _files(path) -> list[str]:
    """Every file under `path`, relative, without Hadoop checksums."""
    return sorted(os.path.relpath(os.path.join(d, f), path)
                  for d, _, names in os.walk(path) for f in names
                  if not f.endswith(".crc"))


def test_empty_input_commits_nothing(spark, tmp_path):
    """Empty input on a fresh path: no data and no manifest file (only
    the committer's _SUCCESS marker), and a re-run does the same."""
    path = str(tmp_path / "stage_empty")
    for _ in range(2):
        out = CP.run_stage(_df(spark).filter(F.col("v") < 0), path,
                           ["cell_id"], n_buckets=8)
        assert out == {"written": 0, "skipped": 0}
        assert _files(path) == ["_SUCCESS"]


def test_resume_into_committed_buckets_writes_nothing(spark, tmp_path):
    """A partial resume whose input hashes only into committed buckets
    writes no data file and no manifest file."""
    path = str(tmp_path / "stage_committed")
    bucketed = CP._bucket(_df(spark), ["cell_id"], 8)
    part = bucketed.filter(F.col("bucket") < 3)
    part.write.partitionBy("bucket").parquet(path)
    CP.manifest_of(part, ["cell_id"]).write.parquet(path + "/_manifest")
    before = _files(path)

    out = CP.run_stage(part.drop("bucket"), path, ["cell_id"], n_buckets=8)
    assert out == {"written": 0, "skipped": 3}
    assert _files(path) == before
    assert spark.read.parquet(path).count() == part.count()


def test_verify_string_keyed_stage(spark, tmp_path):
    """The manifest's key range is read with the data's key type."""
    path = str(tmp_path / "stage_str")
    df = _df(spark).withColumn("name", F.format_string("k%05d", "cell_id"))
    CP.run_stage(df, path, ["name"], n_buckets=4)
    audit = CP.verify_stage(spark, path, ["name"])
    assert dict(audit.dtypes)["key_lo"] == "string"
    rows = audit.collect()
    assert len(rows) == 4 and all(r["ok"] for r in rows)
    assert min(r["key_lo"] for r in rows) == "k00000"
    assert max(r["key_hi"] for r in rows) == "k00999"


def test_manifest_equals_manifest_of_at_64_buckets(spark, tmp_path):
    """The committed manifest of a default-size (64-bucket) stage is
    exactly manifest_of over its bucketed input."""
    path = str(tmp_path / "stage64")
    df = _df(spark, n=5000)
    out = CP.run_stage(df, path, ["cell_id"])
    assert out == {"written": 64, "skipped": 0}
    got = spark.read.parquet(path + "/_manifest").collect()
    want = CP.manifest_of(CP._bucket(df, ["cell_id"], 64), ["cell_id"]).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
