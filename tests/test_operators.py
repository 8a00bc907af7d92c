"""Operator-level tests: PIP join paths agree with each other and with
a numpy oracle; dedup/similarity behave per spec; the byte-identical
text invariant holds end-to-end."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.geo import geom, wkb
from gdal_spark.operators import dedup, pip_join, similarity
from gdal_spark.sources import admin, pages


def _oracle_hits(pdf, rings) -> set[tuple[int, int]]:
    """(doc_id, poly_id) pairs from the numpy even-odd kernel, one
    ring per polygon: [(poly_id, closed ring)]."""
    lon, lat = pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
    docs = pdf["doc_id"].to_numpy()
    return {(int(d), pid) for pid, ring in rings
            for d in docs[geom.points_in_ring(lon, lat, ring)]}


def _assert_modes_match_oracle(pts, polys, rings) -> None:
    """All four join modes against the numpy oracle: inner/left as
    (doc_id, poly_id) sets, semi/anti as doc_id sets."""
    pdf = pts.toPandas()
    pairs = _oracle_hits(pdf, rings)
    assert pairs, "fixture should produce matches"
    hit = {d for d, _ in pairs}
    miss = {int(d) for d in pdf["doc_id"]} - hit
    want = {"inner": pairs, "left": pairs | {(d, None) for d in miss},
            "semi": hit, "anti": miss}
    for how, expected in want.items():
        rows = pip_join.pip_join_broadcast(pts, polys, how=how).collect()
        if how in ("inner", "left"):
            got = {(r["doc_id"], r["poly_id"]) for r in rows}
        else:
            got = {r["doc_id"] for r in rows}
            assert len(rows) == len(got), f"mode {how}: a point emitted twice"
        assert got == expected, f"mode {how}"


def test_pip_broadcast_matches_numpy_oracle(spark, sf_dir):
    pts = pages.page_points(spark, sf_dir).select("doc_id", "lon", "lat")
    rings = [(pid, ring) for pid, _, ring in admin.admin_rings()]
    _assert_modes_match_oracle(pts, admin.admin_df(spark), rings)


def _plan_ops(df) -> list[str]:
    """Operator names of df's executed (final adaptive) plan, top-down."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return [m.group() for ln in plan.toString().splitlines()
            if (m := re.match(r"[A-Za-z]\w*", ln.lstrip(" :+-|*()0123456789")))]


def test_pip_broadcast_plan_shape(spark, sf_dir, monkeypatch):
    """The plan plan_audit check 3 and the benchmark's pip_join.* layer
    metrics read: for inner/semi the codegen bbox Filter feeds ONE
    MapInPandas; left/anti send every point to that MapInPandas. Each
    mode scans the points source once, with no Union. The polygons are
    collected and broadcast once per call."""
    from pyspark import SparkContext

    pts = pages.page_points(spark, sf_dir).select("doc_id", "lon", "lat")
    polys = admin.admin_df(spark)
    calls = {"collect": 0, "broadcast": 0}

    def counting(name, fn):
        def wrapped(*a, **k):
            calls[name] += 1
            return fn(*a, **k)
        return wrapped

    frame = type(polys)
    monkeypatch.setattr(frame, "collect", counting("collect", frame.collect))
    monkeypatch.setattr(SparkContext, "broadcast",
                        counting("broadcast", SparkContext.broadcast))
    joins = {how: pip_join.pip_join_broadcast(pts, polys, how=how)
             for how in ("inner", "semi", "left", "anti")}
    assert calls == {"collect": 4, "broadcast": 4}
    monkeypatch.undo()

    for how, df in joins.items():
        ops = _plan_ops(df)
        assert ops.count("MapInPandas") == 1, (how, ops)
        assert ("Filter" in ops) == (how in ("inner", "semi")), (how, ops)
        assert sum(op.endswith("Scan") for op in ops) == 1, (how, ops)
        assert "Union" not in ops, (how, ops)


def test_pip_broadcast_rejects_unknown_how(spark, sf_dir):
    """An unknown join mode raises when the join is built, on both
    sides of the 256-polygon prefilter cut."""
    pts = pages.page_points(spark, sf_dir).select("doc_id", "lon", "lat")
    for n_polys in (24, 300):
        with pytest.raises(ValueError, match="'outer'"):
            pip_join.pip_join_broadcast(
                pts, admin.admin_df(spark, n_polys), how="outer")


def test_pip_shuffle_equals_broadcast(spark, sf_dir):
    pts = pages.page_points(spark, sf_dir).select("doc_id", "lon", "lat", "cell_id")
    polys = admin.admin_df(spark)
    b = {(r["doc_id"], r["poly_id"])
         for r in pip_join.pip_join_broadcast(pts, polys).collect()}
    s = {(r["doc_id"], r["poly_id"])
         for r in pip_join.pip_join_shuffle(pts, polys).collect()}
    assert b == s
    # salted path identical too
    salt = pip_join.hot_cells(pts, threshold=1)
    assert salt, "test fixture should produce hot cells at threshold=1"
    s2 = {(r["doc_id"], r["poly_id"])
          for r in pip_join.pip_join_shuffle(pts, polys, salt_map=salt).collect()}
    assert b == s2


def test_salting_balances_hot_cells(spark, sf_dir):
    """North-rule skew evidence: after salting, no (cell, salt) group
    exceeds ceil(cell_rows / n_salt) + slack — the expensive exact-test
    stage is balanced across tasks."""
    from pyspark.sql import functions as F

    pts = pages.page_points(spark, sf_dir).select("doc_id", "lon", "lat", "cell_id")
    salt_map = pip_join.hot_cells(pts, threshold=1)
    assert salt_map
    items = [(int(c), int(n)) for c, n in salt_map.items()]
    salt_df = spark.createDataFrame(items, "cell_id long, n_salt int")
    salted = (pts.join(F.broadcast(salt_df), "cell_id")
              .withColumn("salt", F.pmod(F.xxhash64("lon", "lat"),
                                         F.col("n_salt")).cast("int")))
    per_group = (salted.groupBy("cell_id", "salt", "n_salt")
                 .agg(F.count(F.lit(1)).alias("n")).collect())
    per_cell = {}
    for r in per_group:
        per_cell.setdefault(r["cell_id"], []).append(r)
    for cell, rows in per_cell.items():
        total = sum(r["n"] for r in rows)
        n_salt = rows[0]["n_salt"]
        fair = -(-total // n_salt)
        # hash balance: allow 3x the fair share + small absolute slack
        assert max(r["n"] for r in rows) <= 3 * fair + 4, \
            f"cell {cell}: {total} rows over {n_salt} salts, " \
            f"worst group {max(r['n'] for r in rows)}"


def test_pip_grid_index_matches_naive(spark, sf_dir):
    """Above INDEX_THRESHOLD polygons the broadcast path probes the
    bucket-grid bbox index instead of looping every polygon; past 256
    it also skips the codegen bbox prefilter. Both must still match the
    naive numpy oracle in every join mode."""
    from pyspark.sql import types as T

    from gdal_spark.geo import wkb as W

    rings, rows = [], []
    for i in range(300):  # > 256 > INDEX_THRESHOLD
        cx = ((i * 47) % 340) - 170.0
        cy = ((i * 31) % 140) - 70.0
        r = 2.0 + (i % 7)
        ang = np.linspace(0, 2 * np.pi, 6, endpoint=False) + i * 0.1
        ring = np.column_stack([cx + r * np.cos(ang), cy + 0.8 * r * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])
        rings.append((i, ring))
        rows.append((i, bytearray(W.polygon([ring]))))
    polys = spark.createDataFrame(rows, T.StructType([
        T.StructField("poly_id", T.IntegerType()),
        T.StructField("geom", T.BinaryType())]))
    pts = pages.page_points(spark, sf_dir).select("doc_id", "lon", "lat")
    _assert_modes_match_oracle(pts, polys, rings)


def test_pip_left_semi_anti(spark, sf_dir):
    pts = pages.page_points(spark, sf_dir).select("doc_id", "lon", "lat")
    polys = admin.admin_df(spark)
    inner = pip_join.pip_join_broadcast(pts, polys, how="inner")
    left = pip_join.pip_join_broadcast(pts, polys, how="left")
    semi = pip_join.pip_join_broadcast(pts, polys, how="semi")
    anti = pip_join.pip_join_broadcast(pts, polys, how="anti")
    n_pts = pts.count()
    matched = semi.count()
    assert anti.count() == n_pts - matched
    assert left.filter(F.col("poly_id").isNull()).count() == n_pts - matched
    assert left.count() == inner.count() + (n_pts - matched)
    # semi/anti emit each point at most once
    assert semi.select("doc_id").distinct().count() == matched


def test_cell_partitioned_scan_prunes_files(spark, sf_dir, tmp_path):
    """Spatial predicate -> partition pruning: the bbox scan must read
    strictly fewer files than the full table and return exactly the
    bbox rows."""
    path = str(tmp_path / "pages_by_cell")
    pts = pages.page_points(spark, sf_dir)
    pages.write_cell_partitioned(pts, path)

    bbox = (-30.0, -20.0, 40.0, 35.0)
    pruned = pages.read_cell_pruned(spark, path, *bbox)
    # the pruning proof is in the scan node: the cell_p IN-list must be
    # a PartitionFilter (applied at file listing), not a data Filter
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils \
        .explainString(pruned._jdf.queryExecution(), "formatted")
    pf_line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "cell_p" in pf_line and " IN " in pf_line
    # correctness: same rows as a brute filter over everything
    from pyspark.sql import functions as F
    want = (pts.filter(F.col("lon").between(bbox[0], bbox[2])
                       & F.col("lat").between(bbox[1], bbox[3]))
            .select("doc_id"))
    got = pruned.select("doc_id")
    assert {r["doc_id"] for r in got.collect()} == \
        {r["doc_id"] for r in want.collect()}


def test_minhash_contains_exact_dups(spark, sf_dir):
    """Documents with identical text must always be candidate pairs
    (identical token sets -> identical signatures -> every band
    collides). Fixture has no exact dups, so synthesize them by
    cloning 30 docs under shifted ids."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    clones = (d.filter(F.col("doc_id") % 3 == 0)
              .withColumn("doc_id", F.col("doc_id") + 1000000))
    both = d.unionByName(clones)
    pairs = {(r["a_id"], r["b_id"])
             for r in dedup.minhash_lsh_pairs(both, "doc_id", "text").collect()}
    want = {(r["doc_id"], r["doc_id"] + 1000000)
            for r in d.filter(F.col("doc_id") % 3 == 0).collect()}
    assert want, "fixture subset should be non-empty"
    assert want <= pairs


def test_minhash_shingles(spark, sf_dir):
    """w-shingle MinHash: shared vocabulary with different word ORDER
    must stop colliding once shingles capture sequence (unigram sets
    are order-blind; 3-shingles are not)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    scrambled = "kappa iota theta eta zeta epsilon delta gamma beta alpha"
    d = spark.createDataFrame(
        [(1, base), (2, base), (3, scrambled)], "doc_id long, text string")
    uni = {(r["a_id"], r["b_id"])
           for r in dedup.minhash_lsh_pairs(d, "doc_id", "text",
                                            shingle=1).collect()}
    tri = {(r["a_id"], r["b_id"])
           for r in dedup.minhash_lsh_pairs(d, "doc_id", "text",
                                            shingle=3).collect()}
    assert (1, 2) in uni and (1, 3) in uni  # same token SET collides
    assert (1, 2) in tri and (1, 3) not in tri  # order now distinguishes


def test_minhash_xxhash_same_pairs(spark, sf_dir):
    """Production hash path (hash_fn='xxhash64') vs the md5 oracle
    family: LSH CANDIDATE sets legitimately differ on low-similarity
    borderline buckets (independent hash families, probabilistic
    recall there), but the VERIFIED near-dup pair set — candidates
    filtered by exact n-gram Jaccard — must be identical: both
    families have deterministic full recall at jaccard=1 (identical
    token sets collide in every band) and, on this corpus, at the
    0.7 threshold (measured: 38 pairs each, symdiff 0; everything is
    a fixed function of the fixture, so this is a regression pin,
    not a flaky statistic)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def verified(hash_fn):
        cand = dedup.minhash_lsh_pairs(d, "doc_id", "text", hash_fn=hash_fn)
        j = dedup.ngram_jaccard(d, cand, "doc_id", "text", n=3)
        return {(r["a_id"], r["b_id"])
                for r in j.filter(F.col("jaccard") >= 0.7).collect()}

    v_md5 = verified("md5")
    v_xx = verified("xxhash64")
    assert v_md5, "fixture should contain near-dups"
    assert v_md5 == v_xx


def test_simhash_identical_and_hamming(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    sh = dedup.simhash64(d, "doc_id", "text")
    assert sh.count() == sh.select("doc_id").distinct().count()
    pairs = dedup.simhash_pairs(d, "doc_id", "text", max_hamming=3)
    for r in pairs.collect():
        assert 0 <= r["hamming"] <= 3


def test_ngram_jaccard_bounds_and_self(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    ids = [r["doc_id"] for r in d.select("doc_id").collect()][:6]
    pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "a_id long, b_id long")
    out = dedup.ngram_jaccard(d, pairs, "doc_id", "text", n=3).collect()
    assert len(out) > 0
    for r in out:
        assert 0.0 <= r["jaccard"] <= 1.0


def test_similarity_hof_equals_numpy(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 50 == 0)
    a = {(r["q_id"], r["rank"]): r["neighbor_id"]
         for r in similarity.topk_cosine(e, q, k=5, method="hof").collect()}
    b = {(r["q_id"], r["rank"]): r["neighbor_id"]
         for r in similarity.topk_cosine(e, q, k=5, method="numpy").collect()}
    assert a == b


def test_lsh_topk_recall(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 100 == 0)
    exact = {(r["q_id"], r["neighbor_id"])
             for r in similarity.topk_cosine(e, q, k=5).collect()}
    approx = {(r["q_id"], r["neighbor_id"])
              for r in similarity.lsh_bucketed_topk(e, q, k=5, n_planes=2).collect()}
    recall = len(exact & approx) / len(exact)
    # fixture embeddings are near-random => recall floor is the random
    # bucket-collision rate (~1/4 at 2 planes); similar vectors do better
    assert recall > 0.15


def test_lsh_multiprobe_raises_recall(spark, sf_dir):
    """Multi-probe (flip the smallest-margin sign bits) must strictly
    widen the candidate set: recall is monotone in n_probes and reaches
    brute force when every bucket is probed."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 100 == 0)
    exact = {(r["q_id"], r["neighbor_id"])
             for r in similarity.topk_cosine(e, q, k=5).collect()}

    def recall(n_probes):
        approx = {(r["q_id"], r["neighbor_id"])
                  for r in similarity.lsh_bucketed_topk(
                      e, q, k=5, n_planes=3, n_probes=n_probes).collect()}
        return len(exact & approx) / len(exact)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 + 1e-9 <= r4 + 2e-9
    assert r4 > r1  # probing the Hamming-1 ball must add candidates


def test_ivf_topk_recall_monotone_in_nprobe(spark, sf_dir):
    """IVF inverted lists: recall rises with nprobe and reaches brute
    force when every list is probed."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 100 == 0)
    exact = {(r["q_id"], r["neighbor_id"])
             for r in similarity.topk_cosine(e, q, k=5).collect()}

    def recall(nprobe):
        approx = {(r["q_id"], r["neighbor_id"])
                  for r in similarity.ivf_topk(
                      e, q, k=5, n_centroids=8, nprobe=nprobe).collect()}
        return len(exact & approx) / len(exact)

    r1, r4, r8 = recall(1), recall(4), recall(8)
    assert r1 <= r4 + 1e-9 <= r8 + 2e-9
    assert r8 == 1.0  # all 8 lists probed = exact
    assert r1 > 0.1   # the coarse quantizer is doing real work


def test_text_byte_identity_invariant(spark, sf_dir):
    """North-rule invariant: extracted text per url is byte-identical
    to the source text (html wraps text; decode(html) strips back)."""
    p = pages.pages_from_documents(spark, sf_dir)
    extracted = F.regexp_replace(
        F.decode(F.col("html"), "utf-8"), r"^<html><body>|</body></html>$", "")
    bad = p.withColumn("t2", extracted).filter(
        F.md5(F.encode(F.col("t2"), "utf-8")) != F.md5(F.encode(F.col("text"), "utf-8")))
    assert bad.count() == 0


def test_topk_cosine_numpy_query_broadcast_guard(spark, monkeypatch):
    """The brute-force query-side collect is budget-guarded: past
    MAX_BROADCAST_QUERIES it must raise (pointing at the bucketed
    paths), never collect an unbounded query set onto the driver."""
    import pytest

    from gdal_spark.operators import similarity as S

    emb = spark.range(20).selectExpr(
        "id AS vec_id",
        "array(CAST(id AS DOUBLE), 1.0, 2.0) AS embedding")
    monkeypatch.setattr(S, "MAX_BROADCAST_QUERIES", 5)
    with pytest.raises(ValueError, match="lsh_bucketed_topk"):
        S.topk_cosine(emb, emb, k=3, method="numpy").collect()
    # under the budget the path still works
    small = emb.filter("vec_id < 4")
    assert S.topk_cosine(emb, small, k=3, method="numpy").count() == 12
