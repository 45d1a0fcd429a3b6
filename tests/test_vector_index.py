"""Persisted IVF vector index: exactness at full probe, recall at partial
probe, incremental add, and partition-pruned bucket reads."""

from __future__ import annotations

from pyspark.sql import functions as F

from synch_spark.operators.similarity import cosine_topk
from synch_spark.operators.vector_index import VectorIndex
from synch_spark.session import read_table
import pytest

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return read_table(spark, SF_DIR, "embeddings")


def test_full_probe_equals_exact(spark, tmp_path):
    emb = _emb(spark)
    idx = VectorIndex(spark, str(tmp_path / "ivf"), num_centroids=8)
    idx.build(emb)
    probes = emb.filter(F.col("vec_id") < 5)
    got = idx.search(probes, k=5, nprobe=8)
    want = cosine_topk(emb, probes, k=5)
    as_set = lambda df: {
        (r["probe_id"], r["neighbor_id"], r["rank"]) for r in df.collect()
    }
    assert as_set(got) == as_set(want)


def test_partial_probe_recall(spark, tmp_path):
    emb = _emb(spark)
    idx = VectorIndex(spark, str(tmp_path / "ivf"), num_centroids=8)
    idx.build(emb)
    probes = emb.filter(F.col("vec_id") < 10)
    got = {
        (r["probe_id"], r["neighbor_id"])
        for r in idx.search(probes, k=5, nprobe=4).collect()
    }
    want = {
        (r["probe_id"], r["neighbor_id"])
        for r in cosine_topk(emb, probes, k=5).collect()
    }
    recall = len(got & want) / len(want)
    assert recall >= 0.5, recall  # random embeddings; half the buckets probed


def test_incremental_add_is_searchable(spark, tmp_path):
    emb = _emb(spark)
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    idx = VectorIndex(spark, str(tmp_path / "ivf"), num_centroids=8)
    idx.build(old)
    idx.add(new)
    probes = emb.filter(F.col("vec_id") < 3)
    res = idx.search(probes, k=50, nprobe=8)
    found = {r["neighbor_id"] for r in res.collect()}
    assert any(n % 2 == 1 for n in found)  # added vectors are reachable
    n_old, n_new = old.count(), new.count()
    assert idx.assignments.count() == n_old + n_new


@pytest.mark.slow
def test_refined_build_full_probe_is_exact(spark, tmp_path):
    """k-means refinement changes the bucketing, never the full-probe
    answer: probing every bucket + exact rescore is bucket-agnostic."""
    emb = _emb(spark)
    idx = VectorIndex(spark, str(tmp_path / "ivf"), num_centroids=8)
    idx.build(emb, refine_iters=2)
    n_cents = idx.centroids.count()
    assert 1 <= n_cents <= 8
    # refined centroids keep the corpus dimensionality
    dim = len(emb.select("embedding").first()[0])
    cdim = idx.centroids.read().select(F.size("cvec").alias("d")).distinct().collect()
    assert [r["d"] for r in cdim] == [dim]
    # every vector is still indexed exactly once
    assert idx.assignments.count() == emb.count()
    probes = emb.filter(F.col("vec_id") < 5)
    got = idx.search(probes, k=5, nprobe=n_cents)
    want = cosine_topk(emb, probes, k=5)
    as_set = lambda df: {
        (r["probe_id"], r["neighbor_id"], r["rank"]) for r in df.collect()
    }
    assert as_set(got) == as_set(want)


def test_quantized_search_matches_float_path(spark, tmp_path):
    """int8-ranked index search at full probe: high recall vs the exact
    operator, identical cosines on shared pairs (rescore is float), and
    the ranking scan reads the int8 column, not the float vectors."""
    emb = _emb(spark)
    idx = VectorIndex(spark, str(tmp_path / "ivf"), num_centroids=8)
    idx.build(emb)
    assert "_q" in idx.assignments.read().columns
    n_cents = idx.centroids.count()
    probes = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, probes, k=5)
    quant = idx.search(probes, k=5, nprobe=n_cents, quantized=True)
    e = {(r["probe_id"], r["neighbor_id"]): r["cosine"] for r in exact.collect()}
    q = {(r["probe_id"], r["neighbor_id"]): r["cosine"] for r in quant.collect()}
    shared = set(e) & set(q)
    assert len(shared) / len(e) >= 0.9
    assert all(e[p] == q[p] for p in shared)


def test_search_reads_only_probed_buckets(spark, tmp_path):
    """The index read must partition-prune to the probed cids."""
    emb = _emb(spark)
    idx = VectorIndex(spark, str(tmp_path / "ivf"), num_centroids=8)
    idx.build(emb)
    pruned = idx.assignments.read().filter(F.col("_cid").isin([0, 1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_cid" in plan
    assert pruned.select("_cid").distinct().count() <= 2


def test_remove_drops_only_named_ids(spark, tmp_path):
    """remove() is the delete half of incremental maintenance: the
    named ids vanish from search and storage; everything else stays."""
    emb = _emb(spark)
    idx = VectorIndex(spark, str(tmp_path / "ivf"), num_centroids=8)
    idx.build(emb)
    n = idx.assignments.count()
    gone = emb.filter(F.col("vec_id") < 10).select("vec_id")
    idx.remove(gone)
    assert idx.assignments.count() == n - 10
    probes = emb.filter(F.col("vec_id").isin(20, 21))
    found = {r["neighbor_id"]
             for r in idx.search(probes, k=50, nprobe=8).collect()}
    assert not (found & set(range(10))), "removed ids still searchable"


@pytest.mark.slow
def test_apply_changes_update_moves_bucket_and_is_idempotent(spark, tmp_path):
    """An update postimage replaces the old assignment even when the new
    vector lands in a DIFFERENT bucket (no duplicate rows), and
    re-applying the same feed is a no-op (at-least-once safety)."""
    emb = _emb(spark)
    idx = VectorIndex(spark, str(tmp_path / "ivf"), num_centroids=8)
    idx.build(emb)
    n = idx.assignments.count()
    # move vec 7 onto vec 450's embedding: near-certain bucket change
    target = emb.filter(F.col("vec_id") == 450).select(
        F.lit(7).cast("long").alias("vec_id"), "embedding")
    feed = target.withColumn("_change_type", F.lit("update_postimage"))
    idx.apply_changes(feed)
    assert idx.assignments.count() == n
    assert idx.assignments.read().filter("id = 7").count() == 1
    got = idx.assignments.read().filter("id = 7").select("_cid").collect()
    want = idx.assignments.read().filter("id = 450").select("_cid").collect()
    assert got[0]["_cid"] == want[0]["_cid"], "update did not re-bucket"
    idx.apply_changes(feed)  # replay
    assert idx.assignments.count() == n
    assert idx.assignments.read().filter("id = 7").count() == 1
    # the moved vector is now its target's nearest neighbor
    probe = emb.filter(F.col("vec_id") == 450)
    top = idx.search(probe, k=1, nprobe=8).collect()
    assert top[0]["neighbor_id"] == 7


@pytest.mark.slow
def test_sync_from_change_feed(spark, tmp_path):
    """Index follows a CDC-maintained table: build at v0 via sync, merge
    deletes+updates into the table, sync again — the index reflects the
    new state and the cursor makes the second sync incremental."""
    from synch_spark.config import Engine, TableSpec
    from synch_spark.operators.cdc_apply import apply_cdc_batch
    from synch_spark.sources.table import ParquetTable

    emb = _emb(spark)
    spec = TableSpec(schema="db", table="emb", pk=("vec_id",),
                     engine=Engine.REPLACING_MERGE_TREE)
    t = ParquetTable(spark, str(tmp_path / "t"), retain=4)
    t.overwrite(emb.select("vec_id", "embedding").repartitionByRange(8, "vec_id"))

    idx = VectorIndex(spark, str(tmp_path / "ivf"), num_centroids=8)
    v = idx.sync_from(t, pk="vec_id")
    assert v == t.current_version()
    n = idx.assignments.count()

    moved = emb.filter(F.col("vec_id") == 450).select("embedding").collect()[0][0]
    batch = spark.createDataFrame(
        [("delete", 3, None, 1), ("insert", 9, moved, 2)],
        "action string, vec_id long, embedding array<float>, event_unixtime long",
    ).withColumn("action_seq", F.lit(0)) \
     .withColumn("schema", F.lit("db")).withColumn("table", F.lit("emb"))
    apply_cdc_batch(t, batch, spec, value_columns=["vec_id", "embedding"])

    v2 = idx.sync_from(t, pk="vec_id")
    assert v2 == t.current_version() and v2 > v
    assert idx.assignments.count() == n - 1
    assert idx.assignments.read().filter("id = 3").count() == 0
    probe = emb.filter(F.col("vec_id") == 450)
    found = [r["neighbor_id"] for r in idx.search(probe, k=1, nprobe=8).collect()]
    assert found == [9], "updated vector not reassigned by sync"
    # no-op sync: no new index commit
    iv = idx.assignments.current_version()
    idx.sync_from(t, pk="vec_id")
    assert idx.assignments.current_version() == iv


def test_apply_changes_per_commit_feed_delete_then_reinsert(spark, tmp_path):
    """A per-commit feed can carry a delete AND a later re-insert of the
    same id; the synthesized merge events tie on their stamps, so the
    apply must collapse to the LATEST change per id — the id stays
    indexed (and conversely insert-then-delete stays gone)."""
    emb = _emb(spark)
    idx = VectorIndex(spark, str(tmp_path / "ivf"), num_centroids=8)
    idx.build(emb)
    n = idx.assignments.count()
    vec = emb.filter(F.col("vec_id") == 450).select("embedding")
    feed = spark.createDataFrame(
        [(7, None, "delete", 1), (7, vec.collect()[0][0], "insert", 2),
         (8, vec.collect()[0][0], "insert", 1), (8, None, "delete", 2)],
        "vec_id long, embedding array<float>, _change_type string, "
        "_commit_version long",
    )
    idx.apply_changes(feed)
    assert idx.assignments.read().filter("id = 7").count() == 1
    assert idx.assignments.read().filter("id = 8").count() == 0
    assert idx.assignments.count() == n - 1


@pytest.mark.slow
def test_ivf_refine_exact_mode_is_run_reproducible(spark):
    """exact=True: decimal-accumulated means + decimal-cosine
    assignment — two runs (different partition layouts) produce
    bit-identical centroids, and they agree with the double path to
    float tolerance (same math, different fold order)."""
    import math

    from pyspark.sql import functions as F

    from synch_spark.operators.similarity import ivf_centroids
    from synch_spark.operators.vector_index import ivf_refine

    emb = (spark.range(200)
           .select(F.col("id").alias("vec_id"),
                   F.expr("transform(sequence(1, 8), d -> "
                          "CAST(sin(id * d * 0.7) AS FLOAT))")
                   .alias("embedding")))
    seed = ivf_centroids(emb, 4)

    def run(parts):
        out = ivf_refine(emb.repartition(parts), seed, iters=2, exact=True)
        return {r["cid"]: list(r["cvec"]) for r in out.collect()}

    a, b = run(3), run(13)
    assert a == b, "exact mode must not depend on partition layout"
    # double path agrees within float noise
    d = {r["cid"]: list(r["cvec"])
         for r in ivf_refine(emb, seed, iters=2).collect()}
    assert set(d) == set(a)
    for cid in a:
        for x, y in zip(a[cid], d[cid]):
            assert math.isclose(x, y, rel_tol=1e-5, abs_tol=1e-6)


def _seed_centroids(spark, vecs):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "cid int, cvec array<float>")


def test_ivf_refine_empty_later_iteration(spark):
    """A corpus that empties the centroid set after the first round
    (here: an empty corpus, so every centroid loses all its members)
    returns the empty centroid frame in the default mode and raises the
    empty-centroid error in exact mode — never ``max()`` of an empty
    sequence."""
    from synch_spark.operators.vector_index import ivf_refine

    seed = _seed_centroids(spark, [[1.0, 0.0], [0.0, 1.0]])
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert ivf_refine(empty, seed, iters=2).collect() == []
    with pytest.raises(ValueError, match="empty centroid set"):
        ivf_refine(empty, seed, iters=2, exact=True)


def test_ivf_refine_centroid_dim_is_the_ragged_contract(spark):
    """Members longer than every centroid contribute only the centroid's
    positions: the refined centroid keeps the centroid dim."""
    from synch_spark.operators.vector_index import ivf_refine

    seed = _seed_centroids(spark, [[1.0, 0.0]])
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 5.0]), (2, [3.0, 0.0, 7.0])],
        "vec_id long, embedding array<float>")
    out = ivf_refine(emb, seed, iters=1).collect()
    assert [list(r["cvec"]) for r in out] == [[2.0, 0.0]]
