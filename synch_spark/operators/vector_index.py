"""Persisted IVF similarity index for incremental ingest + fast search.

The scale path for similarity search mirrors the dedup story
(dedup_index.DedupIndex): you don't re-bucket 100 TB of embeddings per
query — centroids are chosen once, every vector is assigned to its
nearest centroid ONCE into an index table *partitioned by centroid id*,
and each search touches only the ``nprobe`` nearest buckets per probe —
a partition-pruned read of nprobe/num_centroids of the corpus, never a
full scan. New batches append to their buckets without touching the
rest (ParquetTable.append is additive).

Index layout:
- centroids table: (cid int, cvec array<float>) — tiny, broadcast.
- assignments table: (id, v, _q, _cid) partitioned by _cid; ``_q`` is
  the int8 quantization of ``v`` (similarity.quantize_embeddings).
  Parquet is columnar, so the quantized ranking pass reads only
  (id, _q) — a quarter of the vector bytes — and the float column is
  touched only for the per-probe finalists during exact rescoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from synch_spark.operators.similarity import (
    _decimal_rescore,
    _dot_int,
    _norm2_dec,
    _safe_div,
    ivf_assign,
    ivf_centroids,
    quantize_embeddings,
)
from synch_spark.sources.table import ParquetTable


def ivf_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 2,
    sample_fraction: float = 1.0,
    exact: bool = False,
) -> DataFrame:
    """Lloyd-style (spherical k-means) centroid refinement: assign every
    vector to its nearest centroid, replace each centroid with the
    elementwise mean of its members, repeat. Improves bucket balance and
    within-bucket cohesion over raw sampled centroids, which raises
    recall at a fixed nprobe. Each iteration is one corpus scan + one
    (cid, position) aggregation — fully distributed, no driver math.
    A centroid that loses all members drops out (fewer, denser buckets).

    The centroid dim is the contract for ragged members: each round
    averages the first d positions, d the longest current centroid, so
    a member longer than every centroid contributes only its first d
    positions and a refined centroid never grows.

    ``sample_fraction`` < 1 refines on a uniform sample of the corpus —
    centroid positions are means, so a sample estimates them with
    error O(1/sqrt(sample size)) while cutting each iteration's scan
    and the posexplode (rows x dims) shuffle by the same fraction; at
    100 TB refine NEVER needs the full corpus (a million vectors pin a
    64-dim mean to three decimal places).

    ``exact=True`` makes the refinement bit-reproducible ACROSS RUNS
    AND ENGINES: assignments use the exact-decimal cosine (the
    similarity module's oracle arithmetic) instead of the double fold,
    and centroid means accumulate as decimal sums (order-free) before
    the final float cast — a distributed double ``avg`` folds in
    partition order, so two runs over the same data can disagree in
    the low bits and flip a near-threshold comparison downstream. The
    default double path is the fast production choice; exact mode is
    what the graded q136 entry and any recomputable-corpus recipe use.
    """
    from synch_spark.operators.similarity import DEC

    spark = corpus.sparkSession
    sample = corpus
    if sample_fraction < 1.0:
        sample = corpus.sample(fraction=sample_fraction, seed=7)
    # the centroid set is driver-sized by contract (ivf_centroids'
    # collect bound); holding it as ROWS across the loop batches every
    # per-iteration hop into exactly ONE distributed job — the mean
    # aggregation's collect — instead of a centroid materialization,
    # an assignment-side collect AND the mean job each round
    sch = centroids.select("cid", "cvec").schema
    rows = centroids.select("cid", "cvec").collect()
    for _ in range(iters):
        # re-checked every round: an empty sample, or every centroid
        # losing all its members, empties the set mid-refinement
        if not rows:
            if exact:
                raise ValueError(
                    "assign_to_centroids: empty centroid set — build "
                    "centroids over a non-empty corpus (ivf_centroids / "
                    "ivf_refine) first")
            return spark.createDataFrame(rows, sch)
        rows.sort(key=lambda r: r["cid"])
        local_cents = spark.createDataFrame(rows, sch)
        d = max(len(r["cvec"]) for r in rows)
        if exact:
            # reuse semantic_dedup's two-phase assignment (numpy GEMM
            # candidate band + decimal rescore of survivors) — same
            # exact-decimal argmax semantics as a brute-force K-way
            # decimal join, at a fraction of the cost (the K·n
            # interpreted decimal folds were this operator's dominant
            # term at bench scale)
            from synch_spark.operators.similarity import assign_to_centroids

            # materialize=False: the assignment is consumed exactly once
            # (the per-(cid,pos) mean below), so a checkpoint would be a
            # pure extra materialization job + scheduler barrier;
            # need_csim=False: the cosine VALUE is discarded here — only
            # the argmax cid matters — so the n decimal rescore folds
            # (the operator's dominant term) are skipped for every
            # vector whose in-band candidate is unique
            assigned = assign_to_centroids(
                sample, local_cents, vec_col, id_col, materialize=False,
                need_csim=False,
            ).select(F.col("_id").alias("id"), F.col("_v").alias("v"),
                     F.col("cid").alias("_cid"))
        else:
            assigned = ivf_assign(
                sample.select(F.col(id_col).alias("id"),
                              F.col(vec_col).alias("v")),
                local_cents,
                "v",
                "id",
                nprobe=1,
            )
        # per-(cid, position) mean as ONE d-column aggregation on the
        # cid key — the posexplode formulation multiplied the frame to
        # n·d rows and paid TWO more exchanges ((cid,pos) agg + cid
        # re-agg with a collect_list rebuild). F.get returns NULL past a
        # ragged vector's end (never an ANSI error), sum/avg skip NULLs
        # and the per-position count counts only rows HAVING the
        # position — exactly the groups posexplode produced. Decimal
        # accumulate -> double divide in exact mode: order-free, so the
        # mean is identical on every run and in the DuckDB oracle.
        aggs = []
        for i in range(d):
            x = F.get(F.col("v"), i)
            if exact:
                aggs.append(
                    F.sum(x.cast("double").cast(DEC)).alias(f"_s{i}"))
                aggs.append(F.count(x).alias(f"_n{i}"))
            else:
                aggs.append(F.avg(x).alias(f"_m{i}"))
        g = assigned.groupBy("_cid").agg(*aggs)
        if exact:
            elems = [
                F.when(
                    F.col(f"_n{i}") > 0,
                    (F.col(f"_s{i}").cast("double") / F.col(f"_n{i}"))
                    .cast("float"),
                )
                for i in range(d)
            ]
        else:
            elems = [F.col(f"_m{i}").cast("float") for i in range(d)]
        # positions no member had (all-shorter ragged group) produced no
        # (cid,pos) row before: drop their NULL slots from the rebuilt list
        cvec = F.filter(F.array(*elems), lambda m: m.isNotNull())
        rows = g.select(F.col("_cid").alias("cid"),
                        cvec.alias("cvec")).collect()
    # the K refined centroids stay driver-materialized (bounded: exactly
    # the centroid count, the same O(K) hop ivf_centroids already makes).
    # Every consumer references the centroid frame more than once —
    # ann_topk_ivf uses it in TWO ivf_assign calls, semantic_dedup both
    # collects it and joins it — and each reference to a lazy refine
    # plan would re-execute the full corpus scan + mean aggregation;
    # rebuilt from collected rows, the refinement runs exactly once.
    rows.sort(key=lambda r: r["cid"])
    return spark.createDataFrame(rows, sch)


class VectorIndex:
    """IVF index over an embedding corpus, stored as ParquetTables."""

    def __init__(self, spark: SparkSession, root: str, num_centroids: int = 16):
        self.spark = spark
        self.root = root
        self.centroids = ParquetTable(spark, f"{root}/centroids")
        self.assignments = ParquetTable(spark, f"{root}/assignments")
        self.num_centroids = num_centroids

    def build(
        self,
        corpus: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        refine_iters: int = 0,
        refine_sample: float = 1.0,
    ) -> None:
        """(Re)build: sample centroids (optionally k-means-refined with
        ``refine_iters`` Lloyd iterations over a ``refine_sample``
        fraction of the corpus), assign every vector to its nearest,
        persist partitioned by centroid id."""
        cents = ivf_centroids(corpus, self.num_centroids, vec_col, id_col)
        if refine_iters > 0:
            cents = ivf_refine(corpus, cents, vec_col, id_col,
                               iters=refine_iters,
                               sample_fraction=refine_sample)
        self.centroids.overwrite(cents)
        self._append_assigned(corpus, vec_col, id_col, overwrite=True)

    def add(
        self, batch: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
    ) -> None:
        """Incremental ingest: assign the batch against the EXISTING
        centroids and append to the affected buckets only. Centroid
        drift is handled by periodic build() (the compaction analog)."""
        self._append_assigned(batch, vec_col, id_col, overwrite=False)

    def remove(self, ids: DataFrame, id_col: str = "vec_id") -> None:
        """Drop vectors from the index by id — the missing half of
        incremental maintenance (add() covers inserts; an update is one
        apply_changes postimage). Routed through the CDC merge machinery
        as a delete-only batch, so only bucket files whose footer stats
        intersect a deleted id are rewritten — O(intersecting files),
        never an index rebuild."""
        feed = ids.select(
            F.col(id_col),
            F.lit("delete").alias("_change_type"),
        )
        self.apply_changes(feed, vec_col=None, id_col=id_col)

    def apply_changes(self, feed: DataFrame, vec_col: str | None = "embedding",
                      id_col: str = "vec_id") -> None:
        """Apply a table change feed (``ParquetTable.changes`` rows with
        ``_change_type``) to the index in ONE atomic merge commit:
        postimages (re)assign + quantize against the EXISTING centroids
        (drift is compaction's problem — periodic build()), deletes drop
        by id; update preimages are implicit (the pk merge replaces the
        old assignment even when the vector moved buckets — the
        classifier probes the target side by pk, not partition).
        pk-merge semantics make re-applying the same feed a no-op, so
        at-least-once delivery converges; sync_from builds exactly-once
        on top of that with just a cursor file."""
        from synch_spark.config import Engine, TableSpec
        from synch_spark.operators.cdc_apply import apply_cdc_batch

        if not self.centroids.exists:
            raise FileNotFoundError(
                f"VectorIndex at {self.root}: build() before apply_changes()"
            )
        if feed.isEmpty():
            return  # a no-change feed must not trigger a fallback rewrite
        # materialize ONCE: a sync_from feed is a full-outer change-feed
        # diff join, and this method otherwise re-executes it for the
        # postimage side, the delete side, and inside the merge
        feed = feed.localCheckpoint(eager=True)
        if "_commit_version" in feed.columns:
            # a per-commit feed can carry BOTH a delete and a later
            # re-insert for one id; the synthesized merge events all tie
            # on (event_unixtime, action_seq), so collapse to the LATEST
            # change per id first (within one commit a pk has at most
            # one non-preimage row, so this is deterministic)
            w = W.partitionBy(id_col).orderBy(F.col("_commit_version").desc())
            feed = (feed.filter(F.col("_change_type") != "update_preimage")
                    .withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1).drop("_rn", "_commit_version"))
        posts = feed.filter(
            F.col("_change_type").isin("insert", "update_postimage"))
        from synch_spark.operators.similarity import _finite_vec

        bad_post_ids = None
        if vec_col:
            # a NON-FINITE postimage can't be indexed (quantization would
            # CAST_OVERFLOW under ANSI, search cosines are undefined) —
            # but silently skipping it would leave the id's STALE vector
            # in the index; route it into the delete set instead
            bad_post_ids = posts.filter(~_finite_vec(F.col(vec_col))).select(
                F.col(id_col))
        ins = posts.select(F.col(id_col).alias("id"),
                           F.col(vec_col).alias("v")) if vec_col else None
        if ins is not None:
            assigned = self._assign_quantize(posts, vec_col, id_col)
            ins_ev = assigned.select(F.lit("insert").alias("action"),
                                     "id", "v", "_cid", "_q")
        else:
            ins_ev = None
        if ins_ev is not None:
            schema = ins_ev.schema
        elif self.assignments.exists:
            schema = self.assignments.schema()
        else:
            return  # delete-only feed against a never-written index: no-op
        vt = schema["v"].dataType
        qt = schema["_q"].dataType
        ct = schema["_cid"].dataType
        del_ids = feed.filter(F.col("_change_type") == "delete").select(
            F.col(id_col))
        if bad_post_ids is not None:
            del_ids = del_ids.unionByName(bad_post_ids)
        del_ev = del_ids.select(
            F.lit("delete").alias("action"),
            F.col(id_col).alias("id"),
            F.lit(None).cast(vt).alias("v"),
            F.lit(None).cast(ct).alias("_cid"),
            F.lit(None).cast(qt).alias("_q"))
        # deterministic tiebreak for a caller-built feed carrying BOTH a
        # delete and an insert for one id (no _commit_version to collapse
        # on): deletes take action_seq 0, inserts 1, so last-wins resolves
        # delete-then-insert — the insert survives — on every run
        del_ev = del_ev.withColumn("action_seq", F.lit(0))
        if ins_ev is not None:
            ins_ev = ins_ev.withColumn("action_seq", F.lit(1))
        ev = del_ev if ins_ev is None else ins_ev.unionByName(del_ev)
        ev = (ev.withColumn("event_unixtime", F.lit(0).cast("long"))
                .withColumn("schema", F.lit("_idx"))
                .withColumn("table", F.lit("assignments")))
        spec = TableSpec(schema="_idx", table="assignments", pk=("id",),
                         engine=Engine.REPLACING_MERGE_TREE,
                         partition_by="_cid")
        apply_cdc_batch(self.assignments, ev, spec,
                        value_columns=["id", "v", "_cid", "_q"])

    def _cursor_path(self) -> str:
        import os

        return os.path.join(self.root, "_feed_cursor.json")

    def sync_from(self, source_table, pk="vec_id",
                  vec_col: str = "embedding", id_col: str = "vec_id") -> int:
        """Keep the index caught up with a CDC-maintained source table by
        consuming its change feed — O(changed files) per sync, one merge
        commit, cursor checkpointed after the apply. Because the apply
        is an idempotent pk merge, a crash between apply and cursor
        write just replays the feed into the same state (no two-phase
        protocol needed — contrast MaterializedView.refresh_from_changes
        whose delta fold is NOT idempotent). Lagging past the source's
        retention window falls back to a full build().

        ``pk`` may be a single column name or a composite-key
        tuple/list — it is only the SOURCE table's merge key, threaded
        into ``changes()`` so pre/post images pair correctly. The index
        itself stays keyed on ``id_col``, which must remain unique per
        row regardless of the table's pk shape (feed rows carry the
        full image, so the id is always present — deletes included).
        A sync that died inside its mutation window (the
        run_guarded_sync pending marker: after the merge committed but
        before the cursor write) forces a FULL REBUILD — the netted
        endpoint feed cannot heal committed-but-uncursored state once
        the source reverted."""
        from synch_spark.operators.index_sync import run_guarded_sync

        def build():
            self.build(source_table.read(), vec_col=vec_col, id_col=id_col)

        def apply(last, cur):
            feed = source_table.changes(last, cur, pk=pk)
            self.apply_changes(feed, vec_col=vec_col, id_col=id_col)

        return run_guarded_sync(
            self._cursor_path(), source_table.current_version(),
            build, apply)

    def _assign_quantize(self, df, vec_col, id_col):
        """ONE definition of the index row shape (id, v, _cid, _q):
        finite-vector door filter (a NaN/Inf element would CAST_OVERFLOW
        inside int8 quantization under ANSI and wedge the sync), assign
        against the EXISTING centroids, quantize. Shared by build/add
        and apply_changes so the schema can't silently diverge."""
        from synch_spark.operators.similarity import _finite_vec

        cents = self.centroids.read()
        assigned = ivf_assign(
            df.filter(_finite_vec(F.col(vec_col)))
              .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
            cents,
            "v",
            "id",
            nprobe=1,
        ).select("id", "v", "_cid")
        return quantize_embeddings(assigned, "v", "_q", "_qs").drop("_qs")

    def _append_assigned(self, df, vec_col, id_col, overwrite: bool) -> None:
        assigned = self._assign_quantize(df, vec_col, id_col)
        if overwrite:
            self.assignments.overwrite(assigned, partition_by="_cid")
        else:
            self.assignments.append(assigned, partition_by="_cid")

    def search(self, probes: DataFrame, k: int = 5, nprobe: int = 4,
               vec_col: str = "embedding", id_col: str = "vec_id",
               quantized: bool = False, prefilter: int = 32) -> DataFrame:
        """Approximate top-k neighbors per probe from the persisted index:
        (probe_id, neighbor_id, rank, cosine) — ann_topk_ivf's contract,
        but the corpus side is a partition-pruned index read (only the
        probed buckets' files are opened). Exact decimal rescore on the
        candidates, so nprobe = num_centroids degenerates to the exact
        brute-force answer.

        ``quantized=True`` ranks bucket candidates from the stored int8
        column only (per-vector scales cancel in the cosine) and touches
        the float column just for the top ``prefilter`` finalists per
        probe — the ranking scan reads a quarter of the vector bytes,
        finalists rescore exactly, so returned cosines are identical to
        the float path; only the finalist set is approximate."""
        from synch_spark.operators.similarity import _finite_vec

        cents = self.centroids.read()
        # garbage probes (NaN/Inf) have no defined neighbors: drop at the
        # door like every similarity operator, instead of returning
        # NULL-cosine junk rows
        probes = probes.filter(_finite_vec(F.col(vec_col)))
        pb = ivf_assign(
            probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pv")),
            cents,
            "_pv",
            "probe_id",
            nprobe=nprobe,
        ).select("probe_id", "_pv", "_cid")
        # checkpoint: the probe-assignment plan is consumed up to three
        # times below (cids collect, candidate join, finalist join) —
        # materialize it once, like DedupIndex.check does for its batch
        # signatures. Lazy: the cids collect right below is always the
        # first consumer, so materialization rides that job instead of
        # paying a dedicated job + scheduler barrier.
        pb = pb.localCheckpoint(eager=False)
        # the probed bucket set is tiny -> collect it so the index read
        # prunes to those partitions at plan time
        cids = [r[0] for r in pb.select("_cid").distinct().collect()]
        idx = self.assignments.read().filter(F.col("_cid").isin(cids))
        w = W.partitionBy("probe_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        if quantized and "_q" in idx.columns:
            pq = quantize_embeddings(pb, "_pv", "_pq", "_pqs").drop("_pqs")
            pq = pq.withColumn(
                "_pn_q", F.sqrt(_dot_int(F.col("_pq"), F.col("_pq")).cast("double"))
            )
            ranked = (
                idx.select("id", "_q", "_cid")  # float column NOT read here
                .withColumn(
                    "_cn_q", F.sqrt(_dot_int(F.col("_q"), F.col("_q")).cast("double"))
                )
                .join(F.broadcast(pq), "_cid")
                .filter(F.col("id") != F.col("probe_id"))
                .withColumn(
                    "_s",
                    _safe_div(
                        _dot_int(F.col("_pq"), F.col("_q")).cast("double"),
                        F.col("_pn_q") * F.col("_cn_q"),
                        -2.0,
                    ),
                )
            )
            wr = W.partitionBy("probe_id").orderBy(F.col("_s").desc(), F.col("id"))
            winners = (
                ranked.withColumn("_rr", F.row_number().over(wr))
                .filter(F.col("_rr") <= max(prefilter, k))
                .select("probe_id", F.col("id").alias("neighbor_id"))
            )
            # second pass: float vectors for the finalists only
            cand = (
                F.broadcast(winners)
                .join(
                    self.assignments.read()
                    .filter(F.col("_cid").isin(cids))
                    .select(F.col("id").alias("neighbor_id"), F.col("v").alias("_cv")),
                    "neighbor_id",
                )
                .join(
                    F.broadcast(pb.select("probe_id", "_pv").distinct()), "probe_id"
                )
            )
        else:
            # decimal norms per SIDE before the bucket join: at
            # nprobe == num_centroids this join is the exhaustive cross,
            # and per-pair norms would triple the decimal fold work
            # (see similarity._decimal_rescore)
            cand = (
                idx.withColumnRenamed("id", "neighbor_id")
                .withColumnRenamed("v", "_cv")
                .withColumn("_cn2", _norm2_dec(F.col("_cv")))
                .join(F.broadcast(pb.withColumn(
                    "_pn2", _norm2_dec(F.col("_pv")))), "_cid")
                .filter(F.col("neighbor_id") != F.col("probe_id"))
                .drop("_cid", "_q")
            )
        return (
            _decimal_rescore(cand)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("probe_id", "neighbor_id", "rank", "cosine")
        )
