"""Training-data-pipeline query surface: dedup, text analysis, similarity.

North-star extensions beyond the reference (SURVEY §2 scope extension).
Same dual form as relational.py: idiomatic DataFrame program + DuckDB
oracle SQL. Portability choices that make sketch algorithms
oracle-checkable:

- hashes are md5 hex strings (identical in both engines); MinHash uses
  min() over the hex-string ordering;
- regexp_replace carries the 'g' flag in DuckDB (Spark replaces all by
  default);
- dot products / norms fold into DECIMAL(38,12) — exact, associativity-
  free, so SUM order doesn't matter and both engines agree bit-for-bit.
"""

from __future__ import annotations

import weakref

from pyspark.sql import functions as F

from synch_spark.operators import dedup, similarity, text
from synch_spark.plans.relational import DEC, _pin, _t


_SPREAD_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _spread(spark, sf_dir, name):
    """A table spread across cores before CPU-heavy per-row work
    (md5/shingle pipelines for documents, signature/dot-product stages
    for embeddings).

    A small corpus arrives as one parquet file -> one scan partition, and
    every downstream stage would run on a single core. The same applies
    at scale when upstream files are few and large relative to the
    cluster: an explicit round-robin repartition is a cheap one-time
    shuffle of the raw rows that buys full map parallelism. Skipped when
    the scan already has enough splits.

    The decision (and the resulting LAZY plan) is memoized per session:
    ``df.rdd.getNumPartitions()`` compiles the scan to an RDD on the
    driver (~50 ms) and ~60 bench queries would each redo it for the
    same immutable fixture table. Plan-only reuse — every action still
    scans the parquet inputs (see ``_t``).
    """
    cache = _SPREAD_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    df = cache.get(key)
    if df is None:
        df = _t(spark, sf_dir, name)
        want = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < want:
            df = df.repartition(want)
        cache[key] = df
    return df


def _docs(spark, sf_dir):
    return _spread(spark, sf_dir, "documents")


def _emb(spark, sf_dir):
    return _spread(spark, sf_dir, "embeddings")


# boundary-empty tokens filtered in LOCKSTEP with text.tokens() — both
# engines must tokenize identically or every token-based oracle drifts
TOK_SQL = r"list_filter(string_split_regex(text, '\s+'), _t -> _t <> '')"
NORM_SQL = r"trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
# fingerprint mirrors text.fingerprint's non-Latin fallback: an all-
# stripped normalization hashes the RAW text, not '' (see text.py)
FP_SQL = f"md5(CASE WHEN {NORM_SQL} = '' THEN text ELSE {NORM_SQL} END)"
STOP_IN = "(" + ", ".join(f"'{s}'" for s in text.STOPWORDS) + ")"


# --- exact dedup ---------------------------------------------------------
def q16_exact_dedup(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return dedup.duplicate_stats(docs, "text")


Q16_SQL = f"""
SELECT COUNT(*) AS n_docs, COUNT(DISTINCT {FP_SQL}) AS n_unique
FROM documents
"""


# --- text stats ----------------------------------------------------------
def q17_text_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.char_count("text").alias("n_chars_m"),
        text.stopword_count("text").alias("n_stop"),
        text.fingerprint("text").alias("fp"),
    ).orderBy("doc_id")


Q17_SQL = f"""
SELECT doc_id,
       CAST(len({TOK_SQL}) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_m,
       CAST(len(list_filter({TOK_SQL}, t -> t IN {STOP_IN})) AS BIGINT) AS n_stop,
       {FP_SQL} AS fp
FROM documents ORDER BY doc_id
"""


# --- quality + language heuristic ---------------------------------------
def q18_quality_langid(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        text.stopword_ratio("text").alias("stop_ratio"),
        text.quality_score("text").alias("quality"),
        text.lang_guess("text").alias("lang_pred"),
    ).transform(_pin).orderBy("doc_id")


Q18_SQL = f"""
WITH s AS (
  SELECT doc_id,
         CAST(len(list_filter({TOK_SQL}, t -> t IN {STOP_IN})) AS DOUBLE)
           / CAST(len({TOK_SQL}) AS DOUBLE) AS stop_ratio,
         CAST(len({TOK_SQL}) AS DOUBLE) AS n
  FROM documents)
SELECT doc_id, stop_ratio,
       greatest(0.0, least(1.0,
         (least(n / 32.0, 1.0) + (1.0 - abs(stop_ratio - 0.12))) / 2.0)) AS quality,
       CASE WHEN stop_ratio >= 0.08 THEN 'en'
            WHEN stop_ratio >= 0.04 THEN 'en_low'
            ELSE 'unknown' END AS lang_pred
FROM s ORDER BY doc_id
"""


# --- distributed wordcount top-k ----------------------------------------
def q19_token_topk(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        docs.select(F.explode(text.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(20)
    )


Q19_SQL = f"""
SELECT t AS token, COUNT(*) AS cnt
FROM documents, UNNEST({TOK_SQL}) AS u(t)
GROUP BY t ORDER BY cnt DESC, token LIMIT 20
"""


# --- n-gram Jaccard similarity join -------------------------------------
# 3-gram sets: the fixture vocabulary is tiny (~31 words), so unigram
# Jaccard is dense-by-construction (hundreds of thousands of "near-dup"
# pairs); word 3-grams make similarity selective and the inverted-index
# join sparse — the same reason real pipelines shingle before Jaccard.
JACCARD_T = 0.6

# Shared gram CTE block for the inverted-index oracles (q20/q104/q96),
# MIRRORING dedup._gram_overlap's max_df="auto" guard: grams whose
# document frequency exceeds least(max(floor, FLOOR(frac * n_docs)),
# ceil) are dropped from the vocabulary before the join. Spark computes
# the fractional term as (count * 0.001) cast to long (truncation =
# FLOOR for positives); FLOOR here keeps the two engines identical at
# ANY scale factor — inert at fixture scale (max 3-gram df ~7), but if
# a larger fixture ever makes the cap bind, the oracle binds WITH the
# operator instead of silently diverging. The {floor}/{frac}/{ceil}
# placeholders are filled from the operator's own module constants
# (single source of truth).
_GRAM_TOK_CTES_T = """
toks AS (SELECT doc_id, {tok} AS w FROM documents),
tok0 AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS t
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS g(i)
  WHERE len(w) >= 3),
gcap AS (SELECT LEAST(
           GREATEST({floor}, CAST(FLOOR({frac} * COUNT(*)) AS BIGINT)),
           {ceil}) AS cap FROM documents),
gdf AS (SELECT t, COUNT(*) AS df FROM tok0 GROUP BY t),
tok AS (SELECT tok0.doc_id, tok0.t
        FROM tok0 JOIN gdf USING (t), gcap WHERE gdf.df <= gcap.cap)"""


def _gram_tok_ctes() -> str:
    from synch_spark.operators import dedup as _dedup

    return _GRAM_TOK_CTES_T.format(
        tok=TOK_SQL, floor=int(_dedup._AUTO_MAX_DF_FLOOR),
        frac=repr(float(_dedup._AUTO_MAX_DF_FRAC)),
        ceil=int(_dedup._AUTO_MAX_DF_CEIL))


GRAM_TOK_CTES = _gram_tok_ctes()


def q20_jaccard_pairs(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        dedup.jaccard_pairs(
            docs, "text", "doc_id", threshold=JACCARD_T, n=3,
            probe_filter=lambda a: a % 10 == 0,
        )
        .orderBy("a", "b")
    )


Q20_SQL = f"""
WITH {GRAM_TOK_CTES},
sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
  FROM tok x JOIN tok y ON x.t = y.t
  WHERE x.doc_id < y.doc_id AND x.doc_id % 10 = 0
  GROUP BY x.doc_id, y.doc_id)
SELECT a, b, CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= {JACCARD_T}
ORDER BY a, b
"""


# --- MinHash + LSH near-dup candidates ----------------------------------
def q21_minhash_lsh(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return dedup.lsh_candidate_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=4, shingle_n=3
    ).orderBy("a", "b")


def _incr_dedup_index(spark, sf_dir):
    """Session-cached two-phase (build + add) DedupIndex over the
    documents table — the nightly-ingest artifact q118 queries. Like
    q42's ``_ivf_index``, the persisted index is a maintained artifact
    in production (built by an ingest job, amortized over every
    lookup), so the bench warms it in setup and reports the cost under
    ``index_build_s``; the first call in any other session still pays
    and exercises the full build+add path."""
    from synch_spark.session import scratch_dir

    from synch_spark.operators.dedup_index import DedupIndex

    def build():
        docs = _docs(spark, sf_dir)
        idx = DedupIndex(spark, scratch_dir("synchspark-q118-"),
                         num_hashes=8, bands=4, shingle_n=3)
        idx.build(docs.filter(F.col("doc_id") % 2 == 0))
        idx.add(docs.filter(F.col("doc_id") % 2 == 1))
        return idx

    return _INCR_DEDUP_CACHE.get_or_build(spark, sf_dir, build)


def q118_incremental_lsh_parity(spark, sf_dir):
    """The persisted incremental dedup index on the GRADED surface:
    ingest the corpus in two halves (build + add) into a scratch
    DedupIndex, then derive near-dup candidate pairs from the INDEX's
    bucket table alone — no re-shingling, no text access — through the
    same pair expansion as the one-shot path. The oracle is Q21's
    one-shot MinHash-LSH SQL, so hash-equality proves incremental
    ingest ≡ batch build: signatures, banding, and bucket keys all
    survive the persist/append/read round-trip bit-identically. At
    100 TB this is the nightly-ingest shape — only the new batch is
    shingled; history joins in from the band-partitioned store."""
    idx = _incr_dedup_index(spark, sf_dir)
    buckets = idx.table.read().select(
        "id", F.col("band").cast("int").alias("band"), "bucket")
    return dedup.pairs_from_buckets(buckets).orderBy("a", "b")


# shared by Q21 (pair list) and Q39 (pair -> components -> sizes): ONE
# definition so the two oracles can never drift apart on tokenizer,
# seed count, or banding
_LSH_PAIRS_CTE = f"""
toks AS (SELECT doc_id, {TOK_SQL} AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS g(i)
  WHERE len(w) >= 3),
mh AS (
  SELECT doc_id, seed, MIN(md5(seed || ':' || s)) AS h
  FROM sh, (SELECT UNNEST(generate_series(0, 7)) AS seed) seeds
  GROUP BY doc_id, seed),
bands AS (
  SELECT doc_id, seed // 2 AS band, STRING_AGG(h, '|' ORDER BY seed) AS bucket
  FROM mh GROUP BY doc_id, seed // 2),
pairs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.doc_id < y.doc_id)"""

Q21_SQL = f"""
WITH {_LSH_PAIRS_CTE}
SELECT a, b FROM pairs ORDER BY a, b
"""


# --- SimHash signatures --------------------------------------------------
def q22_simhash(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return dedup.simhash16(docs, "text", "doc_id").withColumnRenamed(
        "id", "doc_id"
    ).orderBy("doc_id")


def _simhash_oracle() -> str:
    hexv = (
        "((strpos('0123456789abcdef', substr(hx,1,1))-1)*4096"
        " + (strpos('0123456789abcdef', substr(hx,2,1))-1)*256"
        " + (strpos('0123456789abcdef', substr(hx,3,1))-1)*16"
        " + (strpos('0123456789abcdef', substr(hx,4,1))-1))"
    )
    bits = ", ".join(
        f"SUM(CASE WHEN (v // {2**j}) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(16)
    )
    sig = " + ".join(f"(CASE WHEN b{j} >= 0 THEN {2**j} ELSE 0 END)" for j in range(16))
    return f"""
WITH tok AS (SELECT DISTINCT doc_id, t FROM documents, UNNEST({TOK_SQL}) AS u(t)
             WHERE t <> ''),
h AS (SELECT doc_id, substr(md5(t), 1, 4) AS hx FROM tok),
v AS (SELECT doc_id, {hexv} AS v FROM h),
s AS (SELECT doc_id, {bits} FROM v GROUP BY doc_id)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM s ORDER BY doc_id
"""


Q22_SQL = _simhash_oracle()


# --- embedding brute-force cosine top-k ---------------------------------
def q23_embedding_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, probes, k=5).orderBy("probe_id", "rank")


Q23_SQL = """
WITH p AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
scored AS (
  SELECT pid AS probe_id, cid AS neighbor_id,
    (SELECT SUM(CAST(CAST(z.x AS DOUBLE) * CAST(z.y AS DOUBLE) AS DECIMAL(38,12)))
     FROM (SELECT UNNEST(pe) AS x, UNNEST(ce) AS y) z) AS dot,
    (SELECT SUM(CAST(CAST(z.x AS DOUBLE) * CAST(z.x AS DOUBLE) AS DECIMAL(38,12)))
     FROM (SELECT UNNEST(pe) AS x) z) AS pn,
    (SELECT SUM(CAST(CAST(z.y AS DOUBLE) * CAST(z.y AS DOUBLE) AS DECIMAL(38,12)))
     FROM (SELECT UNNEST(ce) AS y) z) AS cn
  FROM p, c WHERE cid <> pid),
ranked AS (
  SELECT probe_id, neighbor_id,
         CAST(dot AS DOUBLE) / sqrt(CAST(pn AS DOUBLE) * CAST(cn AS DOUBLE)) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY probe_id
           ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(pn AS DOUBLE) * CAST(cn AS DOUBLE)) DESC,
                    neighbor_id) AS rank
  FROM scored)
SELECT probe_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank
"""


# --- ANN exhaustive-parameter gates: with the candidate pruning turned
# off (zero hyperplanes / probe-all-centroids), the approximate
# operators are DEFINED to equal the exact scan — so the exact-operator
# oracle (Q23_SQL) hash-gates their whole scoring/ranking machinery.
# The pruned variants (q24/q42) then differ only in candidate
# generation, which the pytest recall tests cover.
def q98_ann_lsh_exhaustive(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < 10)
    return similarity.ann_topk_lsh(
        emb, probes, k=5, num_planes=0, num_tables=1
    ).orderBy("probe_id", "rank")


def q99_ann_ivf_exhaustive(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < 10)
    # refine_iters=0: with nprobe == num_centroids every bucket is
    # searched, so centroid quality cannot change the output — skip the
    # Lloyd scans the production path spends on recall
    return similarity.ann_topk_ivf(
        emb, probes, k=5, num_centroids=4, nprobe=4, refine_iters=0
    ).orderBy("probe_id", "rank")


def _incr_ivf_index(spark, sf_dir):
    """Session-cached two-phase (build + add) VectorIndex — q119's
    nightly-embedding-ingest artifact, warmed by the bench setup like
    ``_ivf_index``/q42 with the cost under ``index_build_s``."""
    from synch_spark.session import scratch_dir

    from synch_spark.operators.vector_index import VectorIndex

    def build():
        emb = _emb(spark, sf_dir)
        idx = VectorIndex(spark, scratch_dir("synchspark-q119-"),
                          num_centroids=4)
        idx.build(emb.filter(F.col("vec_id") % 2 == 0), refine_iters=0)
        idx.add(emb.filter(F.col("vec_id") % 2 == 1))
        return idx

    return _INCR_IVF_CACHE.get_or_build(spark, sf_dir, build)


def q119_ivf_incremental_exhaustive(spark, sf_dir):
    """The persisted IVF vector index's incremental path on the GRADED
    surface: build a scratch VectorIndex on the even vec_ids, add() the
    odd half against the existing centroids, then search at
    nprobe == num_centroids — which degenerates to the exact answer, so
    the oracle is q23's exact top-k SQL. Hash-equality proves the
    persist/append/read round-trip (centroid assignment, partitioned
    bucket store, int8 column carried, exact decimal rescore) loses
    nothing — the same guarantee q118 gives the dedup index. At 100 TB
    this is the nightly-embedding-ingest shape: only the new batch is
    assigned; history stays in place, partitioned by centroid."""
    idx = _incr_ivf_index(spark, sf_dir)
    probes = _emb(spark, sf_dir).filter(F.col("vec_id") < 10)
    return idx.search(probes, k=5, nprobe=4).transform(_pin).orderBy("probe_id", "rank")


def q24_ann_lsh(spark, sf_dir):
    """LSH ANN with the MULTI-TABLE union path under an exact oracle:
    num_planes=0 makes every table one bucket, so the 8-table signature
    join, cross-table candidate dedup (distinct over joined pairs), and
    exact rescore must reproduce the exhaustive top-k bit-for-bit
    (oracle = Q23_SQL) — the same zero-pruning gate q98 applies to the
    single-table path. The PRUNED candidate generation (planes > 0) is
    recall-tested in tests/test_dataops.py; its scoring/ranking
    machinery is exactly what this entry hash-gates."""
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < 10)
    return similarity.ann_topk_lsh(emb, probes, k=5, num_planes=0, num_tables=8).orderBy(
        "probe_id", "rank"
    )


import threading
import weakref


class _SessionCache:
    """One maintained artifact per (SparkSession, sf_dir) — the shared
    memoization shape of q42's IVF index, q118/q119's incremental
    scratch indexes, and q117's committed time-travel table. Weak-keyed
    by session (id() reuse after GC would hand back an artifact bound
    to a stopped SparkContext). Per-KEY build events: the cache lock
    guards only the dict, never a multi-minute Spark build — a warm hit
    on one sf_dir must not block behind another key's build, and two
    racers on the SAME key dedupe through the placeholder event."""

    def __init__(self) -> None:
        self._store: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
        self._lock = threading.Lock()

    def get_or_build(self, spark, sf_dir, build):
        while True:
            with self._lock:
                per_session = self._store.setdefault(spark, {})
                hit = per_session.get(sf_dir)
                if hit is None:
                    ev = threading.Event()
                    per_session[sf_dir] = ("_building", ev)
                    break
                if isinstance(hit, tuple) and hit[0] == "_building":
                    ev = hit[1]
                else:
                    return hit
            ev.wait()  # another thread is building this key: wait, retry
        try:
            value = build()
        except BaseException:
            with self._lock:
                self._store.setdefault(spark, {}).pop(sf_dir, None)
            ev.set()  # waiters retry (and may rebuild)
            raise
        with self._lock:
            self._store.setdefault(spark, {})[sf_dir] = value
        ev.set()
        return value


_IVF_CACHE = _SessionCache()
_INCR_DEDUP_CACHE = _SessionCache()
_INCR_IVF_CACHE = _SessionCache()
_TT_AUDIT_CACHE = _SessionCache()
_NEEDLE_CACHE = _SessionCache()
_INCR_SEMDEDUP_CACHE = _SessionCache()


def _ivf_index(spark, sf_dir):
    """Session-cached persisted VectorIndex over the embeddings table.
    Built ONCE (centroid sample + one Lloyd refinement + bucket-
    partitioned assignment store) and searched many times — the
    steady-state production shape: at 100 TB the index is a maintained
    artifact (build amortized over every query + incremental ``add``),
    so per-query cost is nprobe partition-pruned bucket reads, not a
    centroid-training corpus scan per query."""
    from synch_spark.session import scratch_dir

    from synch_spark.operators.vector_index import VectorIndex

    def build():
        idx = VectorIndex(spark, scratch_dir("synch-ivf-"),
                          num_centroids=16)
        # refine on a quarter-sample: centroid means converge on a few
        # thousand vectors; the full corpus is still fully assigned
        idx.build(_emb(spark, sf_dir), refine_iters=1, refine_sample=0.25)
        return idx

    return _IVF_CACHE.get_or_build(spark, sf_dir, build)


def q42_ann_ivf(spark, sf_dir):
    """The PERSISTED IVF index's full-build path under an exact oracle:
    searching at nprobe == num_centroids visits every bucket, so the
    16-centroid build (Lloyd refine, centroid assignment, partitioned
    bucket store, int8 quantized column, exact decimal rescore) must
    reproduce the exhaustive top-k bit-for-bit (oracle = Q23_SQL) —
    the q24/q98/q99 zero-pruning gate applied to the maintained-
    artifact index. PRUNED candidate generation (nprobe < centroids)
    is recall-tested in pytest and timed separately by bench.py's
    ann_pruned probe, so round-over-round pruned timings stay
    comparable (ADVICE r10)."""
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") < 10)
    return _ivf_index(spark, sf_dir).search(probes, k=5, nprobe=16).transform(_pin).orderBy(
        "probe_id", "rank"
    )


def q25_multimodal_features(spark, sf_dir):
    from synch_spark.operators import multimodal

    docs = _docs(spark, sf_dir)
    media = multimodal.attach_fake_media(docs, "text")
    return multimodal.extract_features(media, "doc_id").orderBy("id")


# checksum/bytes are deterministic functions of the utf-8 payload, so the
# fake-media pipeline does have an oracle:
Q25_SQL = """
SELECT doc_id AS id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(COALESCE((SELECT SUM(code_point)
             FROM (SELECT UNNEST(string_split(text,'')) ch) s,
                  LATERAL (SELECT unicode(ch) AS code_point) u
             WHERE ch <> ''), 0) % 2147483648 AS BIGINT) AS checksum,
       CAST((length(text) % 640 + 1) AS DOUBLE) / (length(text) % 480 + 1) AS aspect
FROM documents ORDER BY id
"""


# --- BPE-ish tokenization ------------------------------------------------
def q40_bpe_tokens(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        text.bpe_ish_token_count("text").alias("n_bpe"),
        text.token_count("text").alias("n_ws"),
    ).orderBy("doc_id")


Q40_SQL = rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{text.BPE_ISH_RE}')) AS BIGINT) AS n_bpe,
       CAST(len({TOK_SQL}) AS BIGINT) AS n_ws
FROM documents ORDER BY doc_id
"""


# --- winnowing fingerprints ----------------------------------------------
def q41_winnow_fingerprints(spark, sf_dir):
    """MOSS-style winnowed fingerprint count + first fingerprint per doc
    (full sets are verified via the sorted-set hash below)."""
    docs = _docs(spark, sf_dir)
    fp = text.winnow_fingerprints(docs.select("doc_id", "text"), "text", k=8, window=4)
    return fp.select(
        "doc_id",
        F.size("fps").cast("bigint").alias("n_fp"),
        F.md5(F.concat_ws("|", "fps")).alias("fp_set_hash"),
    ).transform(_pin).orderBy("doc_id")


Q41_SQL = f"""
WITH normed AS (SELECT doc_id, {NORM_SQL} AS n FROM documents),
grams AS (
  SELECT doc_id,
         CASE WHEN length(n) >= 8 THEN
           [substr(md5(substr(n, i, 8)), 1, 8)
            for i in generate_series(1, length(n) - 7)]
         ELSE [] END AS g
  FROM normed),
mins AS (
  SELECT doc_id,
         CASE WHEN len(g) >= 4 THEN
           [list_min(g[i:i+3]) for i in generate_series(1, len(g) - 3)]
         ELSE g END AS m
  FROM grams)
SELECT doc_id,
       CAST(len(list_sort(list_distinct(m))) AS BIGINT) AS n_fp,
       md5(list_aggregate(list_sort(list_distinct(m)), 'string_agg', '|')) AS fp_set_hash
FROM mins ORDER BY doc_id
"""


# --- n-gram profile language-ID ------------------------------------------
def q43_ngram_langid(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    scores = text.ngram_lang_scores("text")
    langs = sorted(text.LANG_PROFILES)
    # two-stage: materialize score columns, then argmax over the ATTRIBUTES
    # (inlining the contains-sums into greatest()/when() multiplies the
    # expression tree ~3x per language — codegen compile dominated runtime)
    scored = docs.select(
        "doc_id", *[scores[lang].alias(f"s_{lang}") for lang in langs]
    )
    max_s = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    pred = F.coalesce(
        *[F.when(F.col(f"s_{lang}") == max_s, F.lit(lang)) for lang in langs]
    )
    return scored.select(
        "doc_id",
        F.when(max_s > 0, pred).otherwise(F.lit("unknown")).alias("lang_pred"),
        *[f"s_{lang}" for lang in langs],
    ).transform(_pin).orderBy("doc_id")


def _langid_oracle() -> str:
    score_exprs, case_lines = [], []
    langs = sorted(text.LANG_PROFILES)
    for lang in langs:
        grams = text.LANG_PROFILES[lang]
        hits = " + ".join(
            f"(CASE WHEN contains(' ' || lower(text) || ' ', '{g}') THEN 1 ELSE 0 END)"
            for g in grams
        )
        score_exprs.append(f"CAST(({hits}) AS DOUBLE) / {len(grams)} AS s_{lang}")
    # flat argmax: greatest() + first score equal to it (name-order ties)
    max_s = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    first_match = "COALESCE(" + ", ".join(
        f"CASE WHEN s_{lang} = {max_s} THEN '{lang}' END" for lang in langs
    ) + ")"
    case_lines.append(
        f"CASE WHEN {max_s} > 0 THEN {first_match} ELSE 'unknown' END AS lang_pred"
    )
    cols = ",\n       ".join(case_lines + [f"s_{lang}" for lang in langs])
    return f"""
WITH s AS (SELECT doc_id, {', '.join(score_exprs)} FROM documents)
SELECT doc_id, {cols} FROM s ORDER BY doc_id
"""


Q43_SQL = _langid_oracle()


# --- shared-SQL surface: ONE ANSI string runs on both engines ------------
SHARED_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq
FROM lineitem
WHERE l_quantity > 10
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q44_shared_sql(spark, sf_dir):
    """The SQL API surface: the oracle string itself executed by
    spark.sql — dialect-shared ANSI, zero translation."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(SHARED_SQL)


# --- duplicate clustering: LSH pairs -> connected components -> survivors
def q39_dedup_clusters(spark, sf_dir):
    """End-to-end near-dup dedup: MinHash-LSH candidates -> connected
    components -> per-cluster stats. Fully hash-oracled: the LSH pair
    set is the SQL q21 already pins, and cluster_id = min reachable id
    is deterministic, so DuckDB reproduces the whole chain (pairs ->
    recursive transitive closure -> sizes) value-for-value."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.lsh_candidate_pairs(docs, "text", "doc_id", 8, 4, 3)
    clusters = dedup.cluster_duplicates(pairs)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.col("size").desc(), "cluster_id")
    )


Q39_SQL = f"""
WITH RECURSIVE
{_LSH_PAIRS_CTE},
und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
reach(s, n) AS (
  SELECT DISTINCT a AS s, a AS n FROM und
  UNION
  SELECT r.s, u.b FROM reach r JOIN und u ON r.n = u.a),
comp AS (SELECT s AS id, MIN(n) AS cluster_id FROM reach GROUP BY s)
SELECT cluster_id, COUNT(*) AS size
FROM comp GROUP BY cluster_id ORDER BY size DESC, cluster_id
"""


# --- quality-aware near-dup collapse (keep best per cluster) --------------
def q123_dedup_keep_best(spark, sf_dir):
    """The keep-best half of the web-corpus dedup recipe: MinHash-LSH
    candidates -> connected components -> keep the LONGEST doc per
    cluster (ties: lowest id), with cluster size annotated. Fully
    hash-oracled: pairs are the q21 SQL, the closure is q39's recursive
    CTE, and the representative choice is a deterministic window."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.lsh_candidate_pairs(docs, "text", "doc_id", 8, 4, 3)
    kept = dedup.keep_best_representative(docs, pairs, "doc_id", "n_chars")
    return kept.select(
        "doc_id", "cluster_id", "cluster_size", "n_chars"
    ).transform(_pin).orderBy("cluster_id")


Q123_SQL = f"""
WITH RECURSIVE
{_LSH_PAIRS_CTE},
und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
reach(s, n) AS (
  SELECT DISTINCT a AS s, a AS n FROM und
  UNION
  SELECT r.s, u.b FROM reach r JOIN und u ON r.n = u.a),
comp AS (SELECT s AS id, MIN(n) AS cluster_id FROM reach GROUP BY s),
lab AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
ranked AS (
  SELECT *,
         COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM lab)
SELECT doc_id, cluster_id, cluster_size, n_chars
FROM ranked WHERE rn = 1 ORDER BY cluster_id
"""


# --- exact-span decontamination --------------------------------------------
def q124_exact_decontamination(spark, sf_dir):
    """Exact-match decontamination: training docs whose token sequence
    contains an eval span VERBATIM (8 consecutive tokens lifted from
    every doc_id % 37 == 0 document stand in for the eval suite). The
    any-shared-n-gram check (q68) over-flags on one colliding gram;
    this is the exact-containment complement. Anchor-gram inverted
    index + broadcast probe set + candidate-only substring confirm —
    never a contains() cross-join."""
    from synch_spark.operators.text import tokens

    docs = _docs(spark, sf_dir)
    w = tokens("text")
    probes = docs.filter(
        (F.col("doc_id") % 37 == 0) & (F.size(w) >= 13)
    ).select(
        F.col("doc_id").alias("probe_id"),
        F.concat_ws(" ", F.slice(w, 6, 8)).alias("span"),
    )
    hits = dedup.exact_span_contamination(
        docs, probes, "doc_id", "text", "probe_id", "span", anchor_n=3
    )
    # keep self-matches (a probe trivially matches its source doc) but
    # annotate them: every probe then contributes a guaranteed row that
    # hash-gates the tokenize -> anchor -> boundary-confirm chain, while
    # is_self=false rows are the genuine contamination a cleaner drops
    return hits.withColumn(
        "is_self", F.col("doc_id") == F.col("probe_id")
    ).orderBy("doc_id", "probe_id")


Q124_SQL = rf"""
WITH t AS (SELECT doc_id, {TOK_SQL} AS w FROM documents),
probes AS (
  SELECT doc_id AS probe_id,
         array_to_string(list_slice(w, 6, 13), ' ') AS span
  FROM t WHERE doc_id % 37 = 0 AND len(w) >= 13),
norm AS (SELECT doc_id, ' ' || array_to_string(w, ' ') || ' ' AS nt FROM t)
SELECT n.doc_id, p.probe_id, n.doc_id = p.probe_id AS is_self
FROM norm n JOIN probes p ON contains(n.nt, ' ' || p.span || ' ')
ORDER BY doc_id, probe_id
"""


# --- multimodal kernel with a full oracle --------------------------------
def q105_media_char_histogram(spark, sf_dir):
    """The multimodal decode+featurize kernel (mapInPandas, Arrow
    batches, utf-8 decode inside Python) hash-gated end-to-end: code-
    point bucketing is computable in DuckDB, so the PYTHON kernel's
    output — not just its schema — is oracle-checked."""
    from synch_spark.operators import multimodal

    docs = _docs(spark, sf_dir)
    media = multimodal.attach_fake_media(docs, "text")
    return multimodal.char_histogram(media, "doc_id", buckets=16).orderBy(
        "id", "bucket"
    )


Q105_SQL = """
SELECT doc_id AS id, CAST(unicode(ch) % 16 AS INT) AS bucket,
       COUNT(*) AS n
FROM (SELECT doc_id, UNNEST(string_split(text, '')) AS ch
      FROM documents WHERE length(text) > 0)
GROUP BY doc_id, bucket ORDER BY id, bucket
"""
# length(text) > 0: DuckDB string_split('','') yields [''] with
# unicode('') = -1 — a spurious (id, -1, 1) row the kernel (correctly)
# never emits for an empty document


# --- unigram LM surprisal scoring ----------------------------------------
def q103_unigram_surprisal(spark, sf_dir):
    """Per-document average unigram surprisal (bits/token) against the
    corpus unigram LM — the classic cheap perplexity proxy for quality
    filtering (wildly improbable token streams score high). Plan: one
    token explode feeds both the LM (token -> count) and the scoring
    join; the corpus total folds from the LM (no driver scalar). The
    per-token -log2 p terms fold into DECIMAL(25,12) so the sum is
    order-free and the DuckDB oracle matches bit-for-bit."""
    docs = _docs(spark, sf_dir)
    # (doc, token) counts FIRST: partial aggregation collapses repeated
    # tokens map-side, so the expensive string-keyed traffic is distinct
    # doc-token pairs, never the raw token stream. The LM (token ->
    # count) folds from the same aggregate — one exchange, reused by
    # Catalyst for both branches — and joins back as a BROADCAST (the
    # vocabulary is corpus-sublinear; at trillion-token scale shard it
    # by frequency: broadcast the head, shuffle-join the long tail).
    dtf = (
        docs.select("doc_id", F.explode(text.tokens("text")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        # the compact (doc, token) proxy feeds the LM fold AND the
        # scoring join — materialize once, lazily (q127's shape)
        .localCheckpoint(eager=False)
    )
    tf = dtf.groupBy("w").agg(F.sum("c").alias("cnt"))
    total = tf.agg(F.sum("cnt").alias("total"))
    bits = -F.log2(F.col("cnt").cast("double") / F.col("total"))
    # decimal fold: c * CAST(bits, DEC) is exact, so summing per-pair
    # equals the oracle's per-token sum bit-for-bit, order-free. c rides
    # as DECIMAL(10,0): (25,12) x (10,0) -> (36,12) stays under Spark's
    # 38-digit cap — a bigint multiplicand would push precision past 38
    # and silently SHRINK the scale (observed 1.7e-7 drift vs the oracle)
    return (
        dtf.join(F.broadcast(tf.join(total)), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_toks"),
            F.sum(bits.cast("decimal(25,12)")
                  * F.col("c").cast("decimal(10,0)")).alias("_s"),
        )
        .select(
            "doc_id",
            "n_toks",
            (F.col("_s").cast("double") / F.col("n_toks")).alias("avg_bits"),
        )
        .orderBy("doc_id")
    )


Q103_SQL = rf"""
WITH toks AS (SELECT doc_id, UNNEST({TOK_SQL}) AS w FROM documents),
tf AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
tot AS (SELECT SUM(cnt) AS total FROM tf)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
       CAST(SUM(CAST(-log2(CAST(cnt AS DOUBLE) / total) AS DECIMAL(25,12)))
            AS DOUBLE) / COUNT(*) AS avg_bits
FROM toks JOIN tf USING (w) CROSS JOIN tot
GROUP BY doc_id ORDER BY doc_id
"""


# --- interpolated bigram LM surprisal -------------------------------------
BIGRAM_LAMBDA = 0.75  # interpolation weight on the bigram estimate


def q127_bigram_surprisal(spark, sf_dir):
    """Per-document average INTERPOLATED BIGRAM surprisal (bits per
    scored position) — the real perplexity-filter shape (Jelinek-Mercer
    smoothing): p(v|u) = λ·c(u,v)/c(u·) + (1-λ)·cnt(v)/total, scored at
    every position 2..n. Upgrades q103's unigram proxy: repetitive or
    scrambled token streams that unigram stats can't separate diverge
    hard under a bigram LM.

    Plan: one bigram explode feeds (doc,u,v) counts; the corpus bigram
    LM c2(u,v) and its history marginal c(u·) fold FROM that aggregate
    (one exchange, reused); the unigram LM is q103's. LMs join back
    broadcast (vocabulary and bigram tables are corpus-sublinear; shard
    the long tail at trillion-token scale). The per-position -log2 p
    terms fold into a decimal weighted by the (doc,u,v) count, so the
    sum is order-free — the q103 recipe. One precision nuance q103
    dodged by luck of few distinct inputs: p itself is bit-identical
    across engines (division/multiply/add are IEEE-determined) but
    log2 is only faithfully rounded (±1 ulp libm vs JVM), so the bits
    decimal is cast at scale 6, far from where a 1-ulp log2 wobble
    could flip the rounding (q103's scale-12 cast flipped here: 50k+
    distinct p values vs its few thousand)."""
    docs = _docs(spark, sf_dir)
    lam = BIGRAM_LAMBDA
    base = docs.select("doc_id", text.tokens("text").alias("_toks"))
    toks = F.col("_toks")
    # ONE explode covers both LMs: position i emits (u = token i-1, or
    # NULL at i = 1; v = token i), so every token occurrence appears
    # exactly once as v (the unigram stream) and every bigram once as
    # (u, v) with u non-null. The single (doc, u, v) aggregate is the
    # compact proxy all three consumers need — the unigram LM folds from
    # it by v, the bigram LM by (u, v) — so the corpus is scanned and
    # tokenized ONCE and only one exchange ever carries bigram text
    # (the old shape paid a second tokenize+explode+exchange for the
    # unigram branch). Lazily checkpointed: its consumers (uni, c2/ch,
    # the scoring join) otherwise each re-run the explode+aggregate.
    pos_pairs = F.when(
        F.size(toks) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.size(toks)),
            lambda i: F.struct(
                F.when(i >= 2, F.element_at(toks, i - 1)).alias("u"),
                F.element_at(toks, i).alias("v"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<u:string,v:string>>"))
    dbc_all = (
        base.select("doc_id", F.explode(pos_pairs).alias("_b"))
        .select("doc_id", F.col("_b.u").alias("u"), F.col("_b.v").alias("v"))
        .groupBy("doc_id", "u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    dbc = dbc_all.filter(F.col("u").isNotNull())
    c2 = dbc.groupBy("u", "v").agg(F.sum("c").alias("c2"))
    ch = c2.groupBy("u").agg(F.sum("c2").alias("ch"))
    uni = dbc_all.groupBy(F.col("v").alias("w")).agg(
        F.sum("c").alias("cnt"))
    total = uni.agg(F.sum("cnt").alias("total"))
    p = (F.lit(lam) * (F.col("c2").cast("double") / F.col("ch"))
         + F.lit(1.0 - lam) * (F.col("cnt").cast("double") / F.col("total")))
    bits = -F.log2(p)
    lm = c2.join(ch, "u").join(
        uni.withColumnRenamed("w", "v"), "v").join(total)
    return (
        dbc.join(F.broadcast(lm), ["u", "v"])
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.sum(bits.cast("decimal(25,6)")
                  * F.col("c").cast("decimal(10,0)")).alias("_s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (F.col("_s").cast("double") / F.col("n_bigrams")).alias("avg_bits"),
        )
        .orderBy("doc_id")
    )


Q127_SQL = rf"""
WITH t AS (SELECT doc_id, {TOK_SQL} AS w FROM documents),
toks AS (SELECT doc_id, UNNEST(w) AS tok FROM t),
tf AS (SELECT tok AS v, COUNT(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT SUM(cnt) AS total FROM tf),
bg AS (SELECT doc_id, w[i] AS u, w[i+1] AS v
       FROM t, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
       WHERE len(w) >= 2),
dbc AS (SELECT doc_id, u, v, COUNT(*) AS c FROM bg GROUP BY doc_id, u, v),
c2 AS (SELECT u, v, SUM(c) AS c2 FROM dbc GROUP BY u, v),
ch AS (SELECT u, SUM(c2) AS ch FROM c2 GROUP BY u)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       CAST(SUM(CAST(-log2({BIGRAM_LAMBDA} * (CAST(c2.c2 AS DOUBLE) / ch.ch)
                           + {1.0 - BIGRAM_LAMBDA}
                             * (CAST(tf.cnt AS DOUBLE) / tot.total))
                     AS DECIMAL(25,6)) * CAST(c AS DECIMAL(10,0)))
            AS DOUBLE) / SUM(c) AS avg_bits
FROM dbc JOIN c2 USING (u, v) JOIN ch USING (u) JOIN tf USING (v)
CROSS JOIN tot
GROUP BY doc_id ORDER BY doc_id
"""


# --- temperature-based source mixing ---------------------------------------
MIX_BUDGET_TOKENS = 1_000_000  # the training-token budget being allocated


def q128_temperature_mix(spark, sf_dir):
    """Data-mixing weights at sampling temperature τ=2 — the standard
    multi-source LM recipe (Pile/LLaMA-style): upweight small sources
    by sampling p_i ∝ n_i^(1/τ), report each source's share of a fixed
    token budget and the epochs (repeats) that allocation implies.

    τ=2 on purpose: n^(1/2) is sqrt, the ONE power IEEE requires
    correctly rounded — pow() is libm-approximate and would drift
    cross-engine. Weights quantize via FLOOR(sqrt·1e6) to bigint —
    floor of an IEEE-determined double is rounding-MODE-free, where a
    double→DECIMAL cast is not (half-up vs half-even flipped one
    source's 12th digit at sf0.1) — so the total is an exact integer
    sum and every share divides two identical doubles. Plan: one token
    count per doc (map-side), one source aggregate, one broadcast
    scalar join — no shuffle beyond the 20-source aggregate."""
    docs = _docs(spark, sf_dir)
    per_src = (
        docs.select("source", F.size(text.tokens("text")).alias("_nt"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
             F.sum("_nt").cast("bigint").alias("n_tokens"))
    )
    w = F.floor(F.sqrt(F.col("n_tokens").cast("double"))
                * F.lit(1e6)).cast("bigint")
    # the source aggregate feeds the scalar total AND the share join;
    # without the checkpoint the tokenize pass over the corpus ran
    # twice (exchange reuse does not fire across the broadcast
    # boundary). ~20 rows materialized, rides the total's job
    weighted = per_src.withColumn("_w", w).localCheckpoint(eager=False)
    tot = weighted.agg(F.sum("_w").alias("_tot"))
    share = F.col("_w").cast("double") / F.col("_tot").cast("double")
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_docs", "n_tokens",
            share.alias("share"),
            (share * F.lit(float(MIX_BUDGET_TOKENS))).alias("budget_tokens"),
            (share * F.lit(float(MIX_BUDGET_TOKENS))
             / F.col("n_tokens").cast("double")).alias("epochs"),
        )
        .orderBy("source")
    )


Q128_SQL = f"""
WITH t AS (SELECT source, len({TOK_SQL}) AS nt FROM documents),
s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS n_tokens
      FROM t GROUP BY source),
w AS (SELECT *, CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
               AS wq
      FROM s),
tot AS (SELECT SUM(wq) AS total FROM w)
SELECT source, n_docs, n_tokens,
       CAST(wq AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       CAST(wq AS DOUBLE) / CAST(total AS DOUBLE)
         * {float(MIX_BUDGET_TOKENS)} AS budget_tokens,
       CAST(wq AS DOUBLE) / CAST(total AS DOUBLE)
         * {float(MIX_BUDGET_TOKENS)} / CAST(n_tokens AS DOUBLE) AS epochs
FROM w CROSS JOIN tot ORDER BY source
"""


# --- per-source quality-cutoff calibration ----------------------------------
KEEP_RATE = 0.6  # keep the top 60% of each source by quality score


def q129_quality_cutoffs(spark, sf_dir):
    """Threshold calibration for a model/heuristic quality filter:
    per source, find the score cutoff that keeps exactly the top
    ``KEEP_RATE`` of documents. This is how real pipelines tune 'keep
    the best X%' per source instead of one global threshold that
    empties small high-variance sources. Score here is n_chars (a
    stored deterministic column); swap in any scorer.

    Plan -- the 100 TB shape: NO per-document rank window (a window
    partitioned only by source would sort the dominant crawl's billion
    docs in one task). The docs collapse map-side into a
    (source, score) HISTOGRAM; a cumulative window over the histogram
    (cardinality = distinct scores per source, corpus-sublinear) finds
    the keep-th largest score exactly. n_kept = ceil(rate*n) by
    definition -- ties at the cutoff are admitted by deterministic
    doc_id order in the kept SET, which this summary never
    materializes. All integers -- exact in any engine."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    hist = (
        docs.groupBy("source", "n_chars")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    w = (W.partitionBy("source").orderBy(F.col("n_chars").desc())
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    # per-source total as a whole-partition window over the SAME
    # source-keyed exchange the cumulative window establishes (guide
    # §2.4) — the old groupBy(source) aggregate + broadcast join back
    # re-executed the docs scan + histogram as a second consumer
    cum = hist.withColumn("_cum", F.sum("_c").over(w)).withColumn(
        "n_docs", F.sum("_c").over(W.partitionBy("source")).cast("bigint"))
    keep = F.ceil(F.col("n_docs") * F.lit(KEEP_RATE)).cast("bigint")
    return (
        cum
        .withColumn("_keep", keep)
        .filter(F.col("_cum") >= F.col("_keep"))
        .groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("_keep").cast("bigint").alias("n_kept"),
            # the first histogram row reaching the keep count (highest
            # qualifying score) holds the cutoff = keep-th largest score
            F.max("n_chars").cast("bigint").alias("cutoff_score"),
        )
        .orderBy("source")
    )


Q129_SQL = f"""
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n_docs
  FROM documents)
SELECT source, CAST(MAX(n_docs) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(MIN(n_chars) AS BIGINT) AS cutoff_score
FROM ranked WHERE rn <= CEIL(n_docs * {KEEP_RATE})
GROUP BY source ORDER BY source
"""


# --- asymmetric containment near-dups ------------------------------------
CONTAIN_T = 0.3


def q104_containment(spark, sf_dir):
    """Subset-duplication detection: ordered pairs where >=30% of doc
    a's distinct 3-gram shingles appear in doc b (containment |A∩B|/|A|
    — catches excerpts/quotes that symmetric Jaccard under-scores).
    Probe side bounded to doc_id % 10 == 0 like q20."""
    docs = _docs(spark, sf_dir)
    return dedup.containment_pairs(
        docs, "text", "doc_id", threshold=CONTAIN_T, n=3,
        probe_filter=lambda a: a % 10 == 0,
    ).orderBy("a", "b")


Q104_SQL = rf"""
WITH {GRAM_TOK_CTES},
sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
  FROM tok x JOIN tok y ON x.t = y.t
  WHERE x.doc_id <> y.doc_id AND x.doc_id % 10 = 0
  GROUP BY x.doc_id, y.doc_id)
SELECT a, b, CAST(i AS DOUBLE) / sa.sz AS containment
FROM inter JOIN sz sa ON sa.doc_id = a
WHERE CAST(i AS DOUBLE) / sa.sz >= {CONTAIN_T}
ORDER BY a, b
"""


# --- connected components, oracle-gated ----------------------------------
def q100_dedup_cc_chains(spark, sf_dir):
    """cluster_duplicates gated by a hash-matchable oracle: the edge set
    is SQL-expressible (two chain systems over the documents table —
    consecutive doc_ids within (source, lang) and within
    (source, n_chars%5) — whose union merges multi-hop components inside
    each source), so DuckDB can label the same components by recursive
    transitive closure. Gates the full CC operator (min-label contract,
    size-adaptive path) on a multi-hop graph with a shape q39's
    LSH-derived pairs don't guarantee; q39 carries its own full oracle
    over the real MinHash-LSH pairs."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    w1 = W.partitionBy("source", "lang").orderBy("doc_id")
    w2 = W.partitionBy("source", (F.col("n_chars") % 5)).orderBy("doc_id")
    e1 = docs.select(
        F.lag("doc_id").over(w1).alias("a"), F.col("doc_id").alias("b")
    ).filter(F.col("a").isNotNull())
    e2 = docs.select(
        F.lag("doc_id").over(w2).alias("a"), F.col("doc_id").alias("b")
    ).filter(F.col("a").isNotNull())
    pairs = e1.unionByName(e2).distinct()
    return dedup.cluster_duplicates(pairs).transform(_pin).orderBy("id")


Q100_SQL = """
WITH RECURSIVE
e1 AS (SELECT LAG(doc_id) OVER (PARTITION BY source, lang ORDER BY doc_id) AS a,
              doc_id AS b FROM documents),
e2 AS (SELECT LAG(doc_id) OVER (PARTITION BY source, n_chars % 5 ORDER BY doc_id) AS a,
              doc_id AS b FROM documents),
edges AS (SELECT a, b FROM e1 WHERE a IS NOT NULL
          UNION SELECT a, b FROM e2 WHERE a IS NOT NULL),
und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach(s, n) AS (
  SELECT DISTINCT a AS s, a AS n FROM und
  UNION
  SELECT r.s, u.b FROM reach r JOIN und u ON r.n = u.a
)
SELECT s AS id, MIN(n) AS cluster_id FROM reach GROUP BY s ORDER BY id
"""


# --- sketch accuracy gate -------------------------------------------------
def q101_sketch_bounds(spark, sf_dir):
    """q34's sketches made hash-checkable: exact columns are computed in
    both engines; the approximate values fold into BOOLEAN bound checks
    (|approx-exact|/exact within tolerance) that the oracle asserts as
    literal TRUE — a hash mismatch means the sketch left its accuracy
    envelope. HLL rsd default is 5% (tolerance 15%); percentile_approx
    at default accuracy is near-exact at these group sizes (5%).
    _spread, not _t: the Expand pass and the per-group object
    aggregates (percentile buffers) are CPU-heavy per scanned row, and
    the local fixture scans as only 3 splits. Each pass spreads its own
    column-pruned scan (the two references prune to different columns,
    so exchange reuse can't — and shouldn't — unify them: two 2-column
    reads beat one materialized wide pass); measured -12% at sf0.1,
    skipped when the scan already has enough splits."""
    li = _spread(spark, sf_dir, "lineitem")
    # two passes joined on the tiny group key, NOT one agg: combining the
    # Expand-based countDistinct with the object aggregates (percentile,
    # HLL) in a single GroupBy drops the whole plan to a sort-aggregate
    # over expanded rows (~4x the cost of the passes separately)
    counts = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey").alias("_ap"),
    )
    quants = li.groupBy("l_returnflag").agg(
        F.expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.5)").alias(
            "exact_median"
        ),
        F.percentile_approx(F.col("l_extendedprice").cast("double"), 0.5).alias("_am"),
    )
    agg = counts.join(quants, "l_returnflag")
    return agg.select(
        "l_returnflag",
        "exact_parts",
        "exact_median",
        (F.abs(F.col("_ap") - F.col("exact_parts")) / F.col("exact_parts") <= 0.15)
        .alias("parts_ok"),
        (F.abs(F.col("_am") - F.col("exact_median")) / F.col("exact_median") <= 0.05)
        .alias("median_ok"),
    ).orderBy("l_returnflag")


Q101_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       MEDIAN(CAST(l_extendedprice AS DOUBLE)) AS exact_median,
       TRUE AS parts_ok,
       TRUE AS median_ok
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --- exact embedding near-dup pairs (label-blocked) ----------------------
def q47_embedding_near_dups(spark, sf_dir):
    """Exact cosine near-dup pairs within label blocks — the deterministic
    baseline for the LSH near-dup path (dedup-within-shard pattern)."""
    emb = _emb(spark, sf_dir)
    return similarity.embedding_near_dups_exact(
        emb, threshold=0.35, block_col="label"
    ).orderBy("a", "b")


Q47_SQL = """
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
pairs AS (
  SELECT ea.vec_id AS a, eb.vec_id AS b,
    (SELECT SUM(CAST(CAST(z.x AS DOUBLE) * CAST(z.y AS DOUBLE) AS DECIMAL(38,12)))
     FROM (SELECT UNNEST(ea.embedding) AS x, UNNEST(eb.embedding) AS y) z) AS dot,
    (SELECT SUM(CAST(CAST(z.x AS DOUBLE) * CAST(z.x AS DOUBLE) AS DECIMAL(38,12)))
     FROM (SELECT UNNEST(ea.embedding) AS x) z) AS na,
    (SELECT SUM(CAST(CAST(z.y AS DOUBLE) * CAST(z.y AS DOUBLE) AS DECIMAL(38,12)))
     FROM (SELECT UNNEST(eb.embedding) AS y) z) AS nb
  FROM e ea JOIN e eb ON ea.label = eb.label AND ea.vec_id < eb.vec_id)
SELECT a, b,
       CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS cosine
FROM pairs
WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.35
ORDER BY a, b
"""


# --- semantic dedup (SemDeDup) --------------------------------------------
SEMDEDUP_T = 0.35
SEMDEDUP_K = 8  # fixed centroids: embeddings of vec_id < K (deterministic)


def q126_semantic_dedup(spark, sf_dir):
    """SemDeDup over the embedding table with FIXED centroids (the
    vectors with vec_id < K) so the whole pipeline — decimal-cosine
    centroid assignment, within-cluster GEMM pairs, connected
    components, keep-most-prototypical — is deterministic and fully
    hash-oracled in SQL (the q98/q99 exhaustive-twin move: production
    callers pass Lloyd-refined VectorIndex centroids, which the pytest
    invariants cover; the graded query pins the centroid input)."""
    emb = _emb(spark, sf_dir)
    cents = emb.filter(F.col("vec_id") < SEMDEDUP_K).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.col("embedding").alias("cvec"),
    )
    return (
        similarity.semantic_dedup(emb, cents, threshold=SEMDEDUP_T)
        .withColumn("cid", F.col("cid").cast("int"))
        .orderBy("vec_id")
    )


_DOT_DEC_SQL = (
    "(SELECT SUM(CAST(CAST(z.x AS DOUBLE) * CAST(z.y AS DOUBLE)"
    " AS DECIMAL(38,12)))"
    " FROM (SELECT UNNEST({a}) AS x, UNNEST({b}) AS y) z)"
)

Q126_SQL = f"""
WITH RECURSIVE
c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec
      FROM embeddings WHERE vec_id < {SEMDEDUP_K}),
asg0 AS (
  SELECT e.vec_id, e.embedding, c.cid,
         CAST({_DOT_DEC_SQL.format(a='e.embedding', b='c.cvec')} AS DOUBLE)
         / sqrt(CAST({_DOT_DEC_SQL.format(a='e.embedding', b='e.embedding')} AS DOUBLE)
                * CAST({_DOT_DEC_SQL.format(a='c.cvec', b='c.cvec')} AS DOUBLE))
           AS csim
  FROM embeddings e, c),
asg AS (
  SELECT vec_id, embedding, cid, csim,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY csim DESC, cid) AS rn
  FROM asg0),
a1 AS (SELECT vec_id, embedding, cid, csim FROM asg WHERE rn = 1),
pairs AS (
  SELECT x.vec_id AS a, y.vec_id AS b
  FROM a1 x JOIN a1 y ON x.cid = y.cid AND x.vec_id < y.vec_id
  WHERE CAST({_DOT_DEC_SQL.format(a='x.embedding', b='y.embedding')} AS DOUBLE)
        / sqrt(CAST({_DOT_DEC_SQL.format(a='x.embedding', b='x.embedding')} AS DOUBLE)
               * CAST({_DOT_DEC_SQL.format(a='y.embedding', b='y.embedding')} AS DOUBLE))
        >= {SEMDEDUP_T}),
und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
reach(s, n) AS (
  SELECT DISTINCT a AS s, a AS n FROM und
  UNION
  SELECT r.s, u.b FROM reach r JOIN und u ON r.n = u.a),
comp AS (SELECT s AS id, MIN(n) AS cluster_id FROM reach GROUP BY s),
lab AS (
  SELECT a1.vec_id, a1.cid, a1.csim,
         COALESCE(comp.cluster_id, a1.vec_id) AS cluster_id
  FROM a1 LEFT JOIN comp ON comp.id = a1.vec_id),
ranked AS (
  SELECT *,
         COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY csim DESC, vec_id) AS rn
  FROM lab)
SELECT vec_id, cid, csim, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rn = 1 ORDER BY vec_id
"""


def q136_semdedup_refined_centroids(spark, sf_dir):
    """SemDeDup with **Lloyd-refined** centroids on the graded surface
    — closing the q126 gap where only the fixed-centroid path was
    oracle-gated while production uses ``vector_index.ivf_refine``
    (pytest invariants only). One spherical k-means iteration in
    ``exact=True`` mode (decimal-cosine assignment, decimal-sum means
    — bit-reproducible across runs AND engines; the double path's
    distributed avg folds in partition order and can flip
    near-threshold comparisons) starting from the same deterministic
    seed centroids q126 pins, then the full semantic_dedup pipeline
    over the refined set. The oracle replays the refinement in SQL —
    per-vector argmax assignment, per-(cid,pos) exact mean, list
    rebuild — so centroid movement itself is hash-graded, not just
    the collapse."""
    from synch_spark.operators.vector_index import ivf_refine

    emb = _emb(spark, sf_dir)
    seed = emb.filter(F.col("vec_id") < SEMDEDUP_K).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.col("embedding").alias("cvec"),
    )
    refined = ivf_refine(emb, seed, iters=1, exact=True)
    return (
        similarity.semantic_dedup(emb, refined, threshold=SEMDEDUP_T)
        .withColumn("cid", F.col("cid").cast("int"))
        .orderBy("vec_id")
    )


Q136_SQL = f"""
WITH RECURSIVE
c0 AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec
       FROM embeddings WHERE vec_id < {SEMDEDUP_K}),
rf0 AS (
  SELECT e.vec_id, e.embedding, c.cid,
         CAST({_DOT_DEC_SQL.format(a='e.embedding', b='c.cvec')} AS DOUBLE)
         / sqrt(CAST({_DOT_DEC_SQL.format(a='e.embedding', b='e.embedding')} AS DOUBLE)
                * CAST({_DOT_DEC_SQL.format(a='c.cvec', b='c.cvec')} AS DOUBLE))
           AS s
  FROM embeddings e, c0 c),
rfa AS (
  SELECT vec_id, embedding, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
  FROM rf0),
rdim AS (
  SELECT cid, generate_subscripts(embedding, 1) AS pos,
         UNNEST(embedding) AS x
  FROM rfa WHERE rn = 1),
c AS (
  SELECT cid, list(CAST(m AS REAL) ORDER BY pos) AS cvec
  FROM (SELECT cid, pos,
               CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(25,12)))
                    AS DOUBLE) / COUNT(*) AS m
        FROM rdim GROUP BY cid, pos)
  GROUP BY cid),
asg0 AS (
  SELECT e.vec_id, e.embedding, c.cid,
         CAST({_DOT_DEC_SQL.format(a='e.embedding', b='c.cvec')} AS DOUBLE)
         / sqrt(CAST({_DOT_DEC_SQL.format(a='e.embedding', b='e.embedding')} AS DOUBLE)
                * CAST({_DOT_DEC_SQL.format(a='c.cvec', b='c.cvec')} AS DOUBLE))
           AS csim
  FROM embeddings e, c),
asg AS (
  SELECT vec_id, embedding, cid, csim,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY csim DESC, cid) AS rn
  FROM asg0),
a1 AS (SELECT vec_id, embedding, cid, csim FROM asg WHERE rn = 1),
pairs AS (
  SELECT x.vec_id AS a, y.vec_id AS b
  FROM a1 x JOIN a1 y ON x.cid = y.cid AND x.vec_id < y.vec_id
  WHERE CAST({_DOT_DEC_SQL.format(a='x.embedding', b='y.embedding')} AS DOUBLE)
        / sqrt(CAST({_DOT_DEC_SQL.format(a='x.embedding', b='x.embedding')} AS DOUBLE)
               * CAST({_DOT_DEC_SQL.format(a='y.embedding', b='y.embedding')} AS DOUBLE))
        >= {SEMDEDUP_T}),
und AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
reach(s, n) AS (
  SELECT DISTINCT a AS s, a AS n FROM und
  UNION
  SELECT r.s, u.b FROM reach r JOIN und u ON r.n = u.a),
comp AS (SELECT s AS id, MIN(n) AS cluster_id FROM reach GROUP BY s),
lab AS (
  SELECT a1.vec_id, a1.cid, a1.csim,
         COALESCE(comp.cluster_id, a1.vec_id) AS cluster_id
  FROM a1 LEFT JOIN comp ON comp.id = a1.vec_id),
ranked AS (
  SELECT *,
         COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY csim DESC, vec_id) AS rn
  FROM lab)
SELECT vec_id, cid, csim, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rn = 1 ORDER BY vec_id
"""


def q137_debezium_avro_roundtrip(spark, sf_dir):
    """Producer-side Debezium-Avro on the graded surface: the engine's
    own raw events (synthesized per orders row — 'F' rows as deletes
    with a before image, the rest as inserts) are ENCODED into
    Confluent-framed typed Avro envelopes by ``broker.
    kafka_avro_payload`` (per-table envelope schema generated from the
    Spark value schema, logical decimal for the price) and then decoded
    back through the same ``debezium_avro_to_raw`` consumer path q135
    grades against independent bytes. Hash-matching the q112 oracle
    proves the PUBLISH side is lossless end-to-end — ids, exact
    decimals, microsecond event times — so this engine can feed a
    production Avro bus, not just read one."""
    from pyspark.sql import types as T

    from synch_spark.broker import kafka_avro_payload
    from synch_spark.events import RAW_EVENT_SCHEMA, parse_values, split_updates
    from synch_spark.sources.avro_codec import debezium_avro_to_raw
    from synch_spark.sources.avro_codec import (
        debezium_envelope_schema,
        parse_schema,
    )

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    img = F.to_json(F.struct(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").cast("decimal(15,2)").cast("string")
        .alias("price"),
        F.col("o_orderstatus").alias("status"),
    ))
    is_del = F.col("o_orderstatus") == "F"
    us = (F.unix_date(F.col("o_orderdate").cast("date")).cast("long")
          * F.lit(86_400_000_000).cast("long"))
    raw = orders.select(
        F.lit("db").alias("schema"), F.lit("orders").alias("table"),
        F.when(is_del, F.lit("delete")).otherwise(F.lit("insert"))
        .alias("action"),
        F.when(is_del, img).alias("before"),
        F.when(~is_del, img).alias("after"),
        us.alias("event_unixtime"),
    ).select(*(f.name for f in RAW_EVENT_SCHEMA.fields)).repartition(8)
    vschema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("price", T.DecimalType(15, 2)),
        T.StructField("status", T.StringType()),
    ])
    frames = kafka_avro_payload(raw, {"db.orders": vschema},
                                {"db.orders": 21})
    decoded = debezium_avro_to_raw(
        frames, {21: parse_schema(
            debezium_envelope_schema(vschema, "db", "orders"))})
    typed = parse_values(split_updates(decoded), vschema)
    return typed.select(
        "id",
        F.col("price").cast(DEC).cast("double").alias("price"),
        "status",
        F.timestamp_micros(F.col("event_unixtime")).cast("date").alias("d"),
    ).transform(_pin).orderBy("id")


def q132_semantic_decontamination(spark, sf_dir):
    """Embedding-space decontamination — the semantic complement of
    q124's exact-span check (SemDeDup §4 applies the same move to
    eval leakage): a training example whose EMBEDDING sits within eps
    of an eval-suite embedding is contamination even when no token
    span matches (paraphrase, re-encoding, translation). Probes =
    embeddings of vec_id % 31 == 0 (stand-in eval suite); the report
    lists each flagged corpus vector with how many probes it hits and
    its worst similarity.

    Scale shape: eval suites are small by nature, so the probe matrix
    rides into a per-partition numpy GEMM over one corpus pass
    (``similarity.probe_similarity_pairs``) — only candidates that can
    clear the threshold leave the worker, and the exact decimal fold
    that defines the output rescores those. Never a probe-count x
    corpus row explosion. Flagged ids anti-join the corpus to actually
    decontaminate (the report is the graded artifact)."""
    emb = _emb(spark, sf_dir)
    probes = emb.filter(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding")
    corpus = emb.filter(F.col("vec_id") % 31 != 0)
    hits = similarity.probe_similarity_pairs(corpus, probes, DECON_T)
    return (
        hits.groupBy("vec_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_probes_hit"),
             F.max("cosine").alias("max_sim"))
        .orderBy("vec_id")
    )


DECON_T = SEMDEDUP_T  # same eps family as the dedup threshold

Q132_SQL = f"""
WITH p AS (SELECT vec_id AS probe_id, embedding AS pv
           FROM embeddings WHERE vec_id % 31 = 0),
c AS (SELECT vec_id, embedding AS cv
      FROM embeddings WHERE vec_id % 31 <> 0),
s AS (
  SELECT c.vec_id,
         CAST({_DOT_DEC_SQL.format(a='c.cv', b='p.pv')} AS DOUBLE)
         / sqrt(CAST({_DOT_DEC_SQL.format(a='c.cv', b='c.cv')} AS DOUBLE)
                * CAST({_DOT_DEC_SQL.format(a='p.pv', b='p.pv')} AS DOUBLE))
           AS sim
  FROM c, p)
SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_probes_hit, MAX(sim) AS max_sim
FROM s WHERE sim >= {SEMDEDUP_T}
GROUP BY vec_id ORDER BY vec_id
"""


def _incr_semdedup_index(spark, sf_dir):
    """Session-cached two-half (build + apply_changes) SemDedupIndex
    over the embeddings table — the maintained-artifact shape of q126.
    Like q118's DedupIndex, the persisted index is a production
    artifact an ingest job maintains; the bench warms it under
    ``index_build_s``, any other session pays on first call."""
    from synch_spark.session import scratch_dir

    from synch_spark.operators.semdedup_index import SemDedupIndex

    def build():
        emb = _emb(spark, sf_dir)
        cents = emb.filter(F.col("vec_id") < SEMDEDUP_K).select(
            F.col("vec_id").cast("int").alias("cid"),
            F.col("embedding").alias("cvec"),
        )
        idx = SemDedupIndex(spark, scratch_dir("synchspark-q130-"),
                            threshold=SEMDEDUP_T)
        idx.build(emb.filter(F.col("vec_id") % 2 == 0), cents)
        feed = emb.filter(F.col("vec_id") % 2 == 1).select(
            "vec_id", "embedding", F.lit("insert").alias("_change_type"))
        idx.apply_changes(feed)
        return idx

    return _INCR_SEMDEDUP_CACHE.get_or_build(spark, sf_dir, build)


def q130_semdedup_incremental(spark, sf_dir):
    """The persisted incremental SemDeDup state on the GRADED surface:
    ingest the embeddings in two halves (build + change-feed apply)
    into a scratch SemDedupIndex, then read the KEPT store alone — no
    re-assignment, no re-pairing. The oracle is q126's one-shot SQL,
    so hash-equality proves incremental maintenance ≡ one-shot
    SemDeDup: assignments, decimal csim, within-block pairs, connected
    components and the keep-best ranking all survive the
    persist/merge/re-collapse round-trip bit-identically. At 100 TB
    this is the nightly shape — only changed vectors re-assign, only
    touched centroid blocks re-collapse (both stores cid-partitioned,
    so the touched read prunes)."""
    idx = _incr_semdedup_index(spark, sf_dir)
    return (
        idx.read_kept()
        .withColumn("cid", F.col("cid").cast("int"))
        .orderBy("vec_id")
    )


# --- TF-IDF-style top terms per document ---------------------------------
def q50_tfidf_topterms(spark, sf_dir):
    """Top-3 salient terms per document, score = tf/df (term frequency
    over document frequency). Reciprocal-df weighting instead of ln-idf
    on purpose: tf and df are small ints, and IEEE double division is
    correctly rounded, so the score is bit-identical in any engine —
    ln() is not. Distributed shape: one explode + two aggregations +
    a broadcast df join; the corpus shuffles token ids, never text.
    """
    from synch_spark.operators import text as text_ops

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(text_ops.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df derived from tf (one row per (doc, term)), not a second explode
    # pass over the corpus — the expensive tokenization runs once
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").withColumn(
        "score", F.col("tf").cast("double") / F.col("df").cast("double")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= 3) & (F.col("doc_id") < 100))
        .select("doc_id", "term", F.col("rank").cast("int").alias("rank"), "score")
        .orderBy("doc_id", "rank")
    )


Q50_SQL = f"""
WITH tok AS (
  SELECT doc_id, t AS term FROM documents, UNNEST({TOK_SQL}) AS u(t)
  WHERE t <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
scored AS (
  SELECT doc_id, tf.term, CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) AS score
  FROM tf JOIN dfreq ON tf.term = dfreq.term),
ranked AS (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored)
SELECT doc_id, term, CAST(rank AS INT) AS rank, score
FROM ranked WHERE rank <= 3 AND doc_id < 100
ORDER BY doc_id, rank
"""


# --- Gopher-style quality/repetition gates -------------------------------
def q57_gopher_quality(spark, sf_dir):
    """Per-document Gopher/MassiveText quality gates (token bounds,
    type-token ratio, top-token dominance, symbol density) — the
    pre-training corpus filter, as one explode + two aggregations."""
    docs = _docs(spark, sf_dir)
    stats = text.gopher_stats(docs, "text", "doc_id")
    return (
        stats.select(
            "doc_id",
            "n_tokens",
            "distinct_tokens",
            "top_token_cnt",
            "distinct_ratio",
            "top_ratio",
            "symbol_chars",
            "gopher_pass",
        )
        .orderBy("doc_id")
        .limit(200)
    )


Q57_SQL = f"""
WITH tok AS (
  SELECT doc_id, t FROM documents, UNNEST({TOK_SQL}) AS u(t)),
per_tok AS (
  SELECT doc_id, t, COUNT(*) AS cnt FROM tok GROUP BY doc_id, t),
agg AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         COUNT(*) AS distinct_tokens,
         CAST(MAX(cnt) AS BIGINT) AS top_token_cnt
  FROM per_tok GROUP BY doc_id)
SELECT d.doc_id, n_tokens, distinct_tokens, top_token_cnt,
       CAST(distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_ratio,
       CAST(top_token_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_ratio,
       CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT)
         AS symbol_chars,
       (n_tokens BETWEEN 10 AND 100000
        AND CAST(distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.3
        AND CAST(top_token_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.2
        AND CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
            / CAST(LENGTH(text) AS DOUBLE) <= 0.1) AS gopher_pass
FROM documents d JOIN agg USING (doc_id)
ORDER BY doc_id LIMIT 200
"""


# --- duplicate-n-gram repetition (Gopher's rep filters) -------------------
def q62_ngram_repetition(spark, sf_dir):
    """Per-document duplicate-trigram fraction — the Gopher 'fraction of
    duplicate n-grams' repetition gate. Computed entirely on per-doc
    ARRAYS (no explode/shuffle): trigram list, its distinct size, one
    projection — a scan-shaped operator that runs at parquet speed on a
    100 TB corpus. Token array is materialized behind a projection
    before the transform lambda touches it (HOF re-evaluation trap).

    ``_docs`` spreads the single-file scan so the trigram algebra runs
    on all cores (the q47 lesson; no second repartition here — _docs
    already did it, and an unconditional one would re-shuffle a corpus
    whose scan is already parallel)."""
    from synch_spark.operators.text import tokens

    docs = _docs(spark, sf_dir)
    # the >=3-token gate replaces a downstream `n_trigrams > 0` filter,
    # which Catalyst would push below the exchange by SUBSTITUTING the
    # whole trigram-transform expression into the Filter — re-running the
    # entire heavy computation serially on the scan partition
    base = docs.select("doc_id", tokens("text").alias("_toks")).filter(
        F.size(F.col("_toks")) >= 3
    )
    toks = F.col("_toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
            F.element_at(toks, i + 3),
        ),
    )
    g = base.select("doc_id", grams.alias("_g")).select(
        "doc_id",
        F.size("_g").cast("long").alias("n_trigrams"),
        F.size(F.array_distinct("_g")).cast("long").alias("distinct_trigrams"),
    )
    return (
        g.withColumn(
            "dup_ratio",
            F.lit(1.0)
            - F.col("distinct_trigrams").cast("double")
            / F.col("n_trigrams").cast("double"),
        )
        .orderBy(F.col("dup_ratio").desc(), "doc_id")
        .limit(100)
    )


Q62_SQL = f"""
WITH toks AS (SELECT doc_id, {TOK_SQL} AS w FROM documents),
tri AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS t
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS g(i)
  WHERE len(w) >= 3),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
         CAST(COUNT(DISTINCT t) AS BIGINT) AS distinct_trigrams
  FROM tri GROUP BY doc_id)
SELECT doc_id, n_trigrams, distinct_trigrams,
       1.0 - CAST(distinct_trigrams AS DOUBLE) / CAST(n_trigrams AS DOUBLE)
         AS dup_ratio
FROM agg WHERE n_trigrams > 0
ORDER BY dup_ratio DESC, doc_id LIMIT 100
"""


# --- deterministic train/val split (content hash) -------------------------
def q65_hash_split(spark, sf_dir):
    """Deterministic content-hash train/val split — the training-data
    primitive for leakage-free held-out sets: assignment depends only on
    the document TEXT (first md5 hex digit, train when < 12 = 75%), so
    it is stable under re-ingestion, re-partitioning, and id reassignment,
    and exact duplicates always land in the same split (no train/val
    leakage through dups). Pure projection + aggregate: scan-shaped,
    no shuffle except the tiny (split, source) rollup."""
    docs = _docs(spark, sf_dir)
    out = docs.withColumn("split", dedup.content_split(F.col("text")))
    return (
        out.groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("split", "source")
    )


Q65_SQL = """
WITH s AS (
  SELECT source, n_chars,
         CASE WHEN strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1 < 12
              THEN 'train' ELSE 'val' END AS split
  FROM documents)
SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM s GROUP BY split, source ORDER BY split, source
"""


# --- per-source sampling quota (mixture weighting) -------------------------
SOURCE_CAP = 10  # binds at sf0.01 (25 docs/source) so the gate tests the filter


def q66_source_budget(spark, sf_dir):
    """Per-source document quota — the corpus-mixture primitive: cap each
    source at N docs, selected by a deterministic pseudo-random order
    (md5 of content, doc_id tiebreak for exact dups) so the sample is
    reproducible across runs and machines without a seed exchange. One
    window shuffle on source; at 100 TB the same shape holds because the
    rank is computed per-source-partition and docs beyond the cap are
    dropped before any downstream work."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    w = W.partitionBy("source").orderBy(F.md5("text"), "doc_id")
    kept = docs.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= SOURCE_CAP
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("chars_kept"),
            F.max("_rn").cast("bigint").alias("max_rank"),
        )
        .orderBy("source")
    )


Q66_SQL = f"""
WITH r AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rn
  FROM documents)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
       CAST(MAX(rn) AS BIGINT) AS max_rank
FROM r WHERE rn <= {SOURCE_CAP} GROUP BY source ORDER BY source
"""


# --- corpus length profile --------------------------------------------------
def q67_length_histogram(spark, sf_dir):
    """Fixed-width histogram of document lengths (100-char buckets,
    capped at bucket 19) — the corpus profile that drives truncation and
    packing decisions in a token-budgeted pipeline. Pure projection +
    one tiny aggregate on a <=20-row group domain; the scan reads only
    the n_chars column (column pruning)."""
    docs = _t(spark, sf_dir, "documents")
    b = F.least(F.floor(F.col("n_chars") / 100), F.lit(19)).cast("bigint")
    return (
        docs.groupBy(b.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .orderBy("bucket")
    )


Q67_SQL = """
SELECT CAST(LEAST(FLOOR(n_chars / 100), 19) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY bucket ORDER BY bucket
"""


# --- benchmark decontamination ----------------------------------------------
CONTAM_N = 8


def q68_contamination(spark, sf_dir):
    """Benchmark decontamination: which training documents share any
    8-token n-gram with a held-out benchmark set (doc_id % 97 == 0
    stands in for the eval suite)? The canonical pre-training hygiene
    check. Plan: distinct per-doc n-grams on both sides (one tokenize
    pass each), benchmark grams broadcast into a LEFT SEMI join — the
    train side never carries text through the shuffle, only (id, gram);
    at 100 TB the benchmark gram set stays small (eval suites are
    fixed-size) so the semi-join is map-side."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    bgrams = (
        dedup.shingles(bench, "text", "doc_id", CONTAM_N)
        .select(F.col("shingle").alias("_bs"))
        .distinct()
    )
    tgrams = dedup.shingles(train, "text", "doc_id", CONTAM_N)
    contam = (
        tgrams.join(F.broadcast(bgrams), tgrams.shingle == F.col("_bs"), "left_semi")
        .select(F.col("id").alias("doc_id"))
        .distinct()
        .withColumn("_c", F.lit(1))
    )
    return (
        train.join(contam, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            F.count("_c").cast("bigint").alias("n_contaminated"),
            (
                F.count("_c").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("contam_ratio"),
        )
        .orderBy("source")
    )


Q68_SQL = f"""
WITH toks AS (SELECT doc_id, source, {TOK_SQL} AS w FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
         w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] AS g
  FROM toks, UNNEST(generate_series(1, len(w) - {CONTAM_N - 1})) AS u(i)
  WHERE len(w) >= {CONTAM_N}),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
contam AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM bench))
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(COUNT(c.doc_id) AS BIGINT) AS n_contaminated,
       CAST(COUNT(c.doc_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS contam_ratio
FROM documents d LEFT JOIN contam c USING (doc_id)
WHERE d.doc_id % 97 <> 0
GROUP BY source ORDER BY source
"""


# --- sequence packing (concat-then-chunk) -----------------------------------
PACK_BUDGET = 512


def q69_sequence_packing(spark, sf_dir):
    """Deterministic sequence packing: stream each source's documents in
    doc_id order into fixed ``PACK_BUDGET``-token bins (bin = exclusive
    prefix-sum of token counts div budget) — the concat-then-chunk
    packing a pretraining pipeline uses to fill context windows. One
    window pass per source partition, no driver loop, no Python; the
    bin assignment is reproducible across runs/machines because it
    depends only on (source, doc_id) order and token counts."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    base = docs.select(
        "doc_id", "source", text.token_count("text").alias("_nt")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = base.withColumn(
        "_before", F.coalesce(F.sum("_nt").over(w), F.lit(0))
    ).withColumn("bin", F.floor(F.col("_before") / PACK_BUDGET).cast("bigint"))
    return (
        packed.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_nt").cast("bigint").alias("tokens"),
        )
        .orderBy("source", "bin")
    )


Q69_SQL = f"""
WITH t AS (
  SELECT doc_id, source, CAST(len({{tok}}) AS BIGINT) AS nt FROM documents),
c AS (
  SELECT doc_id, source, nt,
         COALESCE(SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM t)
SELECT source, CAST(FLOOR(before / {PACK_BUDGET}) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(nt) AS BIGINT) AS tokens
FROM c GROUP BY source, bin ORDER BY source, bin
""".replace("{tok}", TOK_SQL)


# --- overlapping token-window chunking --------------------------------------
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


def q72_chunking(spark, sf_dir):
    """Overlapping token-window chunking (size 32, stride 24) — the
    preprocessing step an embedding/RAG pipeline applies before
    vectorizing: stable (doc_id, chunk_idx) identity, 8-token overlap so
    no phrase is split across an un-shared boundary. One tokenize pass,
    sequence+posexplode+slice — all JVM array algebra, chunk count per
    doc is ceil(n/stride), and the fingerprint is md5 of the re-joined
    window (portable; identical chunks dedup downstream by fp)."""
    from synch_spark.operators.text import tokens

    docs = _docs(spark, sf_dir)
    # size > 0 filter matches the oracle's len(w) > 0 AND keeps Spark
    # alive: sequence(1, 0, stride) raises 'Illegal sequence boundaries'
    # at runtime for a zero-token document
    base = docs.select("doc_id", tokens("text").alias("_toks")) \
        .filter(F.size("_toks") > 0)
    n = F.size("_toks")
    starts = F.sequence(F.lit(1), n, F.lit(CHUNK_STRIDE))
    ex = base.select(
        "doc_id", "_toks", F.posexplode(starts).alias("chunk_idx", "_st")
    )
    chunk = F.slice(F.col("_toks"), F.col("_st"), CHUNK_TOKENS)
    return (
        ex.select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_fp"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


Q72_SQL = f"""
WITH t AS (SELECT doc_id, {{tok}} AS w FROM documents),
s AS (
  SELECT doc_id, w, UNNEST(generate_series(1, len(w), {CHUNK_STRIDE})) AS st
  FROM t WHERE len(w) > 0)
SELECT doc_id,
       CAST((st - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(w, st, st + {CHUNK_TOKENS - 1})) AS BIGINT)
         AS n_chunk_tokens,
       md5(array_to_string(list_slice(w, st, st + {CHUNK_TOKENS - 1}), ' '))
         AS chunk_fp
FROM s ORDER BY doc_id, chunk_idx
""".replace("{tok}", TOK_SQL)


# --- table profiling (ANALYZE-style column stats) ---------------------------
PROFILE_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]


def q73_profile(spark, sf_dir):
    """ANALYZE-style numeric column profile of lineitem — per column:
    non-null count, null count, exact distinct count, min, max. The
    data-quality sweep a replication/ingest pipeline runs to validate a
    landed table (the reference's count-check E3, widened to a stats
    check). TWO single-row aggregates joined, then an unpivot (stack)
    reshapes the stats row into one row per column. The split matters:
    the 8-column exact COUNT DISTINCT costs an 8-way Expand, and
    keeping the plain count/null/min/max in the SAME agg makes them
    ride over the expanded rows too (~1.6x slower measured at sf0.1);
    separated, the basic stats stay a plain one-scan hash aggregate.
    At 100 TB swap countDistinct for approx_count_distinct (no Expand
    at all) and the split becomes unnecessary. _spread, not _t: the
    8-way Expand multiplies every scanned row before the partial
    aggregate, so the map side wants full core parallelism — the local
    11 MB fixture scans as 3 splits and would run the whole Expand on
    3 cores (skipped automatically when the scan already has enough
    splits; measured -12% at sf0.1)."""
    li = _spread(spark, sf_dir, "lineitem")
    nd_aggs, basic_aggs = [], []
    for c in PROFILE_COLS:
        nd_aggs.append(F.countDistinct(c).cast("bigint").alias(f"nd_{c}"))
        basic_aggs += [
            F.count(c).cast("bigint").alias(f"cnt_{c}"),
            F.count(F.when(F.col(c).isNull(), 1)).cast("bigint").alias(f"nul_{c}"),
            F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"mx_{c}"),
        ]
    row = li.agg(*nd_aggs).join(li.agg(*basic_aggs))  # 1-row x 1-row
    stack_args = ", ".join(
        f"'{c}', cnt_{c}, nul_{c}, nd_{c}, mn_{c}, mx_{c}" for c in PROFILE_COLS
    )
    return row.selectExpr(
        f"stack({len(PROFILE_COLS)}, {stack_args}) AS "
        "(col_name, n, n_null, n_distinct, min_v, max_v)"
    ).orderBy("col_name")


Q73_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, CAST(COUNT({c}) AS BIGINT) AS n,
       CAST(COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS DOUBLE) AS min_v, CAST(MAX({c}) AS DOUBLE) AS max_v
FROM lineitem"""
    for c in PROFILE_COLS
) + "\nORDER BY col_name"


# --- sub-document segment dedup ---------------------------------------------
SEG_TOKENS = 8  # non-overlapping 8-token segments


def q76_segment_dedup(spark, sf_dir):
    """Sub-document exact dedup: split every document into non-overlapping
    8-token segments, pick ONE winner per distinct segment fingerprint
    (first occurrence in (doc_id, seg_idx) order — deterministic, so
    re-runs keep the same rows), and report per-source retention. This is
    the paragraph/段落-level dedup pass training pipelines run between
    whole-doc exact dedup (q16) and fuzzy MinHash (q21): boilerplate
    repeated across documents dies here. One tokenize pass + one shuffle
    on the segment fingerprint (the window's partition key); at 100 TB
    the fp-space is uniform md5 so the shuffle has no skew by
    construction."""
    from synch_spark.operators.text import tokens

    docs = _docs(spark, sf_dir)
    # size > 0: sequence(1, 0, k) raises at runtime on a zero-token doc
    # (the oracle already filters len(w) > 0)
    base = docs.select("doc_id", "source", tokens("text").alias("_toks")) \
        .filter(F.size("_toks") > 0)
    starts = F.sequence(F.lit(1), F.size("_toks"), F.lit(SEG_TOKENS))
    ex = base.select(
        "doc_id", "source", "_toks", F.posexplode(starts).alias("seg_idx", "_st")
    )
    seg = F.slice(F.col("_toks"), F.col("_st"), SEG_TOKENS)
    segs = ex.select(
        "doc_id", "source", F.col("seg_idx").cast("bigint").alias("seg_idx"),
        F.md5(F.concat_ws(" ", seg)).alias("fp"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("fp").orderBy("doc_id", "seg_idx")
    kept = F.when(F.row_number().over(w) == 1, 1).otherwise(0)
    return (
        segs.select("source", kept.alias("_kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum("_kept").cast("bigint").alias("n_kept"),
            (F.sum("_kept").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "retention"
            ),
        )
        .orderBy("source")
    )


Q76_SQL = f"""
WITH t AS (SELECT doc_id, source, {{tok}} AS w FROM documents),
s AS (
  SELECT doc_id, source,
         CAST((st - 1) // {SEG_TOKENS} AS BIGINT) AS seg_idx,
         md5(array_to_string(list_slice(w, st, st + {SEG_TOKENS - 1}), ' ')) AS fp
  FROM t, UNNEST(generate_series(1, len(w), {SEG_TOKENS})) AS u(st)
  WHERE len(w) > 0),
k AS (
  SELECT source,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, seg_idx) = 1
              THEN 1 ELSE 0 END AS kept
  FROM s)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(kept) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS retention
FROM k GROUP BY source ORDER BY source
""".replace("{tok}", TOK_SQL)


# --- deterministic training shuffle + batch manifest ------------------------
SHUFFLE_BATCH = 64


def q77_training_shuffle(spark, sf_dir):
    """Deterministic global training shuffle: order the corpus by
    md5(doc_id) — a seedless, engine-portable permutation that breaks
    source/time locality — then cut fixed-size batches of 64 docs and
    emit the per-batch manifest (doc count, total chars, distinct
    sources) a trainer's data loader consumes. The batch manifest is the
    interesting output: a well-shuffled corpus has near-uniform source
    mix per batch. The global rank comes from operators.ordering
    (range-repartition + in-partition positions + tiny offset join), NOT
    a partition-less window — the md5 key is uniform so range buckets
    are balanced at any scale and no single task ever sees the corpus."""
    from synch_spark.operators.ordering import global_row_number

    docs = _docs(spark, sf_dir)
    h = F.md5(F.col("doc_id").cast("string"))
    # small_bytes=0: ALWAYS the distributed path. The size-adaptive
    # window shortcut is correct below the 256MB estimate, but its
    # WindowExec "No Partition Defined" warning reads as a scale-killer
    # in every bench tail — the graded plan should be the scale plan
    ranked = global_row_number(
        docs.select("doc_id", "source", "n_chars", h.alias("_h")),
        ["_h", "doc_id"],
        rn_col="_rn",
        small_bytes=0,
    )
    return (
        ranked.select(
            "source", "n_chars",
            ((F.col("_rn") - 1) / F.lit(SHUFFLE_BATCH)).cast("bigint").alias("batch_id"),
        )
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
        )
        .orderBy("batch_id")
    )


Q77_SQL = f"""
WITH r AS (
  SELECT source, n_chars,
         CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               - 1) / {SHUFFLE_BATCH}) AS BIGINT) AS batch_id
  FROM documents)
SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM r GROUP BY batch_id ORDER BY batch_id
"""


# --- vocabulary construction with cumulative coverage -----------------------
VOCAB_TOP = 50


def q78_vocab_coverage(spark, sf_dir):
    """Frequency-ranked vocabulary with cumulative corpus coverage — the
    tokenizer-training precursor: for the top-50 terms by collection
    frequency, report term frequency (total occurrences), document
    frequency, and what fraction of ALL token occurrences the vocabulary
    covers up to that rank. The coverage curve tells you where to cut a
    vocab. One explode + one groupBy(token); the cumulative sum runs
    over the (tiny) ranked vocab, never the corpus."""
    from synch_spark.operators.text import tokens

    docs = _docs(spark, sf_dir)
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.countDistinct("doc_id").cast("bigint").alias("df"),
        )
        # the vocabulary aggregate (corpus-sublinear) feeds the coverage
        # total AND the top-k chain — materialize the tokenize+explode
        # pass once (q103's compact-proxy shape)
        .localCheckpoint(eager=False)
    )
    total = tf.agg(F.sum("tf").cast("double").alias("_total"))
    # top-k FIRST (distributed TakeOrdered); the cumulative sum over the
    # VOCAB_TOP survivors is a rank + broadcast triangle join (rank_b <=
    # rank_a), O(k^2)=2500 pairs — equivalent to the running-sum window
    # but with no partition-less WindowExec anywhere in the plan
    top = tf.orderBy(F.col("tf").desc(), "token").limit(VOCAB_TOP)
    # the triangle condition IS the rank comparison: (tf desc, token) is
    # a strict total order over the grouped tokens, so "b ranks at or
    # before a" == (tf_b > tf_a) OR (tf_b == tf_a AND token_b <= token_a)
    # — no rank column needed, which drops the distributed-rank
    # machinery (range shuffle + checkpoint + counts collect) that a
    # 50-row frame was paying for
    prefix = top.select(F.col("tf").alias("_tf_b"),
                        F.col("token").alias("_tok_b"))
    at_or_before = (F.col("_tf_b") > F.col("tf")) | (
        (F.col("_tf_b") == F.col("tf")) & (F.col("_tok_b") <= F.col("token"))
    )
    cum = (
        top.join(F.broadcast(prefix), at_or_before)
        .groupBy("token", "tf", "df")
        .agg(F.sum("_tf_b").alias("_cum_tf"))
    )
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            "token", "tf", "df",
            (F.col("_cum_tf").cast("double") / F.col("_total")).alias("cum_share"),
        )
        .orderBy(F.col("tf").desc(), "token")
    )


Q78_SQL = f"""
WITH tok AS (SELECT doc_id, t AS token FROM documents, UNNEST({TOK_SQL}) AS u(t)),
tf AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tok GROUP BY token)
SELECT token, tf, df,
       CAST(SUM(tf) OVER (ORDER BY tf DESC, token
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / (SELECT CAST(SUM(tf) AS DOUBLE) FROM tf) AS cum_share
FROM tf ORDER BY tf DESC, token LIMIT {VOCAB_TOP}
"""


# --- embedding outliers vs label centroid (sign-quantized) ------------------
OUTLIER_TOP = 5


def q79_embedding_outliers(spark, sf_dir):
    """Centroid-based embedding outlier detection, sign-quantized for
    engine portability: per label, the centroid direction is the
    element-wise exact-decimal SUM of member vectors (cosine is
    scale-invariant, so the sum stands in for the mean with no division);
    each vector's outlier score is the Hamming distance between its sign
    pattern and the centroid's — the SimHash-space distance used by
    binary-quantized vector stores. Top-5 most-disagreeing vectors per
    label = mislabeled/outlier candidates. Centroids are label x dim
    (tiny) -> broadcast back; the per-vector score is a zip_with fold,
    JVM-side, no second shuffle of the big table."""
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    dim = emb.select(F.posexplode("embedding").alias("pos", "val"), "label")
    sums = (
        dim.groupBy("label", "pos")
        .agg(F.sum(F.col("val").cast("double").cast("decimal(25,12)")).alias("s"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda x: x["s"] >= 0
            ).alias("_csign")
        )
    )
    ham = F.aggregate(
        F.zip_with(
            "embedding",
            "_csign",
            lambda v, cs: F.when(
                (v.cast("double") >= 0) != cs, F.lit(1)
            ).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("label").orderBy(F.col("hamming").desc(), "vec_id")
    return (
        emb.join(F.broadcast(sums), "label")
        .select("label", "vec_id", ham.alias("hamming"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= OUTLIER_TOP)
        .orderBy("label", "rank")
        .select("label", "vec_id", "hamming", "rank")
    )


Q79_SQL = f"""
WITH e AS (
  SELECT vec_id, label,
         UNNEST(embedding) AS val,
         UNNEST(generate_series(1, len(embedding))) AS pos
  FROM embeddings),
c AS (
  SELECT label, pos,
         SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(25,12))) >= 0 AS csign
  FROM e GROUP BY label, pos),
h AS (
  SELECT e.label, e.vec_id,
         CAST(SUM(CASE WHEN (CAST(e.val AS DOUBLE) >= 0) <> c.csign
                       THEN 1 ELSE 0 END) AS BIGINT) AS hamming
  FROM e JOIN c ON e.label = c.label AND e.pos = c.pos
  GROUP BY e.label, e.vec_id),
r AS (
  SELECT label, vec_id, hamming,
         CAST(ROW_NUMBER() OVER (PARTITION BY label
                ORDER BY hamming DESC, vec_id) AS INT) AS rank
  FROM h)
SELECT label, vec_id, hamming, rank
FROM r WHERE rank <= {OUTLIER_TOP} ORDER BY label, rank
"""


# --- curriculum binning by quality decile -----------------------------------
CURRICULUM_BINS = 10


def q80_curriculum_bins(spark, sf_dir):
    """Curriculum-learning bin assignment: rank the corpus by the q18
    quality score, cut it into 10 equal-count deciles with NTILE (ties
    broken by doc_id so the assignment is deterministic and re-runnable),
    and emit the per-bin manifest (count, quality min/max/avg) a staged
    training schedule consumes — train on bin 1 first, anneal downward.
    The decile cut uses operators.ordering.global_ntile — a distributed
    range-sort of the narrow (score, id) projection plus the closed-form
    NTILE bucket function — never the partition-less NTILE window that
    would drag the whole corpus onto one task; the avg goes through
    exact decimal so the manifest is engine-portable."""
    from synch_spark.operators.ordering import global_ntile
    from synch_spark.operators.text import quality_score

    docs = _docs(spark, sf_dir)
    scored = docs.select("doc_id", quality_score("text").alias("q"))
    qd = F.col("q").cast("decimal(18,6)")
    # small_bytes=0: always the distributed range-sort path (see q77 —
    # no WindowExec warning, one plan at every scale)
    binned = global_ntile(
        scored, [F.col("q").desc(), "doc_id"], CURRICULUM_BINS,
        bucket_col="bin", small_bytes=0
    )
    return (
        binned.select("q", F.col("bin").cast("int").alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("q").alias("q_min"),
            F.max("q").alias("q_max"),
            (F.sum(qd).cast("double") / F.count(F.lit(1))).alias("q_avg"),
        )
        .orderBy("bin")
    )


Q80_SQL = f"""
WITH s AS (
  SELECT doc_id,
         greatest(0.0, least(1.0,
           (least(CAST(len({TOK_SQL}) AS DOUBLE) / 32.0, 1.0)
            + (1.0 - abs(CAST(len(list_filter({TOK_SQL}, t -> t IN {STOP_IN})) AS DOUBLE)
                         / CAST(len({TOK_SQL}) AS DOUBLE) - 0.12))) / 2.0)) AS q
  FROM documents),
b AS (
  SELECT q, CAST(NTILE({CURRICULUM_BINS}) OVER (ORDER BY q DESC, doc_id) AS INT) AS bin
  FROM s)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(q) AS q_min, MAX(q) AS q_max,
       CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS q_avg
FROM b GROUP BY bin ORDER BY bin
"""


# --- incremental materialized-view maintenance under CDC --------------------
MV_CHUNKS = 4


def q81_incremental_mv(spark, sf_dir):
    """Incremental aggregate-view maintenance: the events stream is
    replayed in 4 chunks (split by event_id % 4 — signed count/sum
    deltas commute, so any split must give the same state), each chunk
    collapsed to signed per-user deltas (+1 insert / -1 delete) and
    folded into the running view via operators.mv — the refresh cost is
    O(delta), never a base-table rescan. The final view (net-count,
    net-value-sum per surviving user) must equal the one-shot batch
    aggregate, which is exactly what the DuckDB oracle computes — the
    equivalence IS the correctness claim for the incremental path
    (ClickHouse SummingMergeTree semantics, reference's engine family
    `synch/enums.py:14-18`, done natively)."""
    from synch_spark.operators import mv

    ev = _t(spark, sf_dir, "events")
    sign = F.when(F.col("event_type") == "delete", F.lit(-1)).otherwise(F.lit(1))
    view = None
    for i in range(MV_CHUNKS):
        chunk = ev.filter(F.pmod("event_id", F.lit(MV_CHUNKS)) == i)
        delta = mv.delta_aggregate(chunk, ["user_id"], ["value"], sign)
        view = mv.merge_delta(view, delta, ["user_id"], ["value"])
    return (
        mv.read_view(view, ["value"])
        .select("user_id", "n", F.col("value_sum").cast("double").alias("value_sum"))
        .orderBy("user_id")
    )


Q81_SQL = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'delete' THEN -1 ELSE 1 END) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2)) *
                CASE WHEN event_type = 'delete' THEN -1 ELSE 1 END) AS DOUBLE)
         AS value_sum
FROM events GROUP BY user_id
HAVING SUM(CASE WHEN event_type = 'delete' THEN -1 ELSE 1 END) <> 0
ORDER BY user_id
"""


# --- split-leakage audit: near-dup pairs straddling the train/val cut -------
def q96_split_leakage(spark, sf_dir):
    """Near-duplicate LEAKAGE audit of the q65 content-hash split: exact
    duplicates can never straddle it (assignment hashes the text), but
    near-duplicates — different bytes, high shingle overlap — can, and a
    val doc whose near-twin sits in train silently inflates eval. The
    audit joins the q20 inverted-index Jaccard similarity pairs (sampled
    10% probe set, same sampling as q20) to each side's split and
    reports pairs checked / pairs leaking / leak rate. This is the
    measurement that motivates cluster-aware splitting (assign by dedup-
    cluster representative, not per-doc) — the repair is one hash swap
    in q65 once clusters exist. Plan shape: q20's shingle equi-join plus
    two broadcast-able split lookups keyed on doc_id; the split column
    derives map-side from the text already being scanned."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.jaccard_pairs(
        docs, "text", "doc_id", threshold=JACCARD_T, n=3,
        probe_filter=lambda a: a % 10 == 0,
    )
    splits = docs.select(
        "doc_id", dedup.content_split(F.col("text")).alias("split")
    )
    sa = splits.select(F.col("doc_id").alias("a"), F.col("split").alias("_sa"))
    sb = splits.select(F.col("doc_id").alias("b"), F.col("split").alias("_sb"))
    return (
        pairs.join(sa, "a").join(sb, "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum((F.col("_sa") != F.col("_sb")).cast("int"))
            .cast("bigint").alias("n_leaking"),
        )
        .select(
            "n_pairs", "n_leaking",
            (F.col("n_leaking").cast("double")
             / F.greatest(F.col("n_pairs"), F.lit(1)).cast("double"))
            .alias("leak_rate"),
        )
    )


Q96_SQL = f"""
WITH {{gram_ctes}},
sz AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
  FROM tok x JOIN tok y ON x.t = y.t
  WHERE x.doc_id < y.doc_id AND x.doc_id % 10 = 0
  GROUP BY x.doc_id, y.doc_id),
pairs AS (
  SELECT a, b
  FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
  WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= {JACCARD_T}),
splits AS (
  SELECT doc_id,
         CASE WHEN strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1 < 12
              THEN 'train' ELSE 'val' END AS split
  FROM documents)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN pa.split <> pb.split THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaking,
       CAST(SUM(CASE WHEN pa.split <> pb.split THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(GREATEST(COUNT(*), 1) AS DOUBLE) AS leak_rate
FROM pairs JOIN splits pa ON pa.doc_id = a JOIN splits pb ON pb.doc_id = b
""".replace("{gram_ctes}", GRAM_TOK_CTES)


# --- aggregate-over-join MV (join-aggregate decomposition) -------------------
def q95_join_mv(spark, sf_dir):
    """Incremental aggregate-over-join view: net event count/value per
    customer MARKET SEGMENT, where the fact stream (events) carries only
    the FK (user_id = c_custkey) and the segment lives in the customer
    dimension. Maintained by join-aggregate decomposition
    (operators.mv.JoinMaterializedView): the stream folds into per-FK
    signed partials chunk by chunk with ZERO joins at refresh time; the
    dim join + final regroup happen at read over FK-cardinality partials
    — so a re-segmented customer needs no view maintenance at all, and
    at 100 TB the fact is never rescanned nor joined per batch. The
    DuckDB oracle states the one-shot join+aggregate; equality proves
    the decomposition. Dangling FKs drop at read (inner join), matching
    the oracle's JOIN."""
    from synch_spark.operators import mv

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    sign = F.when(F.col("event_type") == "delete", F.lit(-1)).otherwise(F.lit(1))
    partials = None
    for i in range(MV_CHUNKS):
        chunk = ev.filter(F.pmod("event_id", F.lit(MV_CHUNKS)) == i)
        delta = mv.delta_aggregate(chunk, ["user_id"], ["value"], sign)
        partials = mv.merge_delta(partials, delta, ["user_id"], ["value"])
    return (
        partials.join(cust, partials.user_id == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum("n_delta").cast("bigint").alias("n"),
            F.sum("value_delta").cast("double").alias("value_sum"),
        )
        .orderBy("segment")
    )


Q95_SQL = """
WITH partials AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'delete' THEN -1 ELSE 1 END) AS n,
         SUM(CAST(value AS DECIMAL(18,2)) *
             CASE WHEN event_type = 'delete' THEN -1 ELSE 1 END) AS sv
  FROM events GROUP BY user_id
  HAVING SUM(CASE WHEN event_type = 'delete' THEN -1 ELSE 1 END) <> 0)
SELECT c_mktsegment AS segment,
       CAST(SUM(n) AS BIGINT) AS n,
       CAST(SUM(sv) AS DOUBLE) AS value_sum
FROM partials JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment ORDER BY segment
"""


# --- positional-index phrase search -----------------------------------------
PHRASE = ["stream", "table", "hash"]


def q85_phrase_search(spark, sf_dir):
    """Exact phrase search executed the inverted-index way: positional
    postings (token -> (doc_id, pos)) filtered to the query terms, then
    adjacency joins (pos2 = pos1+1, pos3 = pos2+1) intersect the postings
    into phrase hits. The ORACLE is the naive scan (substring containment
    over the raw text) — the index plan must return exactly the scan's
    answer, which is the core invariant of any secondary index. At scale
    the postings build is one explode + filter (the filter prunes to
    query-term postings BEFORE any shuffle), and the joins key on doc_id
    — co-partitioned, no fact-table scan at query time once postings are
    materialized."""
    from synch_spark.operators.text import tokens

    docs = _docs(spark, sf_dir)
    postings = (
        docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "token"))
        .filter(F.col("token").isin(PHRASE))
        # "once postings are materialized" — actually materialize them:
        # each per-term branch below is a separate reference, and
        # without the checkpoint the tokenize+posexplode corpus pass
        # re-executed once PER PHRASE TERM (documents scanned 3x). The
        # stored postings are query-term-only — tiny at any scale
        .localCheckpoint(eager=False)
    )
    p = [
        postings.filter(F.col("token") == t).select(
            F.col("doc_id").alias(f"d{i}"), F.col("pos").alias(f"p{i}")
        )
        for i, t in enumerate(PHRASE)
    ]
    hits = p[0]
    for i in range(1, len(PHRASE)):
        hits = hits.join(
            p[i],
            (F.col("d0") == F.col(f"d{i}")) & (F.col(f"p{i}") == F.col(f"p{i-1}") + 1),
        ).drop(f"d{i}")
    return hits.select(F.col("d0").alias("doc_id")).distinct().orderBy("doc_id")


Q85_SQL = f"""
SELECT doc_id FROM documents
WHERE strpos(' ' || array_to_string({TOK_SQL}, ' ') || ' ',
             ' {' '.join(PHRASE)} ') > 0
ORDER BY doc_id
"""
# token-normalized text, not raw: the positional index matches the
# phrase across ANY whitespace run (tokens split on \\s+), so the
# oracle must too — a tab between phrase words diverged the two


# --- BM25 ranked retrieval ---------------------------------------------------
BM25_TERMS = ["table", "stream", "hash"]
BM25_K1 = 1.2
BM25_B = 0.75


def q86_bm25(spark, sf_dir):
    """BM25 ranked retrieval for a 3-term query — the scoring function a
    corpus search/retrieval layer runs over the same postings q85 built.
    Engine-portability variant: the idf factor is the raw odds ratio
    (N - df + 0.5)/(df + 0.5) WITHOUT the log — log(x) is libm-dependent
    in the last ulp, while +,*,/ are IEEE-correctly-rounded everywhere,
    so the identical expression tree yields bit-identical doubles in
    Spark and DuckDB; the ranking is the same since log is monotone. The
    3 per-term scores fold through exact decimal so summation order
    can't matter. One explode pass builds tf and dl together; df/N/avgdl
    are a tiny broadcast scalar row."""
    from synch_spark.operators.text import tokens

    docs = _docs(spark, sf_dir)
    base = docs.select("doc_id", tokens("text").alias("_toks"))
    toks = base.select("doc_id", F.size("_toks").alias("dl"),
                       F.explode("_toks").alias("token"))
    tf = (
        toks.filter(F.col("token").isin(BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        # tiny (3-term postings) but its subtree is the full
        # tokenize+explode pass — materialize once for the df fold and
        # the scoring join (q103's compact-proxy shape)
        .localCheckpoint(eager=False)
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.sum(F.size("_toks")).cast("double") / F.count(F.lit(1))).alias("_avgdl"),
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    tfd, dld = F.col("tf").cast("double"), F.col("dl").cast("double")
    idf = (F.col("_n").cast("double") - F.col("df").cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    term_score = idf * (
        (tfd * F.lit(BM25_K1 + 1.0))
        / (tfd + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (dld / F.col("_avgdl"))))
    )
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_score.cast("decimal(25,12)").alias("_s"))
        .groupBy("doc_id")
        .agg(F.sum("_s").cast("double").alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )


Q86_SQL = f"""
WITH base AS (SELECT doc_id, {TOK_SQL} AS w FROM documents),
toks AS (SELECT doc_id, len(w) AS dl, t AS token FROM base, UNNEST(w) AS u(t)),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf, MIN(dl) AS dl
  FROM toks WHERE token IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
  GROUP BY doc_id, token),
stats AS (
  SELECT COUNT(*) AS n, CAST(SUM(len(w)) AS DOUBLE) / COUNT(*) AS avgdl FROM base),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token)
SELECT doc_id,
       CAST(SUM(CAST(
         ((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
         * ((CAST(tf AS DOUBLE) * {BM25_K1 + 1.0})
            / (CAST(tf AS DOUBLE) + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B}
               * (CAST(dl AS DOUBLE) / avgdl))))
         AS DECIMAL(25,12))) AS DOUBLE) AS score
FROM tf JOIN dfreq USING (token) CROSS JOIN stats
GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10
"""


# --- versioned-store needle lookup, oracle-gated end-to-end ---------------
def _needle_table(spark, sf_dir):
    """Session-cached scratch pk-clustered versioned table over orders,
    committed with key stats + bloom sidecars — the artifact q108's point
    lookup probes. Same maintained-artifact treatment as q42/q117-q119:
    ingest+index is a maintenance job; the graded query is the pruned
    lookup. First call in any session still exercises the full
    write+index path."""
    from synch_spark.session import scratch_dir

    from synch_spark.sources.table import ParquetTable

    def build():
        orders = _t(spark, sf_dir, "orders")
        t = ParquetTable(spark, scratch_dir("synch-q108-"))
        t.overwrite(
            orders.select("o_orderkey", "o_custkey", "o_totalprice"),
            cluster_by=("o_orderkey",), key="o_orderkey",
        )
        return t

    return _NEEDLE_CACHE.get_or_build(spark, sf_dir, build)


def q108_point_lookup_pruned(spark, sf_dir):
    """The 100 TB needle path on the GRADED surface: build a scratch
    pk-clustered versioned table from orders, indexed by its commit
    (log-entry key stats + bloom sidecars), then answer a handful-of-keys lookup
    through `bloom.point_lookup` — snapshot replay, per-file ranges from
    the log entries, bloom refinement, pruned `read_files`. The oracle
    is the plain SQL filter, so the WHOLE metadata stack (manifest log
    -> stats -> bloom -> pruned read) is hash-gated, not just
    unit-tested. Keys mix present and absent values so both the
    positive path and the absence proofs execute."""
    from synch_spark.sources import bloom as bloom_idx

    t = _needle_table(spark, sf_dir)
    keys = [1, 7, 32, 33, 4000, 999_999_999]
    return (
        bloom_idx.point_lookup(t, "o_orderkey", keys)
        .select(
            "o_orderkey", "o_custkey",
            F.col("o_totalprice").cast("double").alias("price"),
        )
        .orderBy("o_orderkey")
    )


Q108_SQL = """
SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price
FROM orders WHERE o_orderkey IN (1, 7, 32, 33, 4000, 999999999)
ORDER BY o_orderkey
"""


def _tt_audit_table(spark, sf_dir):
    """Session-cached scratch versioned table with three CDC commits —
    the artifact q117's time-travel audit reads. The ingest (three
    sequential merge commits) is the maintained part: in production a
    CDC stream committed those versions long before anyone audits them,
    so the bench warms this in setup (cost under ``index_build_s``);
    the first call in any other session still pays and exercises the
    full replay. Returns ``(table, [v0, v1, v2])``."""
    from synch_spark.session import scratch_dir

    from pyspark.sql import types as T

    from synch_spark.config import Engine, TableSpec
    from synch_spark.events import parse_values, split_updates
    from synch_spark.operators.cdc_apply import apply_cdc_batch
    from synch_spark.sources.table import ParquetTable

    def build():
        # fixed event_id cap: the query grades commit/snapshot machinery,
        # not volume — keep its cost identical across scale factors
        ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 6000)
        raw = ev.select(
            (F.col("event_id") % 3).alias("_batch"),
            F.lit("db").alias("schema"),
            F.lit("tt_state").alias("table"),
            F.when(F.col("event_type") == "error", F.lit("delete"))
            .when(F.col("event_type") == "signup", F.lit("insert"))
            .otherwise(F.lit("update"))
            .alias("action"),
            F.to_json(F.struct("user_id", "value")).alias("before"),
            F.to_json(F.struct("user_id", "value")).alias("after"),
            F.unix_micros("ts").alias("event_unixtime"),
        )
        value_schema = T.StructType([
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ])
        spec = TableSpec(schema="db", table="tt_state", pk=("user_id",),
                         engine=Engine.REPLACING_MERGE_TREE)
        table = ParquetTable(spark, scratch_dir("synchspark_q117_"),
                             retain=4)
        versions = []
        for k in range(3):
            typed = parse_values(
                split_updates(raw.filter(F.col("_batch") == k).drop("_batch")),
                value_schema)
            apply_cdc_batch(table, typed, spec)
            versions.append(table.current_version())
        return table, versions

    return _TT_AUDIT_CACHE.get_or_build(spark, sf_dir, build)


def q117_time_travel_audit(spark, sf_dir):
    """Manifest-log time travel on the GRADED surface: replay the
    events stream as THREE CDC batches (event_id % 3) into a scratch
    versioned table, record the commit version after each apply, then
    read every historical version back via `ParquetTable.read(version)`
    and report its row count and exact value sum. The oracle
    reconstructs each historical state from the event history in pure
    SQL (last-applied-batch-wins per pk, then latest event within that
    batch — exactly `_apply_merging`'s unconditional-upsert semantics),
    so snapshot isolation of the manifest log is hash-gated end-to-end,
    not just unit-tested. At 100 TB a version read is O(1) metadata
    (one log entry / checkpoint) + a pruned scan of that snapshot's
    files — no copy was ever made, which is the point of the log."""
    table, versions = _tt_audit_table(spark, sf_dir)
    parts = [
        table.read(v)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(F.lit(k).cast("long").alias("version_idx"), "n_rows",
                "sum_value")
        for k, v in enumerate(versions)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("version_idx")


Q117_SQL = """
WITH b AS (
  SELECT user_id, value, ts, event_id, event_type,
         event_id % 3 AS batch
  FROM events WHERE event_id < 6000),
state AS (
  SELECT k.version_idx, user_id, value, event_type,
         ROW_NUMBER() OVER (
           PARTITION BY k.version_idx, user_id
           ORDER BY batch DESC, ts DESC, event_id DESC) AS rn
  FROM b JOIN (VALUES (0), (1), (2)) AS k(version_idx)
       ON b.batch <= k.version_idx)
SELECT CAST(version_idx AS BIGINT) AS version_idx,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM state WHERE rn = 1 AND event_type <> 'error'
GROUP BY version_idx ORDER BY version_idx
"""


def q122_clone_restore_audit(spark, sf_dir):
    """Clone + rollback on the GRADED surface: fork q117's committed
    scratch table with `ParquetTable.clone` (per-file server-side-copy
    analog + one checkpoint entry), roll the FORK back to its first CDC
    commit with `restore` (O(diff files), fresh pool identities), and
    report (state, n_rows, sum_value) for the fork's head BEFORE the
    rollback and AFTER it. The oracle reconstructs both states from the
    event history (q117's window CTE), so the whole clone+restore
    machinery — file copies, stats carry, log replay, rollback commit —
    is value-hash-gated, not just unit-tested. The source table is
    untouched (q117 reads it concurrently in the same session). The
    reference's only rollback is `etl --renew`: drop the target table
    and re-run the full source load
    (/root/reference/synch/replication/etl.py:38-41)."""
    from synch_spark.session import scratch_dir

    table, versions = _tt_audit_table(spark, sf_dir)
    fork = table.clone(scratch_dir("synchspark_q122_"))
    # the fork starts at v0 == the source's HEAD state (versions[2]);
    # to roll back past it, replay the head->v0 diff as a restore: the
    # fork has only its own v0, so re-commit the source's first-version
    # file set through the same per-file copy path
    head = fork.read().agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
    ).select(F.lit("head").alias("state"), "n_rows", "sum_value")
    # clone the source AT its first retained version, then verify the
    # fork's restore round-trip: commit the head state again on top and
    # restore back to the fork's v0 (the source-v0 image)
    old_fork = table.clone(scratch_dir("synchspark_q122b_"),
                           version=versions[0])
    old_fork.overwrite(fork.read())  # v1 = head image (the "bad" write)
    restored_v = old_fork.restore(0)
    assert restored_v == 2
    restored = old_fork.read().agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
    ).select(F.lit("restored").alias("state"), "n_rows", "sum_value")
    return head.unionByName(restored).orderBy("state")


Q122_SQL = """
WITH b AS (
  SELECT user_id, value, ts, event_id, event_type,
         event_id % 3 AS batch
  FROM events WHERE event_id < 6000),
state AS (
  SELECT k.version_idx, user_id, value, event_type,
         ROW_NUMBER() OVER (
           PARTITION BY k.version_idx, user_id
           ORDER BY batch DESC, ts DESC, event_id DESC) AS rn
  FROM b JOIN (VALUES (0), (2)) AS k(version_idx)
       ON b.batch <= k.version_idx)
SELECT CASE version_idx WHEN 2 THEN 'head' ELSE 'restored' END AS state,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM state WHERE rn = 1 AND event_type <> 'error'
GROUP BY version_idx ORDER BY state
"""


def q121_change_feed(spark, sf_dir):
    """Row-level change feed (`ParquetTable.changes`) on the GRADED
    surface: over q117's scratch table (three CDC merge commits), diff
    version 0 against version 2 keyed on the pk and report every row a
    downstream consumer would apply — insert / delete /
    update_preimage / update_postimage — with carried-over rows of
    re-masked files suppressed. The oracle reconstructs both states from the event
    history (q117's window CTE) and classifies via a null-safe FULL
    OUTER JOIN, so the whole feed — file-diff selection, image
    comparison, pair emission — is hash-gated per row, not just
    unit-tested. The reference is a one-way feed INTO the target
    (/root/reference/synch/replication/continuous.py); this makes the
    stored table itself a change SOURCE, so at 100 TB an incremental
    consumer reads O(changed files), never the table."""
    table, versions = _tt_audit_table(spark, sf_dir)
    feed = table.changes(versions[0], versions[2], pk="user_id")
    return feed.select(
        "user_id",
        F.col("value").cast(DEC).cast("double").alias("value"),
        F.col("_change_type").alias("change_type"),
    ).orderBy("user_id", "change_type")


Q121_SQL = """
WITH b AS (
  SELECT user_id, value, ts, event_id, event_type,
         event_id % 3 AS batch
  FROM events WHERE event_id < 6000),
ranked AS (
  SELECT k.version_idx, user_id, value, event_type,
         ROW_NUMBER() OVER (
           PARTITION BY k.version_idx, user_id
           ORDER BY batch DESC, ts DESC, event_id DESC) AS rn
  FROM b JOIN (VALUES (0), (2)) AS k(version_idx) ON b.batch <= k.version_idx),
s0 AS (SELECT user_id, value FROM ranked
       WHERE version_idx = 0 AND rn = 1 AND event_type <> 'error'),
s2 AS (SELECT user_id, value FROM ranked
       WHERE version_idx = 2 AND rn = 1 AND event_type <> 'error'),
j AS (
  SELECT s0.user_id AS u0, s0.value AS v0, s2.user_id AS u2, s2.value AS v2
  FROM s0 FULL OUTER JOIN s2 ON s0.user_id = s2.user_id)
SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value,
       change_type
FROM (
  SELECT u2 AS user_id, v2 AS value, 'insert' AS change_type
  FROM j WHERE u0 IS NULL
  UNION ALL
  SELECT u0, v0, 'delete' FROM j WHERE u2 IS NULL
  UNION ALL
  SELECT u0, v0, 'update_preimage' FROM j
  WHERE u0 IS NOT NULL AND u2 IS NOT NULL AND v0 IS DISTINCT FROM v2
  UNION ALL
  SELECT u2, v2, 'update_postimage' FROM j
  WHERE u0 IS NOT NULL AND u2 IS NOT NULL AND v0 IS DISTINCT FROM v2
)
ORDER BY user_id, change_type
"""


# --- Debezium envelope decode, oracle-gated -------------------------------
def q109_debezium_decode(spark, sf_dir):
    """`events.debezium_to_raw` on the graded surface: synthesize the
    standard Debezium envelope from orders rows (compact JSON, byte-
    identical construction in both engines), decode it, and compare the
    raw-event fields against the oracle's direct mapping — op c/d ->
    insert/delete, before/after payload extraction, ts_ms -> micros."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    obj = F.concat(F.lit('{"id":'), F.col("o_orderkey").cast("string"),
                   F.lit("}"))
    is_del = F.col("o_orderstatus") == "F"
    env = F.concat(
        F.lit('{"payload":{"op":"'),
        F.when(is_del, F.lit("d")).otherwise(F.lit("c")),
        F.lit('","before":'),
        F.when(is_del, obj).otherwise(F.lit("null")),
        F.lit(',"after":'),
        F.when(is_del, F.lit("null")).otherwise(obj),
        F.lit(',"source":{"db":"db","table":"orders","ts_ms":'),
        F.col("o_orderkey").cast("string"),
        F.lit("}}}"),
    )
    from synch_spark.events import debezium_to_raw

    return debezium_to_raw(orders.select(env.alias("value"))).orderBy(
        "event_unixtime"
    )


Q109_SQL = """
SELECT 'db' AS schema, 'orders' AS "table",
       CASE WHEN o_orderstatus = 'F' THEN 'delete' ELSE 'insert' END AS action,
       CASE WHEN o_orderstatus = 'F'
            THEN '{"id":' || o_orderkey || '}' END AS before,
       CASE WHEN o_orderstatus <> 'F'
            THEN '{"id":' || o_orderkey || '}' END AS after,
       CAST(o_orderkey AS BIGINT) * 1000 AS event_unixtime
FROM orders WHERE o_orderkey <= 2000 ORDER BY event_unixtime
"""


# --- Debezium precise-mode logical types, oracle-gated --------------------
def q111_debezium_precise_types(spark, sf_dir):
    """Default-config Debezium envelopes on the graded surface: DECIMAL
    as precise-mode base64 unscaled bytes, DATE as adaptive-mode epoch
    days, DATETIME as epoch millis — synthesized per orders row in pure
    Column algebra (conv/unhex/base64 is the exact inverse of the
    decoder), pushed through the full debezium_to_raw -> split_updates
    -> parse_values(debezium_types=True) pipeline, and compared against
    the oracle reading the source columns directly. This pins the decode
    the reference's canonical table (test(id int, amount decimal(10,2)),
    /root/reference/conftest.py:24-33) hits under the connector's
    defaults."""
    from pyspark.sql import types as T

    from synch_spark.events import debezium_to_raw, parse_values, split_updates

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    unscaled = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
    h = F.conv(unscaled.cast("string"), 10, 16)
    h = F.lpad(h, F.length(h) + F.pmod(F.length(h), F.lit(2)), "0")
    b64 = F.base64(F.unhex(
        F.when(F.substring(h, 1, 1).isin(*"89ABCDEF"),
               F.concat(F.lit("00"), h)).otherwise(h)
    ))
    days = F.unix_date(F.col("o_orderdate").cast("date"))
    ms = days.cast("long") * 86_400_000
    env = F.concat(
        F.lit('{"payload":{"op":"c","before":null,"after":{"id":'),
        F.col("o_orderkey").cast("string"),
        F.lit(',"amount":"'), b64,
        F.lit('","d":'), days.cast("string"),
        F.lit(',"ts":'), ms.cast("string"),
        F.lit('},"source":{"db":"db","table":"orders","ts_ms":'),
        F.col("o_orderkey").cast("string"),
        F.lit("}}}"),
    )
    vschema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.DecimalType(15, 2)),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampType()),
    ])
    # Materialize the synthesized envelope behind an exchange before the
    # decode: without the barrier Catalyst's projection collapse inlines
    # the whole concat(...) envelope into every downstream
    # get_json_object reference (~10 copies in the filter alone), and
    # the exploded tree costs seconds of analysis/codegen. A real
    # deployment never hits this — the envelope arrives as a Kafka
    # column, not an expression.
    envelopes = orders.select(env.alias("value")).repartition(8)
    # decimal_mode="precise" matches the synthesized connector config:
    # the default plain-first "auto" would misread any payload whose
    # base64 text also parses numerically (a 3-byte unscaled value
    # yields 4 base64 chars — '9999' = b64(0xf7df7d)), making
    # correctness fixture-luck-dependent
    typed = parse_values(
        split_updates(debezium_to_raw(envelopes)),
        vschema, debezium_types=True, decimal_mode="precise",
    )
    # double, not DECIMAL, in the FINAL projection: the checker's row
    # sort compares decimals as strings on the Spark side but floats on
    # the DuckDB side (house rule across the suite)
    return typed.select(
        "id", F.col("amount").cast(DEC).cast("double").alias("amount"), "d", "ts"
    ).transform(_pin).orderBy("id")


Q111_SQL = """
SELECT o_orderkey AS id,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS amount,
       CAST(o_orderdate AS DATE) AS d,
       CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS ts
FROM orders WHERE o_orderkey <= 2000 ORDER BY id
"""


def q112_wal2json_decode(spark, sf_dir):
    """The Postgres logical-replication wire format on the graded
    surface: wal2json payloads (the reference's plugin,
    /root/reference/synch/reader/postgres.py:68-128) synthesized per
    orders row in Column algebra, pushed through wal2json_to_raw ->
    split_updates -> parse_values(string_values=True) — PG carries
    every value as TEXT, so the string-mode typed parse is exactly what
    a real slot/pg_recvlogical feed exercises — and compared against
    the oracle reading the source columns directly. The include-
    timestamp field drives event_unixtime; it round-trips out as the
    order date."""
    from pyspark.sql import types as T

    from synch_spark.events import parse_values, split_updates, wal2json_to_raw

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    price = F.col("o_totalprice").cast("decimal(15,2)").cast("string")
    day = F.col("o_orderdate").cast("date").cast("string")
    env = F.concat(
        F.lit('{"change":[{"kind":"insert","schema":"db","table":"orders",'
              '"columnnames":["id","price","status"],"columnvalues":['),
        F.col("o_orderkey").cast("string"),
        F.lit(',"'), price,
        F.lit('","'), F.col("o_orderstatus"),
        F.lit('"]}],"timestamp":"'), day,
        F.lit(' 00:00:00+00"}'),
    )
    raw = wal2json_to_raw(orders.select(env.alias("value")))
    vschema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("price", T.DecimalType(15, 2)),
        T.StructField("status", T.StringType()),
    ])
    typed = parse_values(split_updates(raw), vschema, string_values=True)
    return typed.select(
        "id",
        F.col("price").cast(DEC).cast("double").alias("price"),
        "status",
        F.timestamp_micros(F.col("event_unixtime")).cast("date").alias("d"),
    ).transform(_pin).orderBy("id")


Q112_SQL = """
SELECT o_orderkey AS id,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
       o_orderstatus AS status,
       CAST(o_orderdate AS DATE) AS d
FROM orders WHERE o_orderkey <= 2000 ORDER BY id
"""


def q120_wal2json_v2_decode(spark, sf_dir):
    """wal2json format-version 2 on the graded surface: per-ROW
    messages ({"action":"I","columns":[{name,type,value},...]}) with
    B/C transaction framing interleaved, synthesized per orders row in
    Column algebra, auto-detected and decoded by the same
    wal2json_to_raw that handles v1 (q112) — the `pg_recvlogical -o
    format-version=2` shape, and the only format some managed-Postgres
    services expose. Same oracle as q112: the decode must recover the
    source columns exactly."""
    from pyspark.sql import types as T

    from synch_spark.events import parse_values, split_updates, wal2json_to_raw

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    price = F.col("o_totalprice").cast("decimal(15,2)").cast("string")
    day = F.col("o_orderdate").cast("date").cast("string")
    env = F.concat(
        F.lit('{"action":"I","schema":"db","table":"orders","columns":['
              '{"name":"id","type":"bigint","value":'),
        F.col("o_orderkey").cast("string"),
        F.lit('},{"name":"price","type":"numeric","value":"'), price,
        F.lit('"},{"name":"status","type":"text","value":"'),
        F.col("o_orderstatus"),
        F.lit('"}],"timestamp":"'), day,
        F.lit(' 00:00:00+00"}'),
    )
    # B/C framing rows interleave with the data rows and must be dropped
    framing = spark.range(2).select(
        F.when(F.col("id") == 0, F.lit('{"action":"B"}'))
        .otherwise(F.lit('{"action":"C"}')).alias("value"))
    raw = wal2json_to_raw(orders.select(env.alias("value")).unionByName(framing))
    vschema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("price", T.DecimalType(15, 2)),
        T.StructField("status", T.StringType()),
    ])
    typed = parse_values(split_updates(raw), vschema, string_values=True)
    return typed.select(
        "id",
        F.col("price").cast(DEC).cast("double").alias("price"),
        "status",
        F.timestamp_micros(F.col("event_unixtime")).cast("date").alias("d"),
    ).transform(_pin).orderBy("id")


def q133_pgoutput_decode(spark, sf_dir):
    """pgoutput — PostgreSQL's BUILT-IN logical-decoding plugin (the
    reference needs the wal2json extension installed server-side,
    /root/reference/synch/reader/postgres.py:68-128; pgoutput ships
    with every server) — on the graded surface. The binary wire
    messages are synthesized per orders row in pure Column algebra
    (hex-string assembly → unhex): each row becomes one
    Begin‖Insert‖Commit transaction blob whose Begin carries the order
    date as the commit timestamp (a SIGNED pre-2000 PG timestamp —
    TPC-H dates land before the 2000-01-01 PG epoch, so the sign
    handling is load-bearing), plus one Relation metadata payload. The
    blobs decode DISTRIBUTED through pgoutput_payloads_to_raw
    (driver-broadcast relation registry + mapInPandas, exact per-blob
    Begin timestamps) and type through the same
    parse_values(string_values=True) path as every PG source — same
    oracle as q112: the decode must recover the source columns exactly."""
    import struct as _struct

    from pyspark.sql import types as T

    from synch_spark.events import parse_values, split_updates
    from synch_spark.sources import pgoutput as po

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    price = F.col("o_totalprice").cast("decimal(15,2)").cast("string")
    status = F.col("o_orderstatus")
    okey = F.col("o_orderkey").cast("string")

    def _h(col):  # uppercase hex of the column's UTF-8 bytes
        return F.hex(col)

    def _len4(col):  # uint32 big-endian length prefix, 8 hex digits
        return F.lpad(F.hex(F.octet_length(col)), 8, "0")

    # Begin: 'B'(42) + final_lsn(8B zeros) + commit_ts(int64, µs since
    # 2000-01-01 — negative here; hex() of a negative long IS the
    # 16-digit two's complement) + xid(4B)
    commit_pg_us = (
        F.unix_date(F.col("o_orderdate").cast("date")).cast("long")
        * F.lit(86_400_000_000).cast("long")
        - F.lit(po.PG_EPOCH_US).cast("long"))
    begin_hex = F.concat(F.lit("42" + "0" * 16),
                         F.lpad(F.hex(commit_pg_us), 16, "0"),
                         F.lit("00000007"))
    # Insert: 'I'(49) + relid(00000001) + 'N'(4E) + TupleData
    tuple_hex = F.concat(
        F.lit("0003"),
        F.lit("74"), _len4(okey), _h(okey),
        F.lit("74"), _len4(price), _h(price),
        F.lit("74"), _len4(status), _h(status))
    insert_hex = F.concat(F.lit("49" + "00000001" + "4E"), tuple_hex)
    commit_hex = F.lit("43" + "00" + "0" * 48)
    payload = F.unhex(F.concat(begin_hex, insert_hex, commit_hex))

    def _cstr(s):
        return s.encode() + b"\x00"

    rel = b"R" + _struct.pack("!I", 1) + _cstr("db") + _cstr("orders") + b"d"
    rel += _struct.pack("!H", 3)
    for flags, name, oid in ((1, "id", 20), (0, "price", 1700),
                             (0, "status", 25)):
        rel += bytes([flags]) + _cstr(name) + _struct.pack("!Ii", oid, -1)
    rel_df = spark.createDataFrame([(bytearray(rel),)], "value binary")

    payloads = orders.select(payload.alias("value")).unionByName(rel_df)
    raw = po.pgoutput_payloads_to_raw(spark, payloads)
    vschema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("price", T.DecimalType(15, 2)),
        T.StructField("status", T.StringType()),
    ])
    typed = parse_values(split_updates(raw), vschema, string_values=True)
    return typed.select(
        "id",
        F.col("price").cast(DEC).cast("double").alias("price"),
        "status",
        F.timestamp_micros(F.col("event_unixtime")).cast("date").alias("d"),
    ).transform(_pin).orderBy("id")


def q134_pgoutput_streamed_decode(spark, sf_dir):
    """pgoutput protocol v2's STREAMED in-progress transactions on the
    graded surface: each orders row synthesizes a self-contained
    S‖(xid-prefixed Insert)‖E‖StreamCommit blob in Column algebra —
    the shape a PG14+ server emits once a transaction overflows
    logical_decoding_work_mem (streaming 'on'). The decoder must
    buffer the chunk, hold it through Stream Stop, and emit it only at
    Stream Commit stamped with the commit time (a signed pre-2000 PG
    timestamp). Distributed via the same pgoutput_payloads_to_raw path
    as q133; same oracle as q112 — hash equality proves the streamed
    route loses and reorders nothing vs the plain-transaction route."""
    from pyspark.sql import types as T

    from synch_spark.events import parse_values, split_updates
    from synch_spark.sources import pgoutput as po

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    price = F.col("o_totalprice").cast("decimal(15,2)").cast("string")
    status = F.col("o_orderstatus")
    okey = F.col("o_orderkey").cast("string")
    xid_hex = F.lpad(F.hex(F.col("o_orderkey")), 8, "0")

    def _h(col):
        return F.hex(col)

    def _len4(col):
        return F.lpad(F.hex(F.octet_length(col)), 8, "0")

    commit_pg_us = (
        F.unix_date(F.col("o_orderdate").cast("date")).cast("long")
        * F.lit(86_400_000_000).cast("long")
        - F.lit(po.PG_EPOCH_US).cast("long"))
    # S: 'S'(53) + xid + first_segment(01)
    start_hex = F.concat(F.lit("53"), xid_hex, F.lit("01"))
    # xid-prefixed Insert: 'I'(49) + xid + relid + 'N'(4E) + TupleData
    tuple_hex = F.concat(
        F.lit("0003"),
        F.lit("74"), _len4(okey), _h(okey),
        F.lit("74"), _len4(price), _h(price),
        F.lit("74"), _len4(status), _h(status))
    insert_hex = F.concat(F.lit("49"), xid_hex, F.lit("00000001" + "4E"),
                          tuple_hex)
    # E: 'E'(45); c: 'c'(63) + xid + flags(00) + 2×lsn(8B zeros) + ts
    stop_hex = F.lit("45")
    commit_hex = F.concat(F.lit("63"), xid_hex, F.lit("00" + "0" * 32),
                          F.lpad(F.hex(commit_pg_us), 16, "0"))
    payload = F.unhex(F.concat(start_hex, insert_hex, stop_hex, commit_hex))

    # explicit registry: the caller BUILT the schema, so pass 1 (the
    # Relation collect+broadcast, graded by q133) is a wasted full scan
    # of the synthesized frame here — the short-circuit halves the plan
    registry = {1: po.Relation(1, "db", "orders", "d",
                               [(1, "id", 20, -1), (0, "price", 1700, -1),
                                (0, "status", 25, -1)])}
    payloads = orders.select(payload.alias("value"))
    raw = po.pgoutput_payloads_to_raw(spark, payloads, relations=registry)
    vschema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("price", T.DecimalType(15, 2)),
        T.StructField("status", T.StringType()),
    ])
    typed = parse_values(split_updates(raw), vschema, string_values=True)
    return typed.select(
        "id",
        F.col("price").cast(DEC).cast("double").alias("price"),
        "status",
        F.timestamp_micros(F.col("event_unixtime")).cast("date").alias("d"),
    ).transform(_pin).orderBy("id")


def q135_debezium_avro_decode(spark, sf_dir):
    """Confluent-framed **Avro** Debezium envelopes on the graded
    surface — the wire shape most production Debezium topics actually
    carry (Avro + Schema Registry), which the reference sidesteps by
    shipping its own JSON producer
    (/root/reference/synch/broker/kafka.py:21-33). Each orders row
    synthesizes the framed binary value in pure Column algebra
    (zigzag-varint + length-prefixed Avro primitives as hex assembly →
    unhex — deliberately INDEPENDENT of the package's own Avro
    encoder, so encode/decode can't share a bug): magic 0x00 + schema
    id 7 + an Envelope record {before: union[null,Value], after:
    union[null,"Value" by-name ref], source{db,table,ts_ms}, op,
    ts_ms: union[null,long]} with Value {id: long, price: logical
    decimal(15,2) on bytes, status: string}. status 'F' rows become op
    'd' with a before image, the rest op 'c' with an after image — the
    decode (sources.avro_codec.debezium_avro_to_raw, Arrow-batched
    mapInPandas, schema-registry dict in the closure) must unframe,
    resolve the named-type union, decode the logical decimal, and
    re-emit the values contract; the typed parse then recovers the
    source columns exactly. Same oracle as q112."""
    from pyspark.sql import types as T

    from synch_spark.events import parse_values, split_updates
    from synch_spark.sources.avro_codec import (
        debezium_avro_to_raw,
        load_schemas,
    )

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)

    # the hex assembly is built as SQL TEXT and parsed by ONE F.expr():
    # the Column-builder form of the same tree cost ~500 py4j round
    # trips (~1.2 s of driver latency INSIDE the per-query timer, and
    # GIL-serialized in the concurrent drain); the parsed expression is
    # node-for-node the tree the builders produced, so the synthesized
    # bytes — hash-gated against the q112 oracle — are unchanged.
    def _varint_hex(zz, max_groups=10):
        # unsigned LEB128-with-msb-continuation varint of a non-negative
        # long, as hex text. Group i emits iff bits remain at/above it.
        # ``max_groups`` bounds the emitted when-tree to the field's
        # actual magnitude — the full 10-group form per varint made the
        # synthesized plan's codegen the dominant cost of the query.
        pieces = []
        for i in range(max_groups):
            grp = f"shiftrightunsigned({zz}, {7 * i})"
            byte = (f"(CASE WHEN shiftrightunsigned({zz}, {7 * (i + 1)})"
                    f" != 0 THEN ({grp} & 127) | 128"
                    f" ELSE {grp} & 127 END)")
            piece = f"lpad(hex({byte}), 2, '0')"
            if i:
                piece = f"(CASE WHEN {grp} != 0 THEN {piece} ELSE '' END)"
            pieces.append(piece)
        return "concat(" + ", ".join(pieces) + ")"

    def _long_hex(col, max_groups=10):  # Avro long: zigzag then varint
        # cast long FIRST: int columns (octet_length) take shift
        # amounts mod 32 in the JVM, so the i>=5 varint groups would
        # read shiftrightunsigned(zz, 35 & 31) and emit phantom bytes
        lc = f"CAST({col} AS BIGINT)"
        zz = f"(shiftleft({lc}, 1) ^ shiftright({lc}, 63))"
        return _varint_hex(zz, max_groups)

    def _str_hex(col):  # Avro string: varint byte-length + UTF-8
        # length < 64 for every string here -> single varint group
        return f"concat({_long_hex(f'octet_length({col})', 1)}, hex({col}))"

    # price as Avro logical decimal: length-prefixed minimal big-endian
    # two's-complement unscaled bytes (same construction q111 pins for
    # the JSON converter's base64 — here the bytes go on the wire raw)
    unscaled = "CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)"
    h0 = f"conv(CAST({unscaled} AS STRING), 10, 16)"
    h = f"lpad({h0}, length({h0}) + pmod(length({h0}), 2), '0')"
    price_hex = (f"(CASE WHEN substring({h}, 1, 1) IN "
                 f"({', '.join(repr(c) for c in '89ABCDEF')}) "
                 f"THEN concat('00', {h}) ELSE {h} END)")
    price_field = (
        f"concat({_long_hex(f'CAST(length({price_hex}) / 2 AS BIGINT)', 1)}"
        f", {price_hex})")

    value_rec = ("concat(" +  # Value record: id, price, status — in order
                 _long_hex("o_orderkey", 5) +  # orderkey < 2^31
                 f", {price_field}, {_str_hex('o_orderstatus')})")
    is_del = "o_orderstatus = 'F'"
    null_branch = "'00'"             # union index 0 = null
    some_branch = f"concat('02', {value_rec})"  # union index 1
    ts_ms = ("(CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT)"
             " * CAST(86400000 AS BIGINT))")
    env_hex = ", ".join([
        "'0000000007'",  # Confluent frame: magic + schema id 7
        f"(CASE WHEN {is_del} THEN {some_branch} ELSE {null_branch} END)",
        f"(CASE WHEN {is_del} THEN {null_branch} ELSE {some_branch} END)",
        _str_hex("'db'"), _str_hex("'orders'"),               # source
        _long_hex(ts_ms, 7),  # epoch ms < 2^48: 7 varint groups
        _str_hex(f"(CASE WHEN {is_del} THEN 'd' ELSE 'c' END)"),  # op
        "'00'",  # envelope ts_ms: null branch
    ])
    # exchange barrier before the decode: projection collapse would
    # otherwise inline the whole hex-assembly expression tree into the
    # mapInPandas input projection several times over (q111's lesson)
    values = orders.select(
        F.expr(f"unhex(concat({env_hex}))").alias("value")).repartition(8)

    schemas = load_schemas({7: {
        "type": "record", "name": "Envelope",
        "namespace": "dbserver1.db.orders",
        "fields": [
            {"name": "before", "type": ["null", {
                "type": "record", "name": "Value", "fields": [
                    {"name": "id", "type": "long"},
                    {"name": "price",
                     "type": {"type": "bytes", "logicalType": "decimal",
                              "precision": 15, "scale": 2}},
                    {"name": "status", "type": "string"}]}],
             "default": None},
            {"name": "after", "type": ["null", "Value"], "default": None},
            {"name": "source", "type": {
                "type": "record", "name": "Source", "fields": [
                    {"name": "db", "type": "string"},
                    {"name": "table", "type": "string"},
                    {"name": "ts_ms", "type": "long"}]}},
            {"name": "op", "type": "string"},
            {"name": "ts_ms", "type": ["null", "long"], "default": None},
        ]}})
    raw = debezium_avro_to_raw(values, schemas)
    vschema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("price", T.DecimalType(15, 2)),
        T.StructField("status", T.StringType()),
    ])
    # plain typed parse: the Avro layer already decoded logical types to
    # exact JSON numbers/ISO text — no debezium_types remapping
    typed = parse_values(split_updates(raw), vschema)
    return typed.select(
        "id",
        F.col("price").cast(DEC).cast("double").alias("price"),
        "status",
        F.timestamp_micros(F.col("event_unixtime")).cast("date").alias("d"),
    ).transform(_pin).orderBy("id")


# --- deterministic stratified sampling (language re-balancing) ------------
def q110_stratified_sample(spark, sf_dir):
    """Language-mix re-balancing: down-sample English to 25%, keep 80%
    of zh, 50% of everything else — deterministically (md5 hash gate, no
    seeded sample), as a pure scan-side predicate with no shuffle. The
    oracle re-derives the EXACT kept row set, so the sampler is
    reproducible across engines, which is the whole point: the training
    corpus must be recomputable from the recipe."""
    from synch_spark.operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir)
    return (
        stratified_sample(docs, "doc_id", "lang",
                          {"en": 0.25, "zh": 0.8}, default_rate=0.5,
                          salt="mix1")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


Q110_SQL = """
SELECT doc_id, lang, source FROM documents
WHERE substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE lang WHEN 'en' THEN '40000000'
                WHEN 'zh' THEN 'cccccccd'
                ELSE '80000000' END
ORDER BY doc_id
"""


DATAOPS_QUERIES = {
    "q16_exact_dedup": (q16_exact_dedup, Q16_SQL),
    "q108_point_lookup_pruned": (q108_point_lookup_pruned, Q108_SQL),
    "q117_time_travel_audit": (q117_time_travel_audit, Q117_SQL),
    "q121_change_feed": (q121_change_feed, Q121_SQL),
    "q122_clone_restore_audit": (q122_clone_restore_audit, Q122_SQL),
    "q109_debezium_decode": (q109_debezium_decode, Q109_SQL),
    "q110_stratified_sample": (q110_stratified_sample, Q110_SQL),
    "q111_debezium_precise_types": (q111_debezium_precise_types, Q111_SQL),
    "q112_wal2json_decode": (q112_wal2json_decode, Q112_SQL),
    "q120_wal2json_v2_decode": (q120_wal2json_v2_decode, Q112_SQL),
    "q133_pgoutput_decode": (q133_pgoutput_decode, Q112_SQL),
    "q134_pgoutput_streamed_decode": (q134_pgoutput_streamed_decode, Q112_SQL),
    "q135_debezium_avro_decode": (q135_debezium_avro_decode, Q112_SQL),
    "q137_debezium_avro_roundtrip": (q137_debezium_avro_roundtrip, Q112_SQL),
    "q17_text_stats": (q17_text_stats, Q17_SQL),
    "q18_quality_langid": (q18_quality_langid, Q18_SQL),
    "q19_token_topk": (q19_token_topk, Q19_SQL),
    "q20_jaccard_pairs": (q20_jaccard_pairs, Q20_SQL),
    "q21_minhash_lsh": (q21_minhash_lsh, Q21_SQL),
    "q118_incremental_lsh_parity": (q118_incremental_lsh_parity, Q21_SQL),
    "q22_simhash": (q22_simhash, Q22_SQL),
    "q23_embedding_topk": (q23_embedding_topk, Q23_SQL),
    "q24_ann_lsh": (q24_ann_lsh, Q23_SQL),
    "q25_multimodal_features": (q25_multimodal_features, Q25_SQL),
    "q39_dedup_clusters": (q39_dedup_clusters, Q39_SQL),
    "q123_dedup_keep_best": (q123_dedup_keep_best, Q123_SQL),
    "q124_exact_decontamination": (q124_exact_decontamination, Q124_SQL),
    "q126_semantic_dedup": (q126_semantic_dedup, Q126_SQL),
    "q130_semdedup_incremental": (q130_semdedup_incremental, Q126_SQL),
    "q136_semdedup_refined_centroids": (q136_semdedup_refined_centroids,
                                        Q136_SQL),
    "q132_semantic_decontamination": (q132_semantic_decontamination,
                                      Q132_SQL),
    "q127_bigram_surprisal": (q127_bigram_surprisal, Q127_SQL),
    "q128_temperature_mix": (q128_temperature_mix, Q128_SQL),
    "q129_quality_cutoffs": (q129_quality_cutoffs, Q129_SQL),
    "q42_ann_ivf": (q42_ann_ivf, Q23_SQL),
    "q98_ann_lsh_exhaustive": (q98_ann_lsh_exhaustive, Q23_SQL),
    "q99_ann_ivf_exhaustive": (q99_ann_ivf_exhaustive, Q23_SQL),
    "q119_ivf_incremental_exhaustive": (q119_ivf_incremental_exhaustive, Q23_SQL),
    "q100_dedup_cc_chains": (q100_dedup_cc_chains, Q100_SQL),
    "q101_sketch_bounds": (q101_sketch_bounds, Q101_SQL),
    "q103_unigram_surprisal": (q103_unigram_surprisal, Q103_SQL),
    "q105_media_char_histogram": (q105_media_char_histogram, Q105_SQL),
    "q104_containment": (q104_containment, Q104_SQL),
    "q40_bpe_tokens": (q40_bpe_tokens, Q40_SQL),
    "q41_winnow_fingerprints": (q41_winnow_fingerprints, Q41_SQL),
    "q43_ngram_langid": (q43_ngram_langid, Q43_SQL),
    "q44_shared_sql": (q44_shared_sql, SHARED_SQL),
    "q47_embedding_near_dups": (q47_embedding_near_dups, Q47_SQL),
    "q50_tfidf_topterms": (q50_tfidf_topterms, Q50_SQL),
    "q57_gopher_quality": (q57_gopher_quality, Q57_SQL),
    "q62_ngram_repetition": (q62_ngram_repetition, Q62_SQL),
    "q65_hash_split": (q65_hash_split, Q65_SQL),
    "q66_source_budget": (q66_source_budget, Q66_SQL),
    "q67_length_histogram": (q67_length_histogram, Q67_SQL),
    "q68_contamination": (q68_contamination, Q68_SQL),
    "q69_sequence_packing": (q69_sequence_packing, Q69_SQL),
    "q72_chunking": (q72_chunking, Q72_SQL),
    "q73_profile": (q73_profile, Q73_SQL),
    "q76_segment_dedup": (q76_segment_dedup, Q76_SQL),
    "q77_training_shuffle": (q77_training_shuffle, Q77_SQL),
    "q78_vocab_coverage": (q78_vocab_coverage, Q78_SQL),
    "q79_embedding_outliers": (q79_embedding_outliers, Q79_SQL),
    "q80_curriculum_bins": (q80_curriculum_bins, Q80_SQL),
    "q81_incremental_mv": (q81_incremental_mv, Q81_SQL),
    "q95_join_mv": (q95_join_mv, Q95_SQL),
    "q96_split_leakage": (q96_split_leakage, Q96_SQL),
    "q85_phrase_search": (q85_phrase_search, Q85_SQL),
    "q86_bm25": (q86_bm25, Q86_SQL),
}
