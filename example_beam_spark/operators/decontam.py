"""Train/eval decontamination — the n-gram overlap scrub every serious
pretraining pipeline runs before training (the GPT-3 appendix-C /
Pile discipline: drop or flag training documents that share an n-gram
with the held-out evaluation set, so benchmark numbers measure
generalization, not memorized leakage).

Composes two pieces this repo already ships: the deterministic hash
split (corpus_ops.docs_train_split — eval membership is a pure scan
expression, no side-channel eval list) and the dedup module's
SHINGLE_N-gram machinery (dedup.shingles — same tokenization, same
n, so "shares an n-gram" means exactly what the near-dup family
means by it).

The module grew into the round-12 data-hygiene family — eight
oracle-gated artifacts (the list below plus
``dedup_longest_shared_span``, the span-length companion of the
exact-substring pairs):

- ``docs_decontaminate`` — the TRAIN-side manifest: every train doc
  with its leaked-gram count, the number of eval docs it collides
  with, and the keep flag (keep = zero shared grams). The kept subset
  IS the decontaminated corpus; emitting the flag rather than
  filtering keeps the operator composable (the budget/packing
  manifests downstream filter on it).
- ``eval_contamination_report`` — the EVAL-side view: per held-out
  doc, what fraction of its grams already occur in the train corpus
  (leak_frac 1.0 = the benchmark row is fully memorizable). This is
  the artifact that decides whether an eval stays valid at all.
- ``dedup_source_overlap_matrix`` — cross-source duplication
  provenance (which sources copy from which).
- ``embedding_matryoshka_audit`` — full-dim vs prefix-dim retrieval
  overlap (the truncated-storage decision number).
- ``dedup_exact_substring`` — verbatim >= L-char span pairs (the
  suffix-array guarantee expressed relationally).
- ``docs_final_train_manifest`` — the capstone composition: per-doc
  exact-dup / near-dup / contamination verdicts + final keep, every
  flag from a registered stage operator.

Scale: the gram join is the dedup family's equi-join shape — shuffle
by gram, collision work linear in shared grams. The eval side is a
~1% hash slice by construction (and in production eval sets are
tiny), so Catalyst broadcasts it under the default threshold; the
explicit broadcast hint pins the plan at fixture scale. Counts are
partial+final aggregates; no window over row-scale data anywhere.

Relation to ``corpusqa.eval_contamination`` (round 8): that entry is
the span-hash primitive at a FIXED id-prefix eval split (doc_id < 20,
8-token spans — the md5-span broadcast semi-join kernel). This family
is the production workflow around the idea: the REGISTERED 98/1/1
hash split as the eval definition, the dedup family's SHINGLE_N
tokenization, keep flags both sides, the eval-validity report, the
composed final manifest, and the streaming ingestion guard — the two
coexist the way the ANN ladder keeps both its pedagogical and
production rungs.

Reference analog: none (the reference is an ad-event engine) — this
family extends the corpus-curation surface the way SURVEY §2.8's
training-prep block does.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from example_beam_spark.operators.corpus_ops import _SPLIT_ORACLE, docs_train_split
from example_beam_spark.operators.dedup import _SHINGLES_SQL, shingles
from example_beam_spark.registry import register
from example_beam_spark.sources import load_table

_DECON_ORACLE = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    split AS ({_SPLIT_ORACLE}),
    shared AS (
        SELECT t.doc_id,
               COUNT(DISTINCT t.g) AS n_shared_grams,
               COUNT(DISTINCT e.doc_id) AS n_eval_docs
        FROM sh t
        JOIN split st ON st.doc_id = t.doc_id AND st.split = 'train'
        JOIN sh e ON e.g = t.g
        JOIN split se ON se.doc_id = e.doc_id AND se.split = 'test'
        GROUP BY t.doc_id
    )
    SELECT s.doc_id,
           CAST(COALESCE(x.n_shared_grams, 0) AS BIGINT) AS n_shared_grams,
           CAST(COALESCE(x.n_eval_docs, 0) AS BIGINT) AS n_eval_docs,
           COALESCE(x.n_shared_grams, 0) = 0 AS keep
    FROM split s
    LEFT JOIN shared x ON x.doc_id = s.doc_id
    WHERE s.split = 'train'
"""


# Broadcast gate for the eval gram side (round-12 advice): the eval
# slice is corpus-DERIVED (~1% of docs by the hash split), so an
# unconditional F.broadcast hint would force an arbitrarily large
# broadcast at the scale this module targets. Gate the hint on a cheap
# bounded estimate — the eval DOC count (one doc_id-only scan; grams
# per doc are fixture-bounded, production eval suites are small by
# construction). Above the gate, Catalyst picks the strategy
# (autoBroadcastJoinThreshold / AQE); the BroadcastHashJoin plan pin
# lives in tests/test_plans.py, not here.
_EVAL_BCAST_MAX_DOCS = 50_000  # ~10M grams ≈ low-hundreds MB broadcast ceiling


@register("docs_decontaminate", oracle=_DECON_ORACLE)
def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-TRAIN-doc decontamination manifest (module doc): shared-gram
    and colliding-eval-doc counts against the held-out test slice,
    keep = no overlap."""
    docs = load_table(spark, sf_dir, "documents")
    split = docs_train_split(spark, sf_dir).select("doc_id", "split")
    sh = shingles(docs)
    train_sh = sh.join(
        split.filter(F.col("split") == "train").select("doc_id"), "doc_id"
    )
    eval_ids = split.filter(F.col("split") == "test").select("doc_id")
    eval_sh = sh.join(eval_ids, "doc_id").select(
        F.col("doc_id").alias("eval_id"), "g"
    )
    if eval_ids.count() <= _EVAL_BCAST_MAX_DOCS:
        eval_sh = F.broadcast(eval_sh)
    shared = (
        train_sh.join(eval_sh, "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").cast("long").alias("n_shared_grams"),
            F.countDistinct("eval_id").cast("long").alias("n_eval_docs"),
        )
    )
    train_docs = split.filter(F.col("split") == "train").select("doc_id")
    return (
        train_docs.join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_grams", F.lit(0)).cast("long").alias(
                "n_shared_grams"
            ),
            F.coalesce("n_eval_docs", F.lit(0)).cast("long").alias("n_eval_docs"),
            (F.coalesce("n_shared_grams", F.lit(0)) == 0).alias("keep"),
        )
    )


_EVAL_REPORT_ORACLE = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    split AS ({_SPLIT_ORACLE}),
    eval_grams AS (
        SELECT e.doc_id, e.g
        FROM sh e JOIN split se ON se.doc_id = e.doc_id AND se.split = 'test'
    ),
    train_grams AS (
        SELECT DISTINCT t.g
        FROM sh t JOIN split st ON st.doc_id = t.doc_id AND st.split = 'train'
    )
    SELECT eg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN tg.g IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_leaked,
           CAST(SUM(CASE WHEN tg.g IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
               / COUNT(*) AS leak_frac
    FROM eval_grams eg
    LEFT JOIN train_grams tg ON tg.g = eg.g
    GROUP BY eg.doc_id
"""


@register("eval_contamination_report", oracle=_EVAL_REPORT_ORACLE)
def eval_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVAL-doc leakage (module doc): how much of each held-out
    doc's gram set already occurs anywhere in the train corpus. Eval
    docs shorter than SHINGLE_N have no grams and no row — they carry
    no leakable n-gram signal by definition."""
    docs = load_table(spark, sf_dir, "documents")
    split = docs_train_split(spark, sf_dir).select("doc_id", "split")
    sh = shingles(docs)
    eval_grams = sh.join(
        split.filter(F.col("split") == "test").select("doc_id"), "doc_id"
    )
    train_grams = (
        sh.join(split.filter(F.col("split") == "train").select("doc_id"), "doc_id")
        .select("g")
        .distinct()
        .withColumn("leaked", F.lit(1))
    )
    return (
        eval_grams.join(train_grams, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.coalesce("leaked", F.lit(0))).cast("long").alias("n_leaked"),
            (
                F.sum(F.coalesce("leaked", F.lit(0))).cast("double")
                / F.count("*")
            ).alias("leak_frac"),
        )
    )


# --------------------------------------------------------------------------
# dedup_source_overlap_matrix — cross-source duplication provenance
# --------------------------------------------------------------------------
#
# The dataset-hygiene report behind every "where did our duplicates
# come from" investigation: project the near-dup PAIR set (the
# registered dedup_minhash_lsh operator — same bands, same verify,
# same threshold) onto source labels and aggregate into a symmetric
# (source_lo, source_hi) matrix of duplicate-pair counts + mean
# jaccard. Off-diagonal mass = cross-source copying (mirrors,
# scrapes-of-scrapes — the signal that tells a curation team two
# "independent" sources are one); diagonal mass = within-source
# duplication. Scale: two equi-joins on doc_id attach labels to the
# pair frame (the doc→source map is corpus-sized — it shuffles by id
# like every dedup join; Catalyst broadcasts it at fixture scale),
# then a bounded |sources|² partial+final aggregate — the pair frame
# itself is the dedup family's already-proven banded-LSH output,
# linear in n.

from example_beam_spark.operators.dedup import _minhash_oracle  # noqa: E402
from example_beam_spark.registry import dsum, sql_dsum  # noqa: E402

_SRC_MATRIX_ORACLE = f"""
    WITH pairs AS ({_minhash_oracle()}),
    src AS (SELECT doc_id, source FROM documents),
    labeled AS (
        SELECT LEAST(sa.source, sb.source) AS source_lo,
               GREATEST(sa.source, sb.source) AS source_hi,
               p.jaccard
        FROM pairs p
        JOIN src sa ON sa.doc_id = p.doc_a
        JOIN src sb ON sb.doc_id = p.doc_b
        WHERE p.is_dup
    )
    SELECT source_lo, source_hi,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
           {sql_dsum("jaccard", "sum_jaccard")}
    FROM labeled
    GROUP BY source_lo, source_hi
"""


@register("dedup_source_overlap_matrix", oracle=_SRC_MATRIX_ORACLE)
def dedup_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric cross-source duplicate matrix (section comment):
    (source_lo, source_hi, n_dup_pairs, sum_jaccard) over the
    registered near-dup pair set at its own threshold."""
    from example_beam_spark.operators.dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir).filter(F.col("is_dup"))
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
            "jaccard",
        )
    )
    return labeled.groupBy("source_lo", "source_hi").agg(
        F.count("*").cast("long").alias("n_dup_pairs"),
        dsum("jaccard", "sum_jaccard"),
    )


# --------------------------------------------------------------------------
# embedding_matryoshka_audit — does the embedding survive truncation?
# --------------------------------------------------------------------------
#
# Matryoshka Representation Learning (Kusupati et al. 2022) trains
# embeddings whose PREFIX dimensions carry most of the signal, so a
# retrieval stack can store/scan d/2 (or d/4) floats per vector. The
# decision to flip a corpus to truncated storage needs exactly one
# number per candidate prefix: how much of the full-dimension top-k
# does prefix-only retrieval retain? This audit computes, per query,
# overlap@TOP_K between the exact full-dim top-k and the exact top-k
# over the first MAT_PREFIX_DIMS dimensions — both with the family's
# quantized-decimal cosine and deterministic tie order, so the entry
# carries a FULL value oracle (the "approximation" is the truncation
# itself, replicated exactly). On the fixture's random gaussians the
# expected overlap is low (prefix carries d/2 of i.i.d. signal);
# MRL-trained embeddings are the case where it approaches 1 — the
# audit is the measurement, not a quality gate. Scale: two broadcast-
# query scans and two per-query top-k windows (high-cardinality key,
# WindowGroupLimit applies), then a TOP_K-row-per-query overlap join.

MAT_PREFIX_DIMS = 32  # audit the d/2 prefix of the fixture's 64 dims

_MAT_ORACLE = f"""
    WITH elems AS ({{elems}}),
    norms AS (
        SELECT vec_id,
               SQRT(CAST(SUM(CAST(FLOOR(x * x * {{scale}}) AS BIGINT)) AS DOUBLE) / {{scale}}) AS nrm
        FROM elems GROUP BY vec_id
    ),
    half AS (SELECT * FROM elems WHERE i <= {MAT_PREFIX_DIMS}),
    hnorms AS (
        SELECT vec_id,
               SQRT(CAST(SUM(CAST(FLOOR(x * x * {{scale}}) AS BIGINT)) AS DOUBLE) / {{scale}}) AS nrm
        FROM half GROUP BY vec_id
    ),
    full_top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY (CAST(SUM(CAST(FLOOR(q.x * d.x * {{scale}}) AS BIGINT)) AS DOUBLE) / {{scale}})
                                / (MAX(nq.nrm) * MAX(nd.nrm)) DESC, d.vec_id
                   ) AS rk
            FROM elems q
            JOIN elems d ON d.i = q.i AND d.vec_id <> q.vec_id
            JOIN norms nq ON nq.vec_id = q.vec_id
            JOIN norms nd ON nd.vec_id = d.vec_id
            WHERE q.vec_id < {{nq}}
            GROUP BY q.vec_id, d.vec_id
        ) WHERE rk <= {{topk}}
    ),
    half_top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY (CAST(SUM(CAST(FLOOR(q.x * d.x * {{scale}}) AS BIGINT)) AS DOUBLE) / {{scale}})
                                / (MAX(nq.nrm) * MAX(nd.nrm)) DESC, d.vec_id
                   ) AS rk
            FROM half q
            JOIN half d ON d.i = q.i AND d.vec_id <> q.vec_id
            JOIN hnorms nq ON nq.vec_id = q.vec_id
            JOIN hnorms nd ON nd.vec_id = d.vec_id
            WHERE q.vec_id < {{nq}}
            GROUP BY q.vec_id, d.vec_id
        ) WHERE rk <= {{topk}}
    )
    SELECT f.query_id,
           CAST(COUNT(h.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(COUNT(h.neighbor_id) AS DOUBLE) / {{topk}} AS overlap_frac
    FROM full_top f
    LEFT JOIN half_top h
      ON h.query_id = f.query_id AND h.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
"""


def _mat_oracle() -> str:
    from example_beam_spark.operators.similarity import (
        _ELEMS_SQL,
        _SCALE,
        N_QUERIES,
        TOP_K,
    )

    return _MAT_ORACLE.format(
        elems=_ELEMS_SQL, scale=_SCALE, nq=N_QUERIES, topk=TOP_K
    )


@register("embedding_matryoshka_audit", oracle=_mat_oracle())
def embedding_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query overlap@TOP_K between full-dimension and
    MAT_PREFIX_DIMS-prefix exact retrieval (section comment)."""
    from pyspark.sql import Window

    from example_beam_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        dot_dec,
        norm_dec,
    )
    from example_beam_spark.sources import spread_small_input

    emb = spread_small_input(load_table(spark, sf_dir, "embeddings"), spark)

    def topk_of(df, col_expr):
        base = df.select(
            "vec_id", col_expr.alias("v")
        ).withColumn("nrm", norm_dec("v"))
        queries = base.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("q_v"),
            F.col("nrm").alias("q_nrm"),
        )
        scored = (
            base.withColumnRenamed("vec_id", "neighbor_id")
            .join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                (dot_dec("q_v", "v") / (F.col("q_nrm") * F.col("nrm"))).alias(
                    "cosine"
                ),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    full_top = topk_of(emb, F.col("embedding"))
    half_top = topk_of(emb, F.slice("embedding", 1, MAT_PREFIX_DIMS)).select(
        "query_id", F.col("neighbor_id").alias("h_neighbor")
    )
    return (
        full_top.join(
            half_top,
            (full_top.query_id == half_top.query_id)
            & (full_top.neighbor_id == half_top.h_neighbor),
            "left",
        )
        .drop(half_top.query_id)
        .groupBy("query_id")
        .agg(
            F.count("h_neighbor").cast("long").alias("n_overlap"),
            (F.count("h_neighbor").cast("double") / TOP_K).alias("overlap_frac"),
        )
    )


# --------------------------------------------------------------------------
# dedup_exact_substring — char-level L-gram exact-substring dedup
# --------------------------------------------------------------------------
#
# The OTHER half of Lee et al. 2022 ("Deduplicating Training Data ..."):
# MinHash catches near-duplicate DOCUMENTS; exact-substring dedup
# catches long verbatim SPANS embedded in otherwise-different documents
# (boilerplate, licenses, quoted passages) — the spans a model
# memorizes verbatim. The reference implementation is a suffix array;
# the Spark-first shape is the same guarantee expressed relationally:
# two docs share a >= L-char substring iff they share a char L-gram,
# so DISTINCT L-grams per doc + a gram-equality self-join enumerate
# exactly the span-sharing pairs (with n_shared_grams ~ shared span
# length - L + 1 as the span-mass signal).
#
# Scale (round-13: the skew treatment is now CODE, not this comment —
# exact_substring_pairs below): the gram stream is ~|text| rows per
# doc; a gram occurring in f docs contributes f² join rows, so one
# license header shared by a million docs would emit ~10¹² rows from a
# single gram. Above SUBSTR_CAP_AUTO_DOCS documents the registered
# entries therefore (a) FREQUENCY-CAP the gram head — drop grams with
# doc-frequency > SUBSTR_DF_CAP before the self-join, bounding every
# gram's contribution at F(F−1)/2 candidate pairs — and (b) join on
# 16-byte unhex(md5(g)) keys instead of the 40-char gram string. The
# recall argument for the cap: a doc pair sharing a >= L+1-char span
# shares >= 2 distinct L-grams, so capped output only loses pairs whose
# ENTIRE overlap is capped-out boilerplate — exactly the mass the
# doc-level near-dup family already flags; same cap discipline as the
# reference's repeater TTL (RepeatDoFn.scala:89-114 — every unbounded
# blowup gets a bound). Fixture scale keeps raw grams and no cap so
# the oracle is exact; the CAPPED semantics carry their own full value
# oracle (operators/scalepaths.py: dedup_exact_substring_capped) and a
# planted-boilerplate skew pin (tests/test_substring_cap.py).

SUBSTR_L = 40  # span length: well above SHINGLE_N word-grams (~15-20 chars)
# Production cap defaults: activate above fixture scale, env-tunable.
SUBSTR_DF_CAP = int(os.environ.get("SPARK_GRAFT_SUBSTR_DF_CAP", "64"))
SUBSTR_CAP_AUTO_DOCS = int(
    os.environ.get("SPARK_GRAFT_SUBSTR_CAP_AUTO_DOCS", "100000")
)


def _substr_gram_arr(positional: bool):
    """Array of char SUBSTR_L-grams of ``text`` — distinct for the pair
    operator, positional (i, gr) structs for the span operator."""
    if positional:
        return F.expr(
            f"""CASE WHEN length(text) >= {SUBSTR_L}
                THEN transform(
                    sequence(1, length(text) - {SUBSTR_L - 1}),
                    i -> struct(i AS i, substring(text, i, {SUBSTR_L}) AS gr))
                ELSE array() END"""
        )
    return F.expr(
        f"""CASE WHEN length(text) >= {SUBSTR_L}
            THEN array_distinct(transform(
                sequence(1, length(text) - {SUBSTR_L - 1}),
                i -> substring(text, i, {SUBSTR_L})))
            ELSE array() END"""
    )


def _cap_grams(grams: DataFrame, gram_col: str, df_cap: int) -> DataFrame:
    """The skew treatment (section comment): replace the raw gram string
    with a 16-byte md5 key ``gk`` and drop grams whose DOC frequency
    exceeds ``df_cap``. Doc frequency is counted over distinct
    (doc_id, gk) so the positional stream (repeated in-doc grams) gets
    the same per-CORPUS cap as the distinct stream. All three hops
    (df count, light filter-join, downstream self-join) hash by the
    same 16-byte key, so the exchanges co-partition."""
    keyed = grams.withColumn("gk", F.unhex(F.md5(F.col(gram_col)))).drop(gram_col)
    light = (
        keyed.select("doc_id", "gk")
        .distinct()
        .groupBy("gk")
        .agg(F.count("*").alias("df_g"))
        .filter(F.col("df_g") <= df_cap)
        .select("gk")
    )
    # MERGE hint (round-13 lane finding): the light key set is
    # CORPUS-sized (~every distinct gram survives the cap), but Catalyst's
    # post-aggregate size estimate can look broadcastable — at the 200k-doc
    # lane it tried to broadcast ~1 GB of keys and killed the driver.
    # Sort-merge keeps both sides shuffled by gk (the partitioning the df
    # aggregate and the downstream self-join already use) and spills
    # gracefully; this path only runs above fixture scale.
    return keyed.join(light.hint("merge"), "gk")


def _auto_cap(docs: DataFrame) -> int | None:
    """None (raw grams, oracle-exact) at fixture scale; SUBSTR_DF_CAP
    above SUBSTR_CAP_AUTO_DOCS documents (one metadata-cheap count)."""
    return SUBSTR_DF_CAP if docs.count() > SUBSTR_CAP_AUTO_DOCS else None


def exact_substring_pairs(docs: DataFrame, df_cap: int | None = None) -> DataFrame:
    """(doc_a, doc_b, n_shared_grams) over >= SUBSTR_L-char verbatim
    spans. df_cap=None joins raw gram strings (bit-exact vs the SQL
    oracle); df_cap=F activates the capped md5-keyed scale path.
    spread_small_input: the ~250× gram expansion (+ md5 on the capped
    path) is the CPU stage — on a few-split input it would run on a
    handful of cores before its first shuffle (no-op at real scale)."""
    from example_beam_spark.sources import spread_small_input

    docs = spread_small_input(docs, docs.sparkSession)
    grams = docs.select("doc_id", F.explode(_substr_gram_arr(False)).alias("g"))
    key = "g"
    if df_cap is not None:
        grams = _cap_grams(grams, "g", df_cap)
        key = "gk"
    a = grams.select(F.col("doc_id").alias("doc_a"), key)
    b = grams.select(F.col("doc_id").alias("doc_b"), key)
    if df_cap is not None:
        b = b.hint("merge")  # corpus-sized both sides (see _cap_grams)
    return (
        a.join(b, key)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared_grams"))
    )

_SUBSTR_ORACLE = f"""
    WITH grams AS (
        SELECT DISTINCT doc_id, substr(text, i, {SUBSTR_L}) AS g
        FROM documents
        CROSS JOIN UNNEST(generate_series(1, GREATEST(len(text) - {SUBSTR_L - 1}, 0))) AS u(i)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
"""


@register("dedup_exact_substring", oracle=_SUBSTR_ORACLE)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc pairs sharing a verbatim >= SUBSTR_L-char span (section
    comment): (doc_a, doc_b, n_shared_grams), doc_a < doc_b; the gram
    count is the shared-span mass. The frequency-capped md5-keyed scale
    path auto-activates above SUBSTR_CAP_AUTO_DOCS documents."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_pairs(docs, _auto_cap(docs))


# --------------------------------------------------------------------------
# docs_final_train_manifest — the composed "what do we actually train
# on" artifact
# --------------------------------------------------------------------------
#
# The round-12 capstone composition: one manifest row per TRAIN-split
# document carrying every hygiene verdict this repo computes —
#   exact_dup      = a byte-identical earlier doc exists
#                    (dedup_exact: dup_rank > 1),
#   neardup_drop   = clustered by the near-dup CC and NOT the cluster's
#                    argmax-quality keeper (dedup_cluster_best_quality),
#   contaminated   = shares an n-gram with the held-out eval slice
#                    (docs_decontaminate),
# and the final keep = none of the above. This is the artifact a
# training run actually consumes (the budget/packing manifests filter
# on keep); emitting per-stage flags instead of a filtered corpus
# keeps every drop ATTRIBUTABLE — curation reviews ask "why did we
# lose this doc", not just "how many survived". Each stage is the
# REGISTERED operator (same thresholds, same tie rules), so this
# composition can never drift from the individually-oracled pieces;
# the oracle composes the same three stage oracles. Scale: three
# doc_id equi-joins over per-doc frames — partial+final all the way
# down; the cluster stage's CC is the dedup family's proven
# large-star/small-star engine.

from example_beam_spark.operators.structures import _BESTQ_ORACLE  # noqa: E402

_FINAL_MANIFEST_ORACLE = f"""
    WITH split AS ({_SPLIT_ORACLE}),
    exact AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1
                   AS exact_dup
        FROM documents
    ),
    bestq AS ({_BESTQ_ORACLE}),
    decon AS ({_DECON_ORACLE})
    SELECT s.doc_id,
           e.exact_dup,
           COALESCE(NOT b.is_kept, FALSE) AS neardup_drop,
           NOT d.keep AS contaminated,
           (NOT e.exact_dup) AND COALESCE(b.is_kept, TRUE) AND d.keep AS keep
    FROM split s
    JOIN exact e ON e.doc_id = s.doc_id
    JOIN decon d ON d.doc_id = s.doc_id
    LEFT JOIN bestq b ON b.doc_id = s.doc_id
    WHERE s.split = 'train'
"""


@register("docs_final_train_manifest", oracle=_FINAL_MANIFEST_ORACLE)
def docs_final_train_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-train-doc hygiene manifest (section comment): exact_dup,
    neardup_drop, contaminated, keep — composed from the registered
    stage operators."""
    from example_beam_spark.operators.dedup import dedup_exact
    from example_beam_spark.operators.structures import dedup_cluster_best_quality

    exact = dedup_exact(spark, sf_dir).select(
        "doc_id", (F.col("dup_rank") > 1).alias("exact_dup")
    )
    bestq = dedup_cluster_best_quality(spark, sf_dir).select(
        "doc_id", "is_kept"
    )
    decon = docs_decontaminate(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("decon_keep")
    )
    return (
        decon.join(exact, "doc_id")
        .join(bestq, "doc_id", "left")
        .select(
            "doc_id",
            "exact_dup",
            F.coalesce(~F.col("is_kept"), F.lit(False)).alias("neardup_drop"),
            (~F.col("decon_keep")).alias("contaminated"),
            (
                ~F.col("exact_dup")
                & F.coalesce(F.col("is_kept"), F.lit(True))
                & F.col("decon_keep")
            ).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# dedup_longest_shared_span — how LONG is the verbatim overlap?
# --------------------------------------------------------------------------
#
# dedup_exact_substring says THAT two docs share a >= L-char span;
# curation thresholds (and memorization audits) want HOW LONG — a
# 45-char match is a common sentence, a 300-char match is a copied
# paragraph. Two docs' positional L-gram matches (ia, ib) extend a
# shared span iff they advance together: consecutive ia on a constant
# DIAGONAL ia - ib. So the longest shared span is a gaps-and-islands
# query over match positions: group matches by (pair, diagonal),
# island id = ia - row_number(ordered by ia), longest island run + L-1
# chars. Scale: positional grams are ~|text| rows/doc (no per-doc
# distinct here — positions matter); the island window is keyed by
# (doc_a, doc_b, diag) — very high cardinality, tiny partitions (runs
# are span-length bounded). Same boilerplate-gram skew hazard as the
# pair operator, AMPLIFIED (a heavy gram produces occ_a x occ_b match
# rows BEFORE the diagonal window): the registered entry auto-activates
# the same _cap_grams treatment above SUBSTR_CAP_AUTO_DOCS — the doc
# frequency is counted over DISTINCT (doc, gram) so in-doc repetition
# (periodic text) never inflates a gram into the cap, while the
# capped-out boilerplate head simply contributes no islands (rare-gram
# islands are unaffected — island runs only ever shrink at capped-out
# positions, by at most the boilerplate span the doc-level family
# already flags).

_SPAN_ORACLE = f"""
    WITH g AS (
        SELECT doc_id, i, substr(text, i, {SUBSTR_L}) AS gr
        FROM documents
        CROSS JOIN UNNEST(generate_series(1, GREATEST(len(text) - {SUBSTR_L - 1}, 0))) AS u(i)
    ),
    m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia, b.i AS ib
        FROM g a JOIN g b ON a.gr = b.gr AND a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT doc_a, doc_b, ia - ib AS diag,
               ia - ROW_NUMBER() OVER (
                   PARTITION BY doc_a, doc_b, ia - ib ORDER BY ia
               ) AS isl
        FROM m
    ),
    spans AS (
        SELECT doc_a, doc_b, COUNT(*) AS run_len
        FROM runs GROUP BY doc_a, doc_b, diag, isl
    )
    SELECT doc_a, doc_b,
           CAST(MAX(run_len) + {SUBSTR_L - 1} AS BIGINT) AS span_chars,
           CAST(COUNT(*) AS BIGINT) AS n_spans
    FROM spans GROUP BY doc_a, doc_b
"""


def longest_shared_span_pairs(docs: DataFrame, df_cap: int | None = None) -> DataFrame:
    """(doc_a, doc_b, span_chars, n_spans) via positional-gram diagonal
    islands (section comment). df_cap=None joins raw gram strings
    (oracle-exact); df_cap=F drops grams with doc-frequency > F and
    joins on the 16-byte md5 key. spread_small_input: see
    exact_substring_pairs."""
    from pyspark.sql import Window

    from example_beam_spark.sources import spread_small_input

    docs = spread_small_input(docs, docs.sparkSession)
    g = docs.select("doc_id", F.explode(_substr_gram_arr(True)).alias("p")).select(
        "doc_id", F.col("p.i").alias("i"), F.col("p.gr").alias("gr")
    )
    key = "gr"
    if df_cap is not None:
        g = _cap_grams(g, "gr", df_cap)
        key = "gk"
    b_side = g.select(F.col("doc_id").alias("doc_b"), F.col("i").alias("ib"), key)
    if df_cap is not None:
        b_side = b_side.hint("merge")  # corpus-sized both sides (_cap_grams)
    m = (
        g.select(F.col("doc_id").alias("doc_a"), F.col("i").alias("ia"), key)
        .join(
            b_side,
            key,
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ia", "ib", (F.col("ia") - F.col("ib")).alias("diag"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("ia")
    runs = m.withColumn("isl", F.col("ia") - F.row_number().over(w))
    spans = runs.groupBy("doc_a", "doc_b", "diag", "isl").agg(
        F.count("*").alias("run_len")
    )
    return spans.groupBy("doc_a", "doc_b").agg(
        (F.max("run_len") + F.lit(SUBSTR_L - 1)).cast("long").alias("span_chars"),
        F.count("*").cast("long").alias("n_spans"),
    )


@register("dedup_longest_shared_span", oracle=_SPAN_ORACLE)
def dedup_longest_shared_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, span_chars, n_spans): the longest verbatim shared
    span per exact-substring pair, plus how many maximal diagonal spans
    the pair shares (section comment). The frequency-capped md5-keyed
    scale path auto-activates above SUBSTR_CAP_AUTO_DOCS documents."""
    docs = load_table(spark, sf_dir, "documents")
    return longest_shared_span_pairs(docs, _auto_cap(docs))


# --------------------------------------------------------------------------
# docs_decontaminate_stream — the contamination guard at INGESTION time
# --------------------------------------------------------------------------
#
# Production pipelines don't just scrub contamination in batch — new
# documents get checked against the frozen eval suite AS THEY ARRIVE,
# so a leaked benchmark page never enters the lake at all. Streaming
# shape (and the Spark feature this entry exists to demonstrate as a
# registered, oracle-gated surface): a TRUE stream-static join — the
# arriving doc stream explodes to grams INSIDE the streaming graph and
# inner-joins the static per-gram eval summary (no foreachBatch
# side-input refresh, no stateful kernel; Spark re-binds the static
# side per micro-batch), then a watermarked event-time window
# aggregates per-doc match counts in append mode. Self-matches are
# excluded without a distinct (streaming aggs can't COUNT DISTINCT):
# the static side is pre-aggregated to ONE row per gram
# (cnt, only_id), so "some eval doc other than me shares g" is the
# scalar predicate cnt >= 2 OR only_id <> doc_id, and a plain count
# over the at-most-once (doc, g) matches equals the distinct count.
# Emits ONLY contaminated docs — the alert stream. Scale: the static
# side is the (small, frozen) eval gram summary, broadcast by
# Catalyst; per-doc state is one window row; the arrival clock is the
# staging-derived ts (doc_id seconds), sentinel-flushed like every
# windowed stream here.

_DOC_STREAM_STAGE: dict[tuple, str] = {}
_DOC_BASE_TS = 1_704_067_200  # fixture epoch family
_DOC_SENTINEL_TS = 4102444800  # 2100-01-01


def _docs_stream_flushed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage documents as a time-ordered arrival stream (ts = BASE +
    doc_id seconds) with two far-future sentinel files driving the
    final watermark flush (the read_events_stream_flushed discipline);
    cache keyed by source fingerprint."""
    import os
    import tempfile
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from example_beam_spark.sources.parquet import parquet_members, table_path
    from example_beam_spark.streaming.entries import (
        _prepare_stream_session,
        require_no_data_batches,
    )

    _prepare_stream_session(
        spark, min(8, spark.sparkContext.defaultParallelism)
    )
    fp = tuple(
        sorted(
            (os.path.basename(m), os.stat(m).st_mtime_ns, os.stat(m).st_size)
            for m in parquet_members(table_path(sf_dir, "documents"))
        )
    )
    key = (os.path.abspath(sf_dir), fp)
    d = _DOC_STREAM_STAGE.get(key)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix="stream_src_documents_")
        staged = (
            load_table(spark, sf_dir, "documents")
            .select(
                "doc_id",
                "text",
                (
                    F.lit(_DOC_BASE_TS * 1_000_000)
                    + F.col("doc_id") * 1_000_000
                ).cast("long").alias("ts_us"),
            )
        )
        part_dir = os.path.join(d, "_stage")
        staged.coalesce(1).sortWithinPartitions("ts_us").write.parquet(part_dir)
        member = [p for p in os.listdir(part_dir) if p.endswith(".parquet")][0]
        member_path = os.path.join(d, "docs-0000.parquet")
        os.rename(os.path.join(part_dir, member), member_path)
        base_ns = max(os.stat(member_path).st_mtime_ns, time.time_ns())
        for i in range(2):
            sentinel = os.path.join(d, f"zz_sentinel_{i}.parquet")
            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array([-1], pa.int64()),
                        "text": pa.array([""], pa.string()),
                        "ts_us": pa.array(
                            [(_DOC_SENTINEL_TS + i) * 1_000_000], pa.int64()
                        ),
                    }
                ),
                sentinel,
            )
            mt = base_ns + (i + 1) * 2_000_000_000
            os.utime(sentinel, ns=(mt, mt))
        _DOC_STREAM_STAGE[key] = d
    # Collapsed schedule (r15, the read_events_stream_flushed discipline):
    # member + both sentinels in ONE batch — the doc rows are processed
    # with the watermark still unset, and the final flush runs in the
    # post-watermark no-data micro-batch, cutting two ~1-2 s machinery
    # batches per drain. Requires noDataMicroBatches (default true).
    require_no_data_batches(spark)
    return (
        spark.readStream.schema("doc_id long, text string, ts_us long")
        .option("maxFilesPerTrigger", 3)
        .parquet(d)
    )


_DECON_STREAM_ORACLE = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    split AS ({_SPLIT_ORACLE}),
    eg AS (
        SELECT e.g, COUNT(*) AS cnt, MIN(e.doc_id) AS only_id
        FROM sh e JOIN split se ON se.doc_id = e.doc_id AND se.split = 'test'
        GROUP BY e.g
    )
    SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM sh d JOIN eg ON eg.g = d.g
    WHERE eg.cnt >= 2 OR eg.only_id <> d.doc_id
    GROUP BY d.doc_id
"""


@register("docs_decontaminate_stream", oracle=_DECON_STREAM_ORACLE)
def docs_decontaminate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming contamination alerts (section comment): every arriving
    doc sharing an n-gram with a DIFFERENT doc of the frozen eval
    slice, with its shared-gram count — stream-static gram join +
    watermarked windowed count, append mode."""
    from example_beam_spark.operators.dedup import _shingle_array
    from example_beam_spark.streaming.entries import run_to_append

    docs = load_table(spark, sf_dir, "documents")
    split = docs_train_split(spark, sf_dir).select("doc_id", "split")
    eval_grams = (
        shingles(docs)
        .join(split.filter(F.col("split") == "test").select("doc_id"), "doc_id")
        .groupBy("g")
        .agg(F.count("*").alias("cnt"), F.min("doc_id").alias("only_id"))
    )

    stream = _docs_stream_flushed(spark, sf_dir)
    wm = stream.withColumn(
        "ts", F.timestamp_micros(F.col("ts_us"))
    ).withWatermark("ts", "1 hour")
    # drop sentinels AFTER the watermark node (unsplittable CASE
    # predicate — the harness discipline)
    live = wm.filter(F.when(F.col("doc_id") >= 0, F.col("ts")).isNotNull())
    grams = live.select(
        "doc_id",
        "ts",
        F.explode(F.array_distinct(_shingle_array(F.col("text")))).alias("g"),
    )
    matches = grams.join(eval_grams, "g").filter(
        (F.col("cnt") >= 2) | (F.col("only_id") != F.col("doc_id"))
    )
    agg = matches.groupBy(F.window("ts", "1 hour"), "doc_id").agg(
        F.count("*").alias("n_shared_grams")
    )
    out = run_to_append(agg, spark)
    # one arrival second per doc -> exactly one window per doc; the sum
    # is a schema-level fold, never a cross-window merge
    return out.groupBy("doc_id").agg(
        F.sum("n_shared_grams").cast("long").alias("n_shared_grams")
    )
