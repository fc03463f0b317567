"""Registered vector queries (SURVEY.md §2.8 X13/X14, §2.3 J9, §7
Phase 4): L2 normalize, exact top-k cosine search (plain + metadata-
filtered), the deterministic embedder in SQL and Arrow forms, int8
quantization, and the golden vector QA pipeline.

The vector math + embedder implementations live in
functions/embed.py (a registration-free module shared with the api
facade and early-rotation operators); everything is re-exported here
so existing callers keep one import path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load, spread
from .hashing import P, MULT, token_hashes, token_hashes_sql  # noqa: F401
from .embed import (  # noqa: F401  (re-exported public surface)
    DIM,
    _TOPK_K,
    _VECTOR_TOPK_SQL,
    _hash_embed_py,
    cosine,
    dot,
    embed_df,
    embed_pandas,
    embed_sentence_transformers,
    embed_subquery_sql,
    explode_dims,
    l2_norm,
)


@register(
    "q_l2_normalize",
    oracle="""
SELECT vec_id,
       round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))), 6) AS norm,
       round(embedding[1] / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                  CAST(embedding AS DOUBLE[]))), 6) AS e1_normalized
FROM embeddings
""",
)
def q_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: L2 normalization as a SQL expression
    (ref: embedding_generator.py:76-80,102,146 — mean-pool + normalize,
    clamp(min=1e-9))."""
    emb = load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    n = l2_norm(v)
    return emb.select(
        "vec_id",
        F.round(n, 6).alias("norm"),
        F.round(F.element_at(v, 1) / n, 6).alias("e1_normalized"),
    )


@register("q_vector_topk", oracle=_VECTOR_TOPK_SQL)
def q_vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/X14/W2: exact top-k cosine search
    (ref: pinecone_manager.py:105-138; vectorizer.py:118-157) —
    broadcast query vectors ⨯ vector table, SQL cosine, window top-k.
    Ranking is on the *rounded* score (then match_id): candidates
    closer than 1e-6 in cosine are order-tied deterministically, so
    the plan is reproducible across engines and partitionings."""
    emb = load(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (l2_norm(F.col("qv")) * l2_norm(F.col("cv"))),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("match_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK_K)
        .drop("rn")
    )


_FILTERED_TOPK_SQL = f"""
WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE label = 2),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS match_id, c.label,
         round(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))),
               6) AS cos_sim
  FROM q CROSS JOIN c
  WHERE q.vec_id <> c.vec_id
)
SELECT query_id, match_id, label, cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, match_id) AS rn
      FROM scored)
WHERE rn <= {_TOPK_K}
"""


@register("q_vector_topk_filtered", oracle=_FILTERED_TOPK_SQL)
def q_vector_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 with a metadata filter: top-k cosine restricted to one
    metadata partition (ref: vectorizer.py:159-176 — Pinecone
    filter={'document_id': {'$eq': ...}}). The filter is a plain
    column predicate applied BEFORE scoring, so it pushes into the
    Parquet scan — the engine-native form of a filtered vector query,
    and on the label-partitioned layout (SCALE.md) a partition prune."""
    emb = load(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
    )
    c = emb.filter(F.col("label") == 2).select(
        F.col("vec_id").alias("match_id"),
        "label",
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            "label",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (l2_norm(F.col("qv")) * l2_norm(F.col("cv"))),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("match_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK_K)
        .drop("rn")
    )


_HARD_NEG_SQL = f"""
WITH q AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         c.vec_id AS negative_id, c.label AS negative_label,
         round(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))),
               6) AS cos_sim
  FROM q CROSS JOIN c
  WHERE q.label <> c.label
)
SELECT query_id, query_label, negative_id, negative_label, cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, negative_id) AS rn
      FROM scored)
WHERE rn <= {_TOPK_K}
"""


@register("q_hard_negatives", oracle=_HARD_NEG_SQL)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    each anchor vector, the top-k most-similar vectors with a
    DIFFERENT label — the near-but-wrong examples a triplet or
    InfoNCE loss learns the most from (the mining pass every
    retrieval-model pipeline runs between epochs). Ranking is on the
    rounded cosine (then negative_id), so ties are engine-identical.

    Plan: identical shape to q_vector_topk — broadcast anchors ⨯ the
    vector table with the label-inequality predicate evaluated
    BEFORE scoring (Catalyst folds it into the join condition, so
    same-label pairs are never scored), then a per-anchor top-k
    window. The ANN-served form of this mining pass is EXECUTED in
    q_training_triplets_ann (r11), whose negative leg is exactly
    this op over the stored cell-pruned IVF pool; this exact scan
    stays as the oracle-checkable ground truth."""
    emb = load(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("query_label"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("query_label") != F.col("negative_label"))
        .select(
            "query_id",
            "query_label",
            "negative_id",
            "negative_label",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (l2_norm(F.col("qv")) * l2_norm(F.col("cv"))),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK_K)
        .drop("rn")
    )


_EMBED_DOCS_ORACLE = (
    "SELECT e.id AS doc_id, t.i - 1 AS dim_idx, e.embedding[CAST(t.i AS INT)] AS val FROM "
    + embed_subquery_sql(
        "(SELECT doc_id, text FROM documents WHERE doc_id < 100)", "doc_id", "text"
    )
    + f" e CROSS JOIN generate_series(1, {DIM}) t(i)"
)


@register("q_embed_hash", oracle=_EMBED_DOCS_ORACLE)
def q_embed_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 (deterministic default): hashing bag-of-words document
    embedder, fully SQL-expressible so the oracle verifies the vectors
    themselves (SURVEY §7 Phase 4). The torch sentence-transformer
    path (ref: embedding_generator.py:49-74, MiniLM 384-dim) is the
    same plan shape with embed_pandas swapped in."""
    docs = spread(
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    return explode_dims(embed_df(docs, "text"), "doc_id", "embedding")


@register("q_embed_pandas", oracle=_EMBED_DOCS_ORACLE)
def q_embed_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 (Arrow path): the same embedding computed via mapInPandas —
    verifies the pandas-UDF plumbing (batch shape, schema, Arrow
    round-trip) against the same SQL oracle as q_embed_hash."""
    docs = spread(
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    return explode_dims(embed_pandas(docs, keep=["doc_id"]), "doc_id", "embedding")


@register(
    "q_embed_quantize_int8",
    oracle="""
WITH q AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(greatest(-1.0, least(1.0, x)) * 127) AS BIGINT))
           AS q8
  FROM embeddings
)
SELECT vec_id, array_to_string(q8, ',') AS q8_sig,
       round(list_sum(list_transform(q8, v -> abs(CAST(v AS DOUBLE) / 127))), 4)
         AS l1_dequant
FROM q
""",
)
def q_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization of the embedding column (clamp to
    [-1,1], scale by 127) plus the dequantized L1 as the round-trip
    check — 4× storage reduction for the vector table, the standard
    move before the 100 TB index ships to serving. Pure column
    expressions; the quantized array is value-checked exactly."""
    emb = load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    q8 = F.transform(
        v,
        lambda x: F.round(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), x)) * 127)
        .cast("long"),
    )
    s1 = emb.select("vec_id", q8.alias("q8"))
    l1 = F.aggregate(
        F.col("q8"), F.lit(0.0), lambda s, vv: s + F.abs(vv.cast("double") / 127)
    )
    # Integer array → comma-joined string: driver-canonicalizable and
    # formatting-stable across engines (no float stringification).
    return s1.select(
        "vec_id",
        F.array_join(
            F.transform(F.col("q8"), lambda x: x.cast("string")), ","
        ).alias("q8_sig"),
        F.round(l1, 4).alias("l1_dequant"),
    )


_GOLDEN_SEARCH_TOP_K = 3


def _golden_vector_search_sql() -> str:
    from ..operators.questions import question_values_sql

    qv = embed_subquery_sql("questions", "question_id", "question_text")
    dv = embed_subquery_sql("documents", "doc_id", "text")
    return f"""
WITH {question_values_sql()},
qv AS (SELECT id AS question_id, embedding AS v FROM {qv}),
dv AS (SELECT id AS doc_id, embedding AS v FROM {dv}),
scored AS (
  SELECT qv.question_id, dv.doc_id,
         round(list_dot_product(qv.v, dv.v), 6) AS cos_sim
  FROM qv CROSS JOIN dv
)
SELECT question_id, doc_id, cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY question_id
                                   ORDER BY cos_sim DESC, doc_id) AS rn
      FROM scored)
WHERE rn <= {_GOLDEN_SEARCH_TOP_K}
"""


@register("q_golden_vector_search", oracle=_golden_vector_search_sql())
def q_golden_vector_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full vector QA pipeline (ref: src/main.py:84-127 stages 4-6):
    embed questions + documents with the deterministic embedder,
    broadcast the question vectors, cosine top-3 per question. The
    embeddings are unit vectors, so cosine = dot — one fold per pair.
    BASELINE.md B2 analog, end-to-end oracle-checked.

    The corpus leg embeds via the Arrow path (embed_pandas — see its
    docstring for the r10 measurement: 19× over the SQL fold at the
    B1 workload, and immune to the in-suite JVM-interpreter slowdown
    that put the r9 driver run at 16 s in-suite vs 1.9 s pre-suite on
    this exact query). The 10-row question batch stays on the SQL
    fold: it is literal data Catalyst folds at plan time, and a
    10-row mapInPandas would pay a Python round-trip for nothing.
    Both paths are bit-identical (shared oracle of q_embed_hash /
    q_embed_pandas)."""
    from ..operators.questions import questions_df

    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    dv = embed_pandas(docs, "text", out_col="doc_v", keep=["doc_id"])
    qv = F.broadcast(
        embed_df(
            questions_df(spark), "question_text", out_col="q_v"
        ).select("question_id", "q_v")
    )
    scored = dv.crossJoin(qv).select(
        "question_id",
        "doc_id",
        F.round(dot(F.col("q_v"), F.col("doc_v")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("question_id").orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _GOLDEN_SEARCH_TOP_K)
        .drop("rn")
    )


# ------------------------------------------------- Matryoshka truncation
#
# MRL-style dimension truncation (Kusupati et al. 2022): serve a
# prefix of each embedding — 4-8× less index bandwidth — and measure
# what that costs in retrieval quality. The eval: exact top-k on the
# FULL vectors is truth; per prefix width d, top-k on the first d
# dims (cosine over the renormalized prefix); recall@k per (d,
# query). These embeddings are not MRL-trained, so the measured
# recall IS the point — the harness tells you whether truncation is
# safe for a given corpus, exactly like q_ann_recall does for the
# ANN tiers.

_MRL_DIMS = (8, 16, 32)


def _mrl_sql() -> str:
    legs = []
    for d in _MRL_DIMS:
        legs.append(
            f"""
  SELECT {d} AS dims, query_id, match_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.v[1:{d}], c.v[1:{d}])
                   / (sqrt(list_dot_product(q.v[1:{d}], q.v[1:{d}]))
                      * sqrt(list_dot_product(c.v[1:{d}], c.v[1:{d}]))), 6) DESC,
               c.vec_id) AS rn
    FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id)
  WHERE rn <= {_TOPK_K}"""
        )
    union = "\n  UNION ALL".join(legs)
    return f"""
WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
truth AS (
  SELECT query_id, match_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS match_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(c.v, c.v))), 6) DESC, c.vec_id) AS rn
    FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id)
  WHERE rn <= {_TOPK_K}
),
approx AS ({union})
SELECT a.dims, a.query_id,
       round(count(t.match_id) / {_TOPK_K}.0, 6) AS recall
FROM approx a
LEFT JOIN truth t ON t.query_id = a.query_id AND t.match_id = a.match_id
GROUP BY a.dims, a.query_id
"""


@register("q_matryoshka_recall", oracle=_mrl_sql())
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of dimension-truncated (Matryoshka-style) cosine
    search vs the full-dimension exact top-{k}, per prefix width
    (8/16/32 of 64 dims) and query — the bandwidth/quality trade
    report for serving truncated embeddings. See the module comment
    above _MRL_DIMS.

    Plan: the evaluation-harness shape of q_ann_recall — each
    truncated search is the proven broadcast-queries ⨯ streamed-scan
    top-k (the slice happens inside the fold, so the scan still
    reads each vector once), materialized via localCheckpoint; the
    scorer consumes the |dims|·|queries|·k-row outputs in one
    join + groupBy pass."""

    def topk(width: int | None) -> DataFrame:
        emb = load(spark, sf_dir, "embeddings")
        v = F.col("embedding").cast("array<double>")
        tv = v if width is None else F.slice(v, 1, width)
        q = F.broadcast(
            emb.filter(F.col("vec_id") < 5).select(
                F.col("vec_id").alias("query_id"), tv.alias("qv")
            )
        )
        c = emb.select(F.col("vec_id").alias("match_id"), tv.alias("cv"))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos_sim"), F.asc("match_id")
        )
        return (
            c.crossJoin(q)
            .filter(F.col("query_id") != F.col("match_id"))
            .select(
                "query_id",
                "match_id",
                F.round(
                    dot(F.col("qv"), F.col("cv"))
                    / (l2_norm(F.col("qv")) * l2_norm(F.col("cv"))),
                    6,
                ).alias("cos_sim"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _TOPK_K)
            .select("query_id", "match_id")
            .localCheckpoint(eager=False)
        )

    truth = topk(None)
    approx = None
    for d in _MRL_DIMS:
        leg = topk(d).select(
            F.lit(d).cast("long").alias("dims"), "query_id", "match_id"
        )
        approx = leg if approx is None else approx.unionAll(leg)
    hit = truth.withColumn("hit", F.lit(1))
    return (
        approx.join(hit, ["query_id", "match_id"], "left")
        .groupBy("dims", "query_id")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / float(_TOPK_K), 6
            ).alias("recall")
        )
    )


# ------------------------------------------------- training-triplet export

_TRIPLET_NEGS = 3  # hard negatives per anchor

_TRIPLET_SQL = f"""
WITH q AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
         c.vec_id AS cand_id, c.label AS cand_label,
         round(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))),
               6) AS cos_sim
  FROM q CROSS JOIN c
  WHERE q.vec_id <> c.vec_id
),
pos AS (
  SELECT anchor_id, cand_id AS positive_id, cos_sim AS pos_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id
                                 ORDER BY cos_sim DESC, cand_id) AS rn
    FROM scored WHERE cand_label = anchor_label)
  WHERE rn = 1
),
neg AS (
  SELECT anchor_id, cand_id AS negative_id, cos_sim AS neg_sim,
         CAST(rn AS BIGINT) AS neg_rank
  FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id
                                 ORDER BY cos_sim DESC, cand_id) AS rn
    FROM scored WHERE cand_label <> anchor_label)
  WHERE rn <= {_TRIPLET_NEGS}
)
SELECT p.anchor_id, p.positive_id, n.negative_id, n.neg_rank,
       p.pos_sim, n.neg_sim, round(p.pos_sim - n.neg_sim, 6) AS margin
FROM pos p JOIN neg n USING (anchor_id)
"""


@register("q_training_triplets", oracle=_TRIPLET_SQL)
def q_training_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet export: per anchor, the hardest
    positive (most-similar SAME-label vector — excluding self) paired
    with the top-3 hardest negatives (most-similar DIFFERENT-label
    vectors) and the per-pair margin — the (anchor, positive,
    negative) rows a triplet / InfoNCE training job consumes directly,
    composing q_hard_negatives' mining pass with its positive twin in
    one plan. A negative margin flags the anchors whose nearest
    wrong-label neighbor outranks their best positive — the examples
    the loss learns most from.

    Plan: ONE broadcast-anchors ⨯ streamed-scan scoring pass (the
    proven q_vector_topk shape) feeds both legs; each leg is a
    per-anchor rank window, and both windows plus the final join are
    hash(anchor)-partitioned, so the join adds no exchange
    (subset-key co-partition reuse). At 100 TB the scan swaps for an
    ANN tier exactly as in q_mmr_ann_pool; the export semantics don't
    change."""
    emb = load(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "cand_id",
            "cand_label",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (l2_norm(F.col("qv")) * l2_norm(F.col("cv"))),
                6,
            ).alias("cos_sim"),
        )
    )
    return _triplets_from_scored(scored)


def _triplets_from_scored(scored: DataFrame) -> DataFrame:
    """Shared mining tail over ``scored(anchor_id, anchor_label,
    cand_id, cand_label, cos_sim)``: hardest same-label positive +
    top-{negs} different-label negatives + per-pair margin — the
    identical expressions in the exact (q_training_triplets) and
    ANN-pool (q_training_triplets_ann) variants, extracted so the
    triplet semantics can never silently diverge between them (r11
    review). Both rank windows and the final join share one
    hash(anchor) partitioning, so the join adds no exchange.

    scored feeds BOTH legs (positive + negative rank windows) — the
    lazy checkpoint runs the candidate-scoring pipeline (the pool
    probe / crossJoin cosine pass) once instead of once per leg (r15
    opt pass; the join-pool variant's plan carried the whole
    DPP-pruned probe twice). The cell-equi-join/DPP plan shape stays
    pinned on triplet_join_pool directly in test_plan_quality.
    Cluster-scale caveat: localCheckpoint blocks are executor-local
    and lineage-free — an executor loss mid-query fails the job; at
    cluster scale this becomes a reliable checkpoint (SCALE.md)."""
    scored = scored.localCheckpoint(eager=False)
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.asc("cand_id")
    )
    pos = (
        scored.filter(F.col("cand_label") == F.col("anchor_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("cand_id").alias("positive_id"),
            F.col("cos_sim").alias("pos_sim"),
        )
    )
    neg = (
        scored.filter(F.col("cand_label") != F.col("anchor_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TRIPLET_NEGS)
        .select(
            "anchor_id",
            F.col("cand_id").alias("negative_id"),
            F.col("cos_sim").alias("neg_sim"),
            F.col("rn").cast("long").alias("neg_rank"),
        )
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "positive_id",
        "negative_id",
        "neg_rank",
        "pos_sim",
        "neg_sim",
        F.round(F.col("pos_sim") - F.col("neg_sim"), 6).alias("margin"),
    )


# ------------------------------------ ANN-pool training-triplet export

_TRIPLET_POOL = 20  # ANN candidates per anchor (the re-rank boundary)
# Mining probes DEEPER than serving (8 of 16 cells vs IVF_NPROBE=5):
# triplet mining is an offline between-epochs pass where negative
# hardness matters more than probe latency — production tunes nprobe
# per miner-fidelity bar exactly as serving tunes it per recall bar.
_TRIPLET_NPROBE = 8

# The scaled-geometry mining depth (r12 verdict #4): keep the
# mining-probes-deeper-than-serving ratio (8/5 = 1.6×) at the
# calibrated serving depth IVF_NPROBE_SCALED=16 → ceil(16·8/5) = 26.
# Measured (tools/triplet_fidelity.py, r13): triplet overlap vs the
# exact miner 1.00 with mean-margin delta 0.0 at BOTH sf0.01 (26 ≥ 23
# cells — exhaustive at N=500) and sf0.1 (26 of 45 cells, a 58% read
# that is NOT exhaustive yet still reproduces every exact triplet) —
# vs the fixed-16 miner's 0.60/0.87. At 5B vectors the same depth
# reads 26/70711 ≈ 0.04% of the layout while per-cell reads stay
# ~sqrt(N) — the fraction falls with the corpus, which is the whole
# point of scaling cells.
_TRIPLET_NPROBE_SCALED = 26

_EMB_IVF_PROBE_CACHE: dict[tuple, tuple] = {}

#: Above this anchor count the literal fold-in is the wrong shape —
#: _triplet_probe_literals collects |anchors|·nprobe rows INCLUDING
#: the DIM-double anchor vectors, so a millions-of-anchors
#: between-epochs mining pass would funnel the whole anchor set
#: through the driver (r11 verdict #4). triplet_pool_auto switches to
#: the distributed cell equi-join (triplet_join_pool) past it; the
#: value is sized so serving-shaped anchor sets (|questions|-scale)
#: keep the static-PartitionFilter fold.
_TRIPLET_FOLD_MAX_ANCHORS = 1024


def _triplet_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mining fixture's anchor slice — (anchor_id, anchor_label,
    qv, qq) for vec_id < 5 — shared by the literal-fold probe, the
    distributed join probe, and the dispatcher so all three mine the
    same anchors by construction."""
    return (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            F.col("embedding").cast("array<double>").alias("qv"),
        )
        .withColumn("qq", dot(F.col("qv"), F.col("qv")))
    )


def _triplet_probe_literals(
    spark: SparkSession, sf_dir: str, anchors: DataFrame | None = None
) -> tuple[list, list]:
    """(anchor_rows, probe_cells) for the embeddings IVF probe: each
    anchor's _TRIPLET_NPROBE nearest trained cells folded to plan-time
    literals — the _ivf_probe_literals pattern (bounded engine
    mini-job over |anchors|×IVF_CELLS rows with the exact oracle
    arithmetic: round(d2, 6) ranking, cid tiebreak), memoized per
    (session, sf_dir) for the default fixture slice (a custom
    ``anchors`` DataFrame is the caller's to bound — triplet_pool_auto
    only routes here below _TRIPLET_FOLD_MAX_ANCHORS). Anchor
    vectors/labels ride the rows so the pool probe needs no second
    source read."""
    from ..api import ensure_embeddings_index_ivf
    from ..sources.tmputil import session_key

    key = None
    if anchors is None:
        key = session_key(spark, "emb_ivf_probe", sf_dir)
        if key in _EMB_IVF_PROBE_CACHE:
            return _EMB_IVF_PROBE_CACHE[key]
    _, cents_path = ensure_embeddings_index_ivf(spark, sf_dir)
    cents = spark.read.parquet(cents_path)
    anch = anchors if anchors is not None else _triplet_anchors(spark, sf_dir)
    d2 = F.round(
        F.col("qq") - 2 * dot(F.col("qv"), F.col("cv")) + F.col("cc"), 6
    )
    w = Window.partitionBy("anchor_id").orderBy("d2", "cid")
    rows = (
        anch.crossJoin(F.broadcast(cents))
        .select("anchor_id", "anchor_label", "qv", "cid", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TRIPLET_NPROBE)
        .select("anchor_id", "anchor_label", "qv", "cid")
        .collect()
    )
    anchor_rows = [
        (int(r.anchor_id), int(r.anchor_label), [float(x) for x in r.qv], int(r.cid))
        for r in rows
    ]
    out = (anchor_rows, sorted({c for *_, c in anchor_rows}))
    if key is not None:
        _EMB_IVF_PROBE_CACHE[key] = out
    return out


def triplet_ann_pool(
    spark: SparkSession, sf_dir: str, anchors: DataFrame | None = None
) -> DataFrame:
    """The ANN candidate pool for triplet mining — per anchor, the
    top-{pool} most-similar vectors (any label, self excluded) from
    the cell-pruned stored embeddings IVF layout: (anchor_id,
    anchor_label, cand_id, cand_label, cos_sim). Exposed pre-window
    consumers aside so the plan test can pin the structural claim:
    the only scan is the layout with STATIC PartitionFilters on the
    probed cells; no full embeddings-table scoring pass exists
    anywhere in the plan. ``anchors`` defaults to the mining
    fixture's slice (memoized fold); a custom (anchor_id,
    anchor_label, qv, qq) DataFrame folds per call — use
    triplet_pool_auto so oversized sets route to the join path."""
    from ..api import ensure_embeddings_index_ivf

    layout, _ = ensure_embeddings_index_ivf(spark, sf_dir)
    anchor_rows, probe_cells = _triplet_probe_literals(
        spark, sf_dir, anchors=anchors
    )
    if not probe_cells:
        # Degenerate anchor slice → no probe keys: isin() with zero
        # args raises a confusing analysis error; the correct pool is
        # simply empty (r11 ADVICE).
        return spark.createDataFrame(
            [],
            "anchor_id LONG, anchor_label INT, cand_id LONG, "
            "cand_label INT, cos_sim DOUBLE",
        )
    db = spark.read.parquet(layout).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("v").alias("cv"),
        "cell",
    )
    # Literal probe-cell filter → static PartitionFilters (pure
    # pruning: the join below re-checks cells row-wise).
    db = db.filter(F.col("cell").isin(*probe_cells))
    qb = F.broadcast(
        spark.createDataFrame(
            anchor_rows,
            "anchor_id LONG, anchor_label INT, qv ARRAY<DOUBLE>, qcell LONG",
        )
    )
    scored = (
        db.join(qb, F.col("cell") == F.col("qcell"))
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "cand_id",
            "cand_label",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (l2_norm(F.col("qv")) * l2_norm(F.col("cv"))),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TRIPLET_POOL)
        .drop("rk")
    )


def triplet_join_pool(
    spark: SparkSession,
    sf_dir: str,
    anchors: DataFrame | None = None,
    scaled: bool = False,
) -> DataFrame:
    """triplet_ann_pool's DISTRIBUTED twin for large anchor sets (r11
    verdict #4): the per-anchor nprobe cell choice stays IN-PLAN as a
    broadcast-centroid cross join + rank window (the
    kmeans_fit_assign shape — K centroid rows broadcast, anchors
    never collected), and the pool probe is a cell EQUI-JOIN against
    the stored layout instead of a driver-folded literal filter.
    Identical output to the literal path by construction — same d2
    arithmetic, round(·, 6) ranking, cid tiebreak, cos_sim
    expressions, and top-{pool} window (pinned byte-identical in
    tests/test_probe_guards.py) — so q_training_triplets_ann's oracle
    covers both paths.

    The trade, and why BOTH paths exist: the literal fold buys STATIC
    PartitionFilters (directory-level pruning known at plan time) at
    the cost of a driver collect carrying |anchors|·nprobe DIM-double
    rows — right for serving-sized |q|; this join path never
    materializes anchors on the driver, so it scales to
    millions-of-anchors between-epochs mining passes — Catalyst picks
    the cell join strategy (broadcast below the threshold, shuffled
    hash/sort-merge above, where the layout's partitionBy(cell)
    directories make the scan side already clustered), and static
    pruning is replaced by DYNAMIC partition pruning: the layout
    scan's PartitionFilters carry a dynamicpruning subquery on cell
    (plan-pinned in test_plan_quality.py), so only probed cell
    directories are read here too — decided at runtime instead of
    plan time.
    ``anchors`` defaults to the mining fixture's slice; a production
    caller passes any (anchor_id, anchor_label, qv, qq) DataFrame.
    ``scaled=True`` mines from the CORPUS-ADAPTIVE layout
    (ensure_embeddings_index_ivf_scaled — cells = ivf_cells_for(N),
    r12 verdict #4) at the ratio-preserved deeper mining depth
    _TRIPLET_NPROBE_SCALED; the plan shape (broadcast-centroid cell
    choice, cell equi-join, DPP on the layout's cell directories) is
    identical — only the trained geometry differs."""
    from ..api import (
        ensure_embeddings_index_ivf,
        ensure_embeddings_index_ivf_scaled,
    )

    if scaled:
        layout, cents_path, _ = ensure_embeddings_index_ivf_scaled(
            spark, sf_dir
        )
        nprobe = _TRIPLET_NPROBE_SCALED
    else:
        layout, cents_path = ensure_embeddings_index_ivf(spark, sf_dir)
        nprobe = _TRIPLET_NPROBE
    cents = spark.read.parquet(cents_path)
    anch = anchors if anchors is not None else _triplet_anchors(spark, sf_dir)
    d2 = F.round(
        F.col("qq") - 2 * dot(F.col("qv"), F.col("cv")) + F.col("cc"), 6
    )
    pw = Window.partitionBy("anchor_id").orderBy("d2", "cid")
    aprobe = (
        anch.crossJoin(F.broadcast(cents))
        .select("anchor_id", "anchor_label", "qv", "cid", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") <= nprobe)
        .select(
            "anchor_id", "anchor_label", "qv", F.col("cid").alias("qcell")
        )
    )
    db = spark.read.parquet(layout).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("v").alias("cv"),
        "cell",
    )
    scored = (
        db.join(aprobe, F.col("cell") == F.col("qcell"))
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "cand_id",
            "cand_label",
            F.round(
                dot(F.col("qv"), F.col("cv"))
                / (l2_norm(F.col("qv")) * l2_norm(F.col("cv"))),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TRIPLET_POOL)
        .drop("rk")
    )


_TRIPLET_ANCHOR_COUNT_CACHE: dict[tuple, int] = {}


def triplet_pool_auto(
    spark: SparkSession, sf_dir: str, anchors: DataFrame | None = None
) -> DataFrame:
    """Size-switched mining pool: the literal-fold path (static
    PartitionFilters) up to _TRIPLET_FOLD_MAX_ANCHORS anchors, the
    distributed cell equi-join past it — byte-identical either way
    (tests/test_probe_guards.py), so q_training_triplets_ann routes
    through HERE and one oracle covers whichever path the size picks
    (r12 ADVICE: previously the registered query called
    triplet_ann_pool directly, leaving the switch dead code).
    ``anchors`` is any (anchor_id, anchor_label, qv, qq) DataFrame;
    default is the mining fixture's slice, whose count is memoized
    per (session, sf_dir) alongside the probe memo so repeated calls
    don't pay the count job (r12 ADVICE). The count is one bounded
    aggregate — trivial next to the mining pass it routes."""
    from ..sources.tmputil import session_key

    if anchors is None:
        key = session_key(spark, "triplet_anchor_count", sf_dir)
        n = _TRIPLET_ANCHOR_COUNT_CACHE.get(key)
        if n is None:
            n = _triplet_anchors(spark, sf_dir).count()
            _TRIPLET_ANCHOR_COUNT_CACHE[key] = n
    else:
        # r13 ADVICE: a caller-supplied anchors plan was computed twice
        # (once for the routing count, again inside the chosen pool
        # builder) — a non-deterministic source could route on a size
        # inconsistent with the rows actually mined, and deterministic
        # ones paid the plan twice. Truncate lineage so the count
        # materializes the blocks once and the mining pass re-reads
        # them: routing and mining see ONE materialization.
        anchors = anchors.localCheckpoint(eager=False)
        n = anchors.count()
    if n <= _TRIPLET_FOLD_MAX_ANCHORS:
        return triplet_ann_pool(spark, sf_dir, anchors=anchors)
    return triplet_join_pool(spark, sf_dir, anchors=anchors)


#: SQL twin of api.ivf_cells_for over the embeddings-table vx CTE —
#: the scaled mining oracle's cell count, derived from the corpus by
#: DuckDB's expression LIMIT exactly like the documents-layout scaled
#: oracle (operators/pipeline._IVF_CELLS_SQL_SCALED).
_EMB_IVF_CELLS_SQL_SCALED = (
    "(SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM vx)"
)


def _triplet_ann_oracle(scaled: bool = False) -> str:
    from ..api import IVF_CELLS
    from ..operators.clustering import _EMB_VX_BODY, kmeans_sql_rounds_ctes

    k = _EMB_IVF_CELLS_SQL_SCALED if scaled else IVF_CELLS
    nprobe = _TRIPLET_NPROBE_SCALED if scaled else _TRIPLET_NPROBE
    d2 = "round(a.qq - 2*list_dot_product(a.qv, c.cv) + c.cc, 6)"
    cos = "round(list_dot_product(a.qv, d.x) / (sqrt(a.qq)*sqrt(d.xx)), 6)"
    return f"""
WITH {kmeans_sql_rounds_ctes(_EMB_VX_BODY, k)},
lab AS (SELECT vec_id, label FROM embeddings),
anch AS (
  SELECT v.vec_id AS anchor_id, l.label AS anchor_label, v.x AS qv, v.xx AS qq
  FROM vx v JOIN lab l USING (vec_id) WHERE v.vec_id < 5
),
aprobe AS (
  SELECT anchor_id, cid FROM (
    SELECT a.anchor_id, c.cid,
           row_number() OVER (PARTITION BY a.anchor_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM anch a CROSS JOIN c1 c)
  WHERE rn <= {nprobe}
),
pool_scored AS (
  SELECT a.anchor_id, a.anchor_label, d.vec_id AS cand_id,
         l.label AS cand_label, {cos} AS cos_sim
  FROM aprobe p
  JOIN a2 d ON d.cid = p.cid
  JOIN anch a ON a.anchor_id = p.anchor_id
  JOIN lab l ON l.vec_id = d.vec_id
  WHERE d.vec_id <> p.anchor_id
),
pool AS (
  SELECT anchor_id, anchor_label, cand_id, cand_label, cos_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id
                                 ORDER BY cos_sim DESC, cand_id) AS rk
    FROM pool_scored)
  WHERE rk <= {_TRIPLET_POOL}
),
pos AS (
  SELECT anchor_id, cand_id AS positive_id, cos_sim AS pos_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id
                                 ORDER BY cos_sim DESC, cand_id) AS rn
    FROM pool WHERE cand_label = anchor_label)
  WHERE rn = 1
),
neg AS (
  SELECT anchor_id, cand_id AS negative_id, cos_sim AS neg_sim,
         CAST(rn AS BIGINT) AS neg_rank
  FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id
                                 ORDER BY cos_sim DESC, cand_id) AS rn
    FROM pool WHERE cand_label <> anchor_label)
  WHERE rn <= {_TRIPLET_NEGS}
)
SELECT p.anchor_id, p.positive_id, n.negative_id, n.neg_rank,
       p.pos_sim, n.neg_sim, round(p.pos_sim - n.neg_sim, 6) AS margin
FROM pos p JOIN neg n USING (anchor_id)
"""


@register("q_training_triplets_ann", oracle=_triplet_ann_oracle())
def q_training_triplets_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_training_triplets with the mining pool served by the STORED
    embeddings IVF layout instead of the full-table scoring scan —
    making true what the exact variant's docstring promised ("at
    100 TB the scan swaps for an ANN tier", r10 verdict #3): the
    hardest positive and top-{negs} hardest negatives are picked
    INSIDE each anchor's cell-pruned top-{pool} candidate set, the
    production shape where the mining pass touches nprobe cells per
    anchor instead of the corpus.

    Plan: triplet_ann_pool scores only the probed cells' vectors
    (static PartitionFilters from the literal-folded anchor probe —
    plan-pinned; the pool window carries scalars, never vectors);
    the pos/neg rank windows and the final join then share one
    hash(anchor) partitioning exactly like the exact variant. The
    literal fold is the ≤{fold_max}-anchor serving shape; past it
    triplet_pool_auto switches to the distributed cell equi-join
    (triplet_join_pool — byte-identical output, anchors never
    collected), so a millions-of-anchors between-epochs mining pass
    never funnels through the driver (r11 verdict #4).

    Fidelity vs q_training_triplets at the demo geometry
    (_TRIPLET_NPROBE=8 of 16 cells — mining probes deeper than
    serving, see the constant's comment): triplet overlap 0.60/0.87
    at sf0.01/sf0.1 with mean-margin delta +0.014/+0.009
    (tools/triplet_fidelity.py, recorded in SCALE.md); anchors whose hardest positive falls
    outside the pool export the pool's best same-label positive
    instead (or no triplet if none collides) — the real trade an
    ANN-pooled miner makes, reported rather than hidden.

    Routed through triplet_pool_auto (r12 ADVICE — the dispatcher was
    dead code from every registered query's view): the fixture slice
    sits far below _TRIPLET_FOLD_MAX_ANCHORS so this executes the
    literal-fold path, and a production-sized anchor set would take
    the join path under the SAME oracle (outputs pinned
    byte-identical, tests/test_probe_guards.py)."""
    return _triplets_from_scored(triplet_pool_auto(spark, sf_dir))


@register("q_training_triplets_join", oracle=_triplet_ann_oracle(scaled=True))
def q_training_triplets_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED mining path's own driver row (r12 verdict #3 —
    triplet_join_pool was only oracle-covered transitively through the
    byte-identity pin), at the CORPUS-ADAPTIVE mining geometry (r12
    verdict #4 — ivf_cells_for now reaches the embeddings layout too):
    the same hardest-positive + top-{negs} hard-negative export,
    pooled by the cell EQUI-JOIN against
    ensure_embeddings_index_ivf_scaled's partitionBy(cell) layout
    (cells = ivf_cells_for(N)) at the ratio-preserved mining depth
    _TRIPLET_NPROBE_SCALED = 26 (mining stays 1.6× deeper than the
    calibrated serving nprobe, see the constant's comment).

    Plan (pinned in test_plan_quality.py): anchors NEVER touch the
    driver — cell choice is a broadcast-centroid cross join (K rows
    broadcast), the pool probe is a cell equi-join whose layout scan
    carries DYNAMIC partition pruning (dynamicpruningexpression), and
    the anchor-slice predicate pushes into the embeddings reader.
    Fidelity (tools/triplet_fidelity.py, r13): triplet overlap 1.00
    with margin delta 0.0 vs the exact miner at both sf0.01 (26 ≥ 23
    cells, exhaustive) and sf0.1 (26 of 45 cells — 58% read, not
    exhaustive) vs the fixed-16 miner's 0.60/0.87; at 5B vectors the
    same plan reads 26/70711 ≈ 0.04% of the layout. The oracle
    derives the SAME cell count via greatest(16, ceil(sqrt(count(*))))
    in an expression LIMIT, so the mining-layout sizing rule is
    cross-engine-checked exactly like the serving layouts'."""
    return _triplets_from_scored(
        triplet_join_pool(spark, sf_dir, scaled=True)
    )
