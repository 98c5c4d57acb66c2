"""Lexical + hybrid retrieval over the documents corpus: BM25 scoring and
reciprocal-rank-fusion of the lexical and vector arms.

Extension surface (SURVEY §2.C / LLM-pipeline mandate): training-data
curation pipelines retrieve with BOTH a lexical index and an embedding
index and fuse the rankings (RRF) — here both arms are pure Catalyst
plans over the same tables the rest of the engine uses (no external
index), so the whole hybrid stack is one DAG.

Scale shape: the query-term set is tiny and applied as a post-explode
filter, so the only corpus-sized shuffle is the (term, doc) tf aggregate
over MATCHING tokens only — the token long tail dies map-side. df/avgdl/N
are broadcast 1-row or |Q|-row aggregates. The vector arm reuses
`operators/similarity.cosine_topk` (query side broadcast, corpus scanned
once). RRF then fuses two k-row rankings — driver-free, size k each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.operators.similarity import cosine_topk
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import load_table, materialize

QUERY_TERMS = ["spark", "window", "hash", "merge", "stream"]
_K1 = 1.2
_B = 0.75
_TERMS_SQL = ", ".join(f"'{t}'" for t in QUERY_TERMS)

# BM25 with Lucene's idf form; constants written identically in both
# engines (2.2 = k1+1 as a literal, 0.25 = 1-b) so double math agrees
# to well within the 4-dp rounding used for ranking and hashing.
_BM25_ORACLE = f"""
    WITH dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
      FROM documents
    ), stats AS (
      SELECT avg(dl) AS avgdl, (SELECT count(*) FROM documents) AS n FROM dl
    ), tf AS (
      SELECT tok AS term, doc_id, count(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok IN ({_TERMS_SQL})
      GROUP BY 1, 2
    ), df AS (
      SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tf GROUP BY 1
    ), scored AS (
      SELECT t.term, t.doc_id,
             ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * t.tf * 2.2 / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
               AS score
      FROM tf t JOIN df d USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
    )
    SELECT term, doc_id, round(score, 4) AS bm25,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY term
                                   ORDER BY round(score, 4) DESC, doc_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 10
"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, doc_id, score) for every query term × matching doc. Doc
    length rides the token rows through the explode, so the tf aggregate
    carries it for free — no separate doc_id-keyed dl join (saves two
    exchanges; the only corpus-sized shuffle is the tf agg itself)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("double").alias("dl"),
        F.explode(F.split(F.col("text"), " ")).alias("term"),
    ).filter(F.col("term").isin(QUERY_TERMS))
    tf = toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf"), F.max("dl").alias("dl")
    )
    # df as a window over tf: the term exchange this needs is the SAME
    # one the per-term ranking window needs downstream, so df costs no
    # extra shuffle and no second corpus scan (a groupBy-join form would
    # re-derive tf's whole subtree — Catalyst doesn't share unmaterialized
    # subplans across join branches).
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term")).cast("long")
    )
    stats = docs.select(
        F.size(F.split(F.col("text"), " ")).cast("double").alias("dl")
    ).agg(F.avg("dl").alias("avgdl"), F.count(F.lit(1)).cast("long").alias("n"))
    idf = F.log(
        F.lit(1) + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    return (
        tf.crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            (
                idf
                * F.col("tf")
                * F.lit(2.2)
                / (
                    F.col("tf")
                    + F.lit(_K1)
                    * (F.lit(0.25) + F.lit(_B) * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score"),
        )
    )


@register("text_bm25_topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 docs per query term (k1=1.2, b=0.75, Lucene idf). The
    corpus-sized work is one tf aggregate over tokens matching the query
    set — everything else (df, avgdl, N) is a broadcast scalar. Ranking
    uses round(score, 4) + doc_id tiebreak for FP determinism across
    engines, same discipline as the cosine queries."""
    scored = _bm25_scored(spark, sf_dir)
    w = Window.partitionBy("term").orderBy(F.round("score", 4).desc(), F.col("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 10)
        .select("term", "doc_id", F.round("score", 4).alias("bm25"), "rnk")
    )


_COS0 = (
    "list_inner_product(e.embedding::DOUBLE[], q.qe) / "
    "(sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
    "sqrt(list_inner_product(q.qe, q.qe)))"
)

_HYBRID_ORACLE = f"""
    WITH dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
      FROM documents
    ), stats AS (
      SELECT avg(dl) AS avgdl, (SELECT count(*) FROM documents) AS n FROM dl
    ), tf AS (
      SELECT doc_id, count(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok = 'spark'
      GROUP BY 1
    ), lex AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id)
                  AS BIGINT) AS r_lex
      FROM (
        SELECT t.doc_id,
               ln(1 + (s.n - (SELECT count(*) FROM tf) + 0.5)
                     / ((SELECT count(*) FROM tf) + 0.5))
                 * t.tf * 2.2 / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
                 AS score
        FROM tf t JOIN dl USING (doc_id) CROSS JOIN stats s
      )
      QUALIFY r_lex <= 50
    ), q AS (
      SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0
    ), vec AS (
      SELECT vec_id AS doc_id,
             CAST(row_number() OVER (ORDER BY round(sim, 6) DESC, vec_id)
                  AS BIGINT) AS r_vec
      FROM (
        SELECT e.vec_id, {_COS0} AS sim
        FROM embeddings e, q WHERE e.vec_id <> 0
      )
      QUALIFY r_vec <= 50
    ), fused AS (
      SELECT coalesce(l.doc_id, v.doc_id) AS doc_id, l.r_lex, v.r_vec,
             round(coalesce(1.0 / (60 + l.r_lex), 0)
                   + coalesce(1.0 / (60 + v.r_vec), 0), 6) AS rrf
      FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, r_lex, r_vec, rrf,
           CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk
    FROM fused
    QUALIFY rnk <= 20
"""


@register("hybrid_rrf_retrieval", oracle=_HYBRID_ORACLE)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: the lexical arm is
    BM25 for the term 'spark' (top-50), the vector arm is exact cosine
    against the vec_id=0 probe (top-50, via the same `cosine_topk`
    operator the ANN tiers are checked against), fused as
    rrf = Σ 1/(60 + rank) with a missing arm contributing 0. Both arms
    are k-row rankings by the time they meet — the fusion join is
    trivially broadcastable however large the corpus."""
    lex = (
        _bm25_scored(spark, sf_dir)
        .filter(F.col("term") == "spark")
        .withColumn(
            "r_lex",
            F.row_number()
            .over(Window.orderBy(F.round("score", 4).desc(), F.col("doc_id")))
            .cast("long"),
        )
        .filter(F.col("r_lex") <= 50)
        .select("doc_id", "r_lex")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    vec = (
        cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=50)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("r_vec"))
    )
    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            "r_lex",
            "r_vec",
            F.round(
                F.coalesce(1.0 / (60 + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("r_vec")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return (
        fused.withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.col("rrf").desc(), F.col("doc_id")))
            .cast("long"),
        )
        .filter(F.col("rnk") <= 20)
    )


# ---------------------------------------------------------------------------
# MMR diversity re-rank


_MMR_K_CAND = 20  # relevance candidates fed to the re-ranker
_MMR_K_SEL = 8  # greedy selections emitted
# lambda=0.7: written as the two literals 0.7/0.3 in BOTH engines so the
# score arithmetic is the identical double expression.

_MMR_COS = (
    "list_inner_product({a}.e, {b}.e) / "
    "(sqrt(list_inner_product({a}.e, {a}.e)) * "
    "sqrt(list_inner_product({b}.e, {b}.e)))"
)


def _mmr_oracle() -> str:
    """Unrolled greedy MMR as chained CTEs (the BPE-oracle idiom:
    operators/bpe.py replays 40 merge rounds the same way) — each pick{k}
    is the argmax of 0.7*rel - 0.3*max_sim_to_selected over the not-yet-
    selected candidates, ties to the lowest vec_id."""
    parts = [
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)",
        "q AS (SELECT e FROM v WHERE vec_id = 0)",
        f"""rel AS MATERIALIZED (
          SELECT vec_id, round(sim, 6) AS rel FROM (
            SELECT a.vec_id,
                   list_inner_product(a.e, q.e) /
                     (sqrt(list_inner_product(a.e, a.e)) *
                      sqrt(list_inner_product(q.e, q.e))) AS sim
            FROM v a, q WHERE a.vec_id <> 0)
          ORDER BY rel DESC, vec_id LIMIT {_MMR_K_CAND}
        )""",
        f"""pw AS MATERIALIZED (
          SELECT ra.vec_id AS ai, rb.vec_id AS bi,
                 round({_MMR_COS.format(a='va', b='vb')}, 6) AS s
          FROM rel ra JOIN rel rb ON ra.vec_id <> rb.vec_id
          JOIN v va ON va.vec_id = ra.vec_id
          JOIN v vb ON vb.vec_id = rb.vec_id
        )""",
    ]
    prev = None
    for k in range(1, _MMR_K_SEL + 1):
        if prev is None:
            pen, notin = "0.0", ""
        else:
            pen = (
                "coalesce((SELECT max(p.s) FROM pw p WHERE p.ai = r.vec_id "
                f"AND p.bi IN (SELECT vec_id FROM {prev})), 0.0)"
            )
            notin = f"WHERE r.vec_id NOT IN (SELECT vec_id FROM {prev})"
        parts.append(
            f"""pick{k} AS MATERIALIZED (
              SELECT * FROM (
                SELECT CAST({k} AS BIGINT) AS step, r.vec_id, r.rel,
                       {pen} AS pen
                FROM rel r {notin})
              ORDER BY 0.7 * rel - 0.3 * pen DESC, vec_id LIMIT 1
            )"""
        )
        parts.append(
            f"sel{k} AS MATERIALIZED (SELECT vec_id FROM pick{k}"
            + (f" UNION ALL SELECT vec_id FROM {prev})" if prev else ")")
        )
        prev = f"sel{k}"
    union = " UNION ALL ".join(
        f"SELECT * FROM pick{k}" for k in range(1, _MMR_K_SEL + 1)
    )
    return (
        ",\n".join(parts)
        + f"""
        SELECT step, vec_id, rel, pen AS max_sim_selected,
               0.7 * rel - 0.3 * pen AS mmr_score
        FROM ({union})"""
    )


@register("retrieval_mmr_rerank", oracle=_mmr_oracle())
def retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998) of
    the vec_id=0 probe's top-20 cosine candidates: greedily pick 8 docs
    maximizing 0.7*relevance - 0.3*max_similarity_to_already_picked —
    the diversity re-rank training-data curation uses to avoid filling a
    context (or a fine-tuning batch) with near-identical retrievals.

    Scale shape: ALL corpus-sized work is the distributed candidate pass
    (`cosine_topk`: query broadcast, corpus scanned once); the greedy
    loop is inherently sequential but runs on the K-candidate set, which
    is bounded by construction (20 rels + 380 pairwise sims collected —
    the same bounded-driver-collect contract as the ANN query side).
    Both engines round rel/pairwise sims to 6 dp BEFORE the greedy
    arithmetic, so the argmax compares bit-identical doubles; ties break
    to the lowest vec_id. The DuckDB twin replays the greedy loop as
    unrolled CTEs (the BPE-oracle idiom)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # localCheckpoint: the K-row candidate table has TWO consuming
    # actions (the rels collect and the pairwise-sims pass built from
    # its ids) — unmaterialized, each would re-run the corpus-sized
    # cosine ranking (review r11)
    cand = materialize(
        cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=_MMR_K_CAND)
        .select(F.col("neighbor_id").alias("vec_id"), F.round("cosine", 6).alias("rel"))
    )
    ids = cand.select("vec_id")
    vecs = emb.join(F.broadcast(ids), "vec_id").select("vec_id", "embedding")
    from hw_kafka_flink_health_spark.operators.similarity import cosine_expr

    a = vecs.select(F.col("vec_id").alias("ai"), F.col("embedding").alias("ea"))
    b = vecs.select(F.col("vec_id").alias("bi"), F.col("embedding").alias("eb"))
    pw_df = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("ai") != F.col("bi"))
        .select("ai", "bi", F.round(cosine_expr(F.col("ea"), F.col("eb")), 6).alias("s"))
    )
    rels = [(r["vec_id"], r["rel"]) for r in cand.collect()]
    assert len(rels) <= _MMR_K_CAND, "candidate collect exceeded its bound"
    pw = {(r["ai"], r["bi"]): r["s"] for r in pw_df.collect()}
    assert len(pw) <= _MMR_K_CAND * (_MMR_K_CAND - 1), "pairwise collect bound"

    selected: list[tuple[int, int, float, float]] = []  # (step, id, rel, pen)
    chosen: list[int] = []
    remaining = dict(rels)
    # fewer candidates than selections (tiny fixtures): emit what exists,
    # exactly like the oracle's pick{k}-of-empty-rel degenerates to empty
    for step in range(1, min(_MMR_K_SEL, len(rels)) + 1):
        best = None
        for cid, rel in remaining.items():
            pen = max((pw.get((cid, s), 0.0) for s in chosen), default=0.0)
            score = 0.7 * rel - 0.3 * pen
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, rel, pen)
        _, cid, rel, pen = best
        selected.append((step, cid, rel, pen))
        chosen.append(cid)
        del remaining[cid]
    if not selected:
        return spark.createDataFrame(
            [],
            "step long, vec_id long, rel double, max_sim_selected double, "
            "mmr_score double",
        )
    out = spark.createDataFrame(
        selected, "step long, vec_id long, rel double, max_sim_selected double"
    )
    return out.select(
        "step",
        "vec_id",
        "rel",
        "max_sim_selected",
        # UNROUNDED: 0.7*rel - 0.3*pen over 6dp-exact inputs is an exact
        # 7-decimal rational that can land ON a 6dp half-grain, where the
        # engines' round() split (r8 rule: identical inputs + identical
        # expression = identical doubles; rounding only re-introduces risk)
        (
            F.lit(0.7) * F.col("rel") - F.lit(0.3) * F.col("max_sim_selected")
        ).alias("mmr_score"),
    )
