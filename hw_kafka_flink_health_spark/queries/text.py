"""Text-analysis + deduplication queries over the documents table.

LLM-training-data-pipeline operators (SURVEY §2.C): exact dedup, n-gram
Jaccard near-dup, MinHash LSH (rows-only), SimHash (rows-only), language
ID, quality scoring, token counting, fingerprinting, multimodal plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.functions.text import (
    avg_token_len_expr,
    distinct_ratio_expr,
    lang_id_expr,
    quality_ok_expr,
    regex_token_count_expr,
    tokens_expr,
)
from hw_kafka_flink_health_spark.operators.dedup import (
    exact_dedup,
    fingerprint_expr,
    minhash_det_pairs,
    ngram_jaccard_pairs,
    simhash63,
)
from hw_kafka_flink_health_spark.operators.multimodal import (
    attach_payload_metadata,
    decode_codec_stats,
    documents_as_assets,
    extract_features,
    synthesize_codec_assets,
)
from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import load_table, materialize


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by normalization fingerprint (hash-groupBy —
    one shuffle on the hash; the canonical survivor is min(doc_id))."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


@register(
    "dedup_keep_best",
    oracle="""
    WITH f AS (
      SELECT doc_id, n_chars,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ), r AS (
      SELECT fp, doc_id, n_chars,
             row_number() OVER (PARTITION BY fp
                                ORDER BY coalesce(n_chars, -1) DESC, doc_id)
               AS rn,
             count(*) OVER (PARTITION BY fp) AS n_copies
      FROM f
    )
    SELECT fp, doc_id AS keep_id, CAST(n_copies AS BIGINT) AS n_copies
    FROM r WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor selection: within each exact-content
    group keep the LONGEST document (tie: lowest doc_id) rather than the
    arbitrary min-id — the policy a real corpus dedup applies when copies
    differ by truncation. One shuffle on the fingerprint; the window and
    the group count share its partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    # coalesce: n_chars can be NULL, and a NULL window sort key is
    # placed nondeterministically by DuckDB's parallel window — a
    # NULL-length copy simply loses to every measured one
    w = Window.partitionBy("fp").orderBy(
        F.coalesce(F.col("n_chars"), F.lit(-1)).desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("fp")
    return (
        docs.select(
            "doc_id", "n_chars", fingerprint_expr("text").alias("fp")
        )
        .select(
            "fp",
            "doc_id",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).cast("bigint").alias("n_copies"),
        )
        .filter(F.col("rn") == 1)
        .select("fp", F.col("doc_id").alias("keep_id"), "n_copies")
    )


@register(
    "dedup_exact_by_source",
    oracle="""
    SELECT source,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           count(*) AS n_docs
    FROM documents GROUP BY source
    """,
)
def dedup_exact_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup rate per source: distinct content hashes vs raw doc counts."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.countDistinct(F.md5("text")).alias("n_unique"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), e AS (
        SELECT doc_id, unnest(sh) AS shingle, len(sh) AS n FROM t
    ), p AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               count(*) AS common, any_value(a.n) AS n1, any_value(b.n) AS n2
        FROM e a JOIN e b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc1, doc2,
           round(common::DOUBLE / (n1 + n2 - common), 4) AS jaccard
    FROM p
    WHERE common::DOUBLE / (n1 + n2 - common) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard near-dup pairs (>= 0.2).

    Shingle-explode + self-equi-join on shingle — never a cross join. At
    100 TB the same operator runs with max_shingle_freq set to cap
    hot-shingle blowup (and MinHash LSH below replaces it wholesale)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2).select(
        "doc1", "doc2", F.round("jaccard", 4).alias("jaccard")
    )


@register(
    "dedup_minhash_lsh",
    oracle="""
    WITH t AS (
      SELECT doc_id AS doc,
             list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), e AS (
      SELECT doc, ('0x' || substr(md5(u.shingle), 1, 15))::BIGINT % 2147483647 AS x
      FROM t, unnest(t.sh) AS u(shingle)
      WHERE len(t.sh) > 0
    ), perm AS (
      SELECT r.range AS i,
             (r.range * 2654435761 + 1) % 2147483647 AS a,
             (r.range * 40503 + 17) % 2147483647 AS b
      FROM range(16) r
    ), sig AS (
      SELECT doc, i, min((a * x + b) % 2147483647) AS s
      FROM e CROSS JOIN perm GROUP BY doc, i
    ), sigarr AS (
      SELECT doc, list(s ORDER BY i) AS sig FROM sig GROUP BY doc
    ), bands AS (
      SELECT doc, b.range AS band,
             sig[CAST(2 * b.range + 1 AS INTEGER)] * 2147483647
               + sig[CAST(2 * b.range + 2 AS INTEGER)] AS key
      FROM sigarr, range(8) b
    ), cand AS (
      SELECT DISTINCT x.doc AS doc1, y.doc AS doc2
      FROM bands x JOIN bands y USING (band, key)
      WHERE x.doc < y.doc
    )
    SELECT doc1, doc2, est_jaccard FROM (
      SELECT c.doc1, c.doc2,
             CAST(list_sum(list_transform(range(1, 17),
                 i -> CASE WHEN s1.sig[i] = s2.sig[i] THEN 1 ELSE 0 END))
               AS DOUBLE) / 16.0 AS est_jaccard
      FROM cand c
      JOIN sigarr s1 ON s1.doc = c.doc1
      JOIN sigarr s2 ON s2.doc = c.doc2
    ) WHERE est_jaccard >= 0.2
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup candidates — native DETERMINISTIC tier, fully
    value-oracled: pinned (a·x+b) mod 2^31-1 permutations over the 60-bit
    md5 shingle hash (the same md5 trick that value-oracled SimHash and
    winnowing), signatures via one groupBy of min-aggregates, candidates
    via the band-key self-join — sub-quadratic banding, never all-pairs.
    DuckDB replays the identical signatures/bands, so the pair set AND
    the matching-fraction Jaccard estimates hash-compare exactly. The
    pyspark.ml seeded tier (`minhash_lsh_pairs`) remains as an alternate
    engine path, covered by the planted-duplicate recall test."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_det_pairs(docs, "text", "doc_id", threshold=0.2)


@register(
    "dedup_simhash",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), h AS (
      SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
      FROM tok WHERE token <> ''
    ), bits AS (
      SELECT doc_id, t.range AS b,
             sum(CASE WHEN (h >> CAST(t.range AS INTEGER)) & 1 = 1
                      THEN 1 ELSE -1 END) AS s
      FROM h, range(60) t
      GROUP BY doc_id, t.range
    )
    SELECT doc_id AS doc,
           CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << CAST(b AS INTEGER)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint per document, value-oracled via the md5 hash
    tier: both engines derive the identical 60 bits per token (first 15
    md5 hex digits), so the whole bit-vote construction — +1/-1 sums per
    position, sign threshold, bit assembly — hash-compares exactly
    against DuckDB's replay. The xxhash64 63-bit tier remains the faster
    engine path for production (`operators/dedup.py:simhash63`); SimHash
    semantics only need a uniform deterministic hash."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash63(docs, "text", "doc_id", hash="md5")


@register(
    "doc_winnowing_fingerprint",
    oracle="""
    WITH grams AS (
      SELECT doc_id, text,
             unnest(range(1, greatest(len(text) - 7, 0) + 1)) AS i
      FROM documents
    ), hashed AS (
      SELECT doc_id, i,
             ('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT AS g,
             count(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM grams
    ), wins AS (
      SELECT doc_id, i, n_grams,
             min(g) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS w
      FROM hashed
    )
    SELECT doc_id AS doc,
           CAST(count(DISTINCT w) AS BIGINT) AS n_fingerprints,
           CAST(min(CASE WHEN i = 1 THEN w END) AS BIGINT) AS first_fp
    FROM wins WHERE i <= n_grams - 3
    GROUP BY doc_id
    """,
)
def doc_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling char k-gram hash) fingerprint sets per doc —
    the MOSS near-dup sketch. Value-oracled via the md5 hash tier: both
    engines derive the identical 60-bit gram value (first 15 md5 hex
    digits parsed base-16) and the same windowed min, so the
    fingerprint-set size and the first window's fingerprint hash-compare
    exactly (the xxhash64 tier remains the faster engine path for
    production, same winnowing guarantee). Docs too short to produce a
    full window are dropped on both sides."""
    from hw_kafka_flink_health_spark.operators.dedup import winnowing_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    # Too-short-doc exclusion as a CHEAP pre-filter (len >= kgram+window-1
    # <=> at least one full window). Filtering on n_fingerprints AFTER the
    # operator gets pushed below the projection and re-inlines the whole
    # hash chain into the scan predicate (O(len^2) md5 per row — the plan
    # test pins the single-md5 shape).
    docs = docs.filter(F.length("text") >= 8 + 4 - 1)
    return winnowing_fingerprint(docs, "text", "doc_id", hash="md5").select(
        "doc", "n_fingerprints", F.element_at("fingerprints", 1).alias("first_fp")
    )


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 over case/whitespace-normalized text."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_expr("text").alias("fp"))


@register(
    "text_url_extraction",
    oracle="""
    WITH injected AS (
      SELECT doc_id,
             text || CASE CAST(doc_id % 4 AS INTEGER)
               WHEN 0 THEN ' see https://docs.example.org/guide/'
                           || CAST(doc_id AS VARCHAR)
               WHEN 1 THEN ' via http://data.example.net/d?id='
                           || CAST(doc_id AS VARCHAR)
                           || ' and https://www.example.com/home'
               ELSE '' END AS t
      FROM documents
    ), urls AS (
      SELECT doc_id, unnest(regexp_extract_all(t, 'https?://[^\\s]+')) AS url
      FROM injected
    )
    SELECT regexp_extract(url, 'https?://([^/\\s?]+)', 1) AS domain,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM urls GROUP BY 1
    """,
)
def text_url_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL / domain extraction over the corpus — the provenance census a
    crawl pipeline runs before per-domain filtering or rate-capping.
    regexp_extract_all builds the per-doc URL list JVM-side, explode +
    one (domain) agg does the census; deterministic synthetic URLs are
    injected per doc_id (the corpus is lorem text) so the extraction
    paths are exercised identically in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" see https://docs.example.org/guide/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit(" via http://data.example.net/d?id="),
                F.col("doc_id").cast("string"),
                F.lit(" and https://www.example.com/home"),
            ),
        )
        .otherwise(F.lit("")),
    )
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(injected, F.lit(r"https?://[^\s]+"), 0)
            ).alias("url"),
        )
        .select(
            "doc_id",
            F.regexp_extract("url", r"https?://([^/\s?]+)", 1).alias("domain"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
    )


@register(
    "text_lang_id",
    oracle="""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    s AS (
        SELECT doc_id, lang,
          len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS s_en,
          len(list_filter(toks, x -> x IN ('el','la','de','los','y','que','en'))) AS s_es,
          len(list_filter(toks, x -> x IN ('le','la','les','et','des','un','une'))) AS s_fr,
          len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','nicht'))) AS s_de
        FROM t
    )
    SELECT doc_id, lang,
           CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                WHEN s_fr >= s_de THEN 'fr'
                ELSE 'de' END AS pred_lang
    FROM s
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID heuristic (deterministic argmax)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_expr("text")
    return docs.select("doc_id", "lang", lang_id_expr(toks).alias("pred_lang"))


@register(
    "text_quality",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS distinct_ratio,
           round(list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks), 4) AS avg_token_len,
           CASE WHEN len(toks) >= 5 AND len(list_distinct(toks))::DOUBLE / len(toks) > 0.3
                THEN 1 ELSE 0 END AS quality_ok
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, vocabulary ratio, mean token length,
    and a keep/drop gate — the standard pre-training filters."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_expr("text")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(distinct_ratio_expr(toks), 4).alias("distinct_ratio"),
        F.round(avg_token_len_expr(toks), 4).alias("avg_token_len"),
        quality_ok_expr(toks).alias("quality_ok"),
    )


@register(
    "text_token_counts",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_tokens_regex,
           CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens_ws,
           CAST(strlen(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (regex BPE-ish + whitespace) + byte length."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        regex_token_count_expr("text").alias("n_tokens_regex"),
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("n_tokens_ws"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )


@register(
    "text_repetition",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
      FROM t WHERE len(toks) >= 3
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
           round(1 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE), 6)
             AS rep_ratio
    FROM g
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: fraction of duplicate word 3-grams
    per document (high ratio => boilerplate / degenerate text, dropped
    before training). The gram list is built with higher-order functions
    per row — narrow, codegen'd, no explode/shuffle; the n-gram count per
    doc is bounded by token count so memory is O(doc length). The token
    array MUST be staged as a column before the transform(): an
    element_at over the raw split() expression re-runs the split once per
    lambda invocation (O(tokens²) per row — measured 10× slower at
    sf0.1), while an attribute reference is evaluated once per row.
    Likewise n_grams/n_distinct are staged so array_distinct runs once,
    not re-derived inside rep_ratio."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("toks", i),
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                ),
            ).alias("grams"),
        )
        .select(
            "doc_id",
            F.size(F.col("grams")).cast("bigint").alias("n_grams"),
            F.size(F.array_distinct(F.col("grams")))
            .cast("bigint")
            .alias("n_distinct"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            F.round(
                F.lit(1)
                - F.col("n_distinct") / F.col("n_grams").cast("double"),
                6,
            ).alias("rep_ratio"),
        )
    )


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS asset_id,
           CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
           CAST(strlen(text) AS BIGINT) AS byte_len,
           md5(text) AS content_md5
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: opaque binary payload + JVM-side
    metadata (byte length, content hash). The pandas-UDF decode path is
    exercised in tests (decode itself is environment-stubbed)."""
    docs = load_table(spark, sf_dir, "documents")
    assets = attach_payload_metadata(documents_as_assets(docs))
    return assets.select("asset_id", "modality", "byte_len", "content_md5")


@register(
    "multimodal_decode_features",
    oracle="""
    WITH img AS (
      SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h
      FROM documents WHERE doc_id % 2 = 0
    ), img_px AS (
      SELECT doc_id, w, h, unnest(range(w * h * 3)) AS i FROM img
    ), img_stats AS (
      SELECT doc_id AS asset_id, 'image' AS modality,
             CAST(any_value(w) AS INTEGER) AS width,
             CAST(any_value(h) AS INTEGER) AS height,
             count(*)::BIGINT AS n_values,
             CAST(sum((doc_id * 31 + i) % 256) AS BIGINT) AS sum_values,
             CAST(max((doc_id * 31 + i) % 256) AS BIGINT) AS extreme
      FROM img_px GROUP BY doc_id
    ), aud AS (
      SELECT doc_id, 64 + doc_id % 50 AS n
      FROM documents WHERE doc_id % 2 = 1
    ), aud_px AS (
      SELECT doc_id, unnest(range(n)) AS i FROM aud
    ), aud_stats AS (
      SELECT doc_id AS asset_id, 'audio' AS modality,
             CAST(0 AS INTEGER) AS width, CAST(0 AS INTEGER) AS height,
             count(*)::BIGINT AS n_values,
             CAST(sum((doc_id * 7 + i * 13) % 2048 - 1024) AS BIGINT) AS sum_values,
             CAST(max(abs((doc_id * 7 + i * 13) % 2048 - 1024)) AS BIGINT) AS extreme
      FROM aud_px GROUP BY doc_id
    )
    SELECT * FROM img_stats UNION ALL SELECT * FROM aud_stats
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode, value-oracled end to end: each document
    becomes an actual 24-bit BMP (even doc_id) or RIFF/WAVE PCM16 file
    (odd doc_id) built by the pure-Python encoders, then the decode stage
    re-parses the containers — data-offset walk, 4-byte BMP row padding,
    bottom-up row order, BGR flip, RIFF chunk skipping — and emits exact
    integer pixel/sample statistics. The payload values are deterministic
    functions of doc_id, so the DuckDB oracle replays the decoded stats
    independently of the container bytes: any codec bug (padding leak,
    wrong offset, mis-walked chunk) breaks the value hash. Both stages
    are Arrow-batched mapInPandas over a binary column — the exact 100 TB
    shape, with the codec swapped for jpeg/png/flac decoders when those
    libs exist (`extract_features(decoder=...)` remains the injection
    slot)."""
    docs = load_table(spark, sf_dir, "documents")
    return decode_codec_stats(synthesize_codec_assets(docs))


@register(
    "text_word_frequency",
    oracle="""
    SELECT word, count(*) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ) t WHERE word <> ''
    GROUP BY word ORDER BY n DESC, word LIMIT 50
    """,
)
def text_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word frequency: explode (the generate/unnest operator) ->
    count -> deterministic top-50. explode expands JVM-side inside
    whole-stage codegen; the groupBy map-side-combines before the one
    shuffle, so hot words don't hotspot a reducer."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(50)
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tokens WHERE term <> ''
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term AS dterm, count(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n FROM documents)
    SELECT doc_id, term, round(tf * ln((n.n + 1.0) / (df + 1.0)), 4) AS tfidf
    FROM tf, dfreq, n WHERE tf.term = dfreq.dterm
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the classic keyword extractor as
    three aggregations and a per-doc ranking window. The corpus size is a
    1-row broadcast (never a collect); document frequency re-aggregates
    the tf table (already distinct per doc-term, so count(*) == distinct
    docs). Ranking happens on the ROUNDED score in both engines so FP
    jitter cannot flip the top-3 cut."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 4
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@register(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE t AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), e AS (
        SELECT doc_id, unnest(sh) AS shingle, len(sh) AS n FROM t
    ), p AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               count(*) AS common, any_value(a.n) AS n1, any_value(b.n) AS n2
        FROM e a JOIN e b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*)) >= 0.2
    ), edges AS (
        SELECT doc1 AS u, doc2 AS v FROM p
        UNION SELECT doc2, doc1 FROM p
    ), reach AS (
        SELECT u AS node, u AS r FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u AS node, reach.r FROM edges e JOIN reach ON reach.node = e.v
    )
    SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the >= 0.2 Jaccard near-dup pairs: the
    keep/drop step of a dedup pipeline — every doc in a dup group gets the
    group's min doc_id as its canonical representative. Spark side is
    min-label propagation (one shuffle per round, lineage-checkpointed);
    the oracle is a recursive CTE computing min reachable id, so the
    iterative dataflow is value-checked against a declarative fixpoint."""
    from hw_kafka_flink_health_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2)
    return connected_components(pairs).select(
        F.col("node").cast("bigint").alias("node"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )


@register(
    "dedup_incremental_ingest",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, text,
             CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'ingest')), 1, 8))
                  AS BIGINT) % 10 AS b
      FROM documents
    ), hist AS (
      -- history = earlier buckets, plus re-deliveries: every 5th new doc
      -- was already crawled once (same bytes, earlier delivery)
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM d WHERE b < 8 OR (b >= 8 AND doc_id % 5 = 0)
    ), newb AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM d WHERE b >= 8
    )
    SELECT n.doc_id, n.fp,
           CASE WHEN h.fp IS NOT NULL THEN 'dup' ELSE 'new' END AS status
    FROM newb n LEFT JOIN hist h ON n.fp = h.fp
    """,
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time dedup of a NEW batch against corpus HISTORY — the
    operation a 100 TB pipeline runs on every delivery, where re-scanning
    history per batch is impossible. History is represented by its
    fingerprint INDEX only (distinct md5 of normalized text — write-once,
    tiny next to the corpus, and bucketable by fp so the ingest join
    co-locates); the new batch left-joins the index and each doc comes
    out tagged 'dup' or 'new'. The history/new split here is the
    portable md5 hash bucket of doc_id (deterministic, oracle-twinned),
    with every 5th new doc also present in history — a re-delivered
    crawl — so both branches carry rows; production splits by arrival
    time."""
    from hw_kafka_flink_health_spark.operators.dedup import fingerprint_expr
    from hw_kafka_flink_health_spark.operators.mlprep import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id", 10, salt="ingest")
    redelivered = (b >= 8) & (F.col("doc_id") % 5 == 0)
    hist_index = (
        docs.filter((b < 8) | redelivered)
        .select(fingerprint_expr("text").alias("fp"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    new_batch = docs.filter(b >= 8).select(
        "doc_id", fingerprint_expr("text").alias("fp")
    )
    return new_batch.join(hist_index, "fp", "left").select(
        "doc_id",
        "fp",
        F.when(F.col("__hit").isNotNull(), "dup").otherwise("new").alias("status"),
    )


@register(
    "text_decontaminate",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t,
             CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'bench')), 1, 8))
                  AS BIGINT) % 20 = 0 AS is_bench
      FROM documents
    ), g AS (
      SELECT DISTINCT doc_id, is_bench,
             array_to_string(t[u.i : u.i + 4], ' ') AS gram
      FROM d, unnest(generate_series(1, len(t) - 4)) AS u(i)
    )
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
    FROM (SELECT doc_id, gram FROM g WHERE NOT is_bench) c
    JOIN (SELECT DISTINCT gram FROM g WHERE is_bench) b USING (gram)
    GROUP BY c.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3-style n-gram overlap check,
    n=5 here so the synthetic corpus's short docs still collide): a
    deterministic ~5% md5-bucket of documents plays the eval set; every
    corpus doc sharing a 5-gram with it is flagged with its distinct-hit
    count. The eval gram set broadcasts; the corpus shuffles once
    (the per-doc count) — no self-join, no sort."""
    from hw_kafka_flink_health_spark.operators.dedup import decontaminate_hits
    from hw_kafka_flink_health_spark.operators.mlprep import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    is_bench = hash_bucket("doc_id", 20, "bench") == 0
    hits = decontaminate_hits(
        docs.filter(~is_bench), docs.filter(is_bench), n=5
    )
    return hits.select("doc_id", F.col("n_hit_grams").cast("long"))


@register(
    "text_remove_repeated_spans",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ), s AS (
      SELECT doc_id, u.i AS seg_idx,
             array_to_string(t[(u.i - 1) * 10 + 1 : least(u.i * 10, len(t))], ' ') AS seg
      FROM d, unnest(generate_series(1, CAST(ceil(len(t) / 10.0) AS BIGINT))) AS u(i)
    ), k AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      FROM s
    )
    SELECT doc_id,
           string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
           CAST(count(*) AS BIGINT) AS n_kept
    FROM k WHERE rn = 1
    GROUP BY doc_id
    """,
)
def text_remove_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style repeated-span removal: segment each doc into 10-token
    spans, keep only the globally FIRST occurrence of every span (ties
    broken by (doc_id, position) so both engines agree bit-for-bit), and
    reassemble the surviving spans in document order. One shuffle on the
    span text for the first-occurrence window, one on doc_id to
    reassemble; the segmenting itself is transform/slice JVM-side, and
    at 100 TB the window key would be md5(span) — same plan, bounded
    key width."""
    from hw_kafka_flink_health_spark.operators.dedup import norm_tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    # stage the token array BEFORE the lambda: an inline split would be
    # re-evaluated per segment (CSE does not reach into lambda bodies)
    toks = F.col("__toks")
    nseg = F.ceil(F.size(toks) / F.lit(10.0)).cast("int")
    segs = (
        docs.select("doc_id", norm_tokens_expr("text").alias("__toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), nseg),
                    lambda i: F.concat_ws(" ", F.slice(toks, (i - 1) * 10 + 1, 10)),
                )
            ).alias("pos", "seg"),
        )
        .select("doc_id", (F.col("pos") + 1).alias("seg_idx"), "seg")
    )
    first = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    kept = segs.withColumn("rn", F.row_number().over(first)).filter(F.col("rn") == 1)
    return kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s.seg,
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )


def _bpe_oracle(n_merges: int) -> str:
    """Unrolled BPE twin: per round, one pair-count argmax (same
    desc-count/lexicographic tie-break as the trainer) and one greedy
    left-to-right merge rewrite of every vocabulary word, replayed as
    a `list_reduce` fold over a chr(31)-joined symbol string. Encoding
    then reads straight off the trained vocab table: priority-rank BPE
    encoding equals sequential rank-order application (a rank-k merge
    creates a symbol that only ever appears in pairs of rank > k), and
    the corpus IS the training set, so each word's final symbol count
    is its row in w{n}."""
    rounds = []
    merge_fold = (
        "string_split(list_reduce(syms, (acc, x) -> "
        "CASE WHEN (acc = m.a OR right(acc, 1 + length(m.a)) = chr(31) || m.a)"
        " AND x = m.b "
        "THEN CASE WHEN acc = m.a THEN m.a || m.b "
        "ELSE left(acc, length(acc) - length(m.a) - 1) || chr(31) || m.a || m.b END "
        "ELSE acc || chr(31) || x END), chr(31))"
    )
    for i in range(1, n_merges + 1):
        rounds.append(f"""
    m{i} AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT unnest(syms[1:len(syms)-1]) AS a, unnest(syms[2:len(syms)]) AS b,
               freq
        FROM w{i - 1}
      ) GROUP BY a, b ORDER BY sum(freq) DESC, a, b LIMIT 1
    ),
    w{i} AS MATERIALIZED (
      SELECT word,
             CASE WHEN m.a IS NULL THEN syms ELSE {merge_fold} END AS syms,
             freq
      FROM w{i - 1} LEFT JOIN m{i} m ON TRUE
    )""")
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
      FROM documents
    ), dw AS MATERIALIZED (SELECT doc_id, word FROM toks WHERE word <> ''),
    w0 AS MATERIALIZED (
      SELECT word, string_split(word, '') AS syms, CAST(count(*) AS BIGINT) AS freq
      FROM dw GROUP BY word
    ),{",".join(rounds)},
    enc AS (
      SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(len(w.syms)) AS BIGINT) AS n_bpe_tokens
      FROM dw d JOIN w{n_merges} w USING (word) GROUP BY d.doc_id
    )
    SELECT doc.doc_id,
           coalesce(enc.n_bpe_tokens, 0) AS n_bpe_tokens,
           coalesce(enc.n_words, 0) AS n_words
    FROM documents doc LEFT JOIN enc ON doc.doc_id = enc.doc_id
    """


@register("text_bpe_token_counts", oracle=_bpe_oracle(40))
def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a 40-merge BPE tokenizer ON the corpus (one aggregation per
    merge round over the distinct-word table, one argmax row collected
    per round) and encode every document with it. The training loop is
    iterative (one bounded driver row per round), but for the FIXED
    40-merge budget the DuckDB twin replays the full merge sequence as
    40 unrolled CTE rounds and reads encodings off the trained vocab
    table (`_bpe_oracle` — round-6 verdict item 6), so the query is
    value-hash-checked end to end; sequential-vs-distributed trainer
    parity is additionally pinned by tests/test_bpe.py."""
    from hw_kafka_flink_health_spark.operators.bpe import bpe_encode, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=40)
    return bpe_encode(docs, merges)


@register(
    "pipeline_pretrain_corpus",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source, text,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'bench')), 1, 8))
                  AS BIGINT) % 20 = 0 AS is_bench,
             row_number() OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                                ORDER BY doc_id) AS rn
      FROM documents
    ), qual AS (
      SELECT doc_id, source, text FROM fp
      WHERE rn = 1 AND NOT is_bench
        AND len(string_split(text, ' ')) >= 5
        AND len(list_distinct(string_split(text, ' ')))::DOUBLE
            / len(string_split(text, ' ')) > 0.3
    ), btoks AS (
      SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
      WHERE CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), 'bench')), 1, 8))
                 AS BIGINT) % 20 = 0
    ), bgrams AS (
      SELECT DISTINCT array_to_string(t[u.i : u.i + 4], ' ') AS gram
      FROM btoks, unnest(generate_series(1, len(t) - 4)) AS u(i)
    ), ctoks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM qual
    ), cont AS (
      SELECT DISTINCT g.doc_id
      FROM (
        SELECT DISTINCT doc_id, array_to_string(t[u.i : u.i + 4], ' ') AS gram
        FROM ctoks, unnest(generate_series(1, len(t) - 4)) AS u(i)
      ) g JOIN bgrams USING (gram)
    ), clean AS (
      SELECT q.doc_id, q.source FROM qual q
      ANTI JOIN cont c ON q.doc_id = c.doc_id
    ), cnt AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM clean GROUP BY source
    ), r AS (
      SELECT source, least(1.0, 0.5 * sum(n) OVER () / count(*) OVER () / n) AS keep_rate
      FROM cnt
    )
    SELECT c.doc_id, c.source
    FROM clean c JOIN r USING (source)
    WHERE CAST(concat('0x', substr(md5(concat(CAST(c.doc_id AS VARCHAR), 'mix')), 1, 8))
               AS BIGINT) / 4294967296.0 < r.keep_rate
    """,
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE pretraining corpus-selection pipeline as ONE declarative
    DAG: exact dedup (first-copy survivor) -> quality gate -> benchmark
    decontamination -> domain-mixture resampling, value-hash-oracled end
    to end. This is the integration query — each stage is its own oracled
    operator elsewhere; here Catalyst fuses them, and the oracle proves
    the COMPOSITION (stage ordering, survivor interactions) not just the
    parts. Shuffle audit: dedup window (1 exchange on fp), gram join
    (broadcast), per-source counts on a 20-row aggregate, final rate join
    (broadcast) — the corpus body is shuffled once."""
    from pyspark.sql import Window as W

    from hw_kafka_flink_health_spark.operators.dedup import (
        decontaminate_hits,
        fingerprint_expr,
    )
    from hw_kafka_flink_health_spark.operators.mlprep import hash_bucket, hash_unit

    docs = load_table(spark, sf_dir, "documents")
    is_bench = hash_bucket("doc_id", 20, "bench") == 0

    # stage 1+2: first-copy-per-fingerprint survivors, quality-gated,
    # eval docs excluded from the corpus
    rn = F.row_number().over(
        W.partitionBy(fingerprint_expr("text")).orderBy("doc_id")
    )
    raw_toks = F.split(F.col("text"), " ")
    qual = materialize(
        docs.withColumn("rn", rn)
        .filter((F.col("rn") == 1) & ~is_bench)
        .filter(
            (F.size(raw_toks) >= 5)
            & (
                F.size(F.array_distinct(raw_toks)).cast("double")
                / F.size(raw_toks)
                > 0.3
            )
        )
        .select("doc_id", "source", "text")
        # qual (dedup window over the CORPUS BODY + quality gate) feeds
        # decontaminate_hits, the anti-join, the mixture counts and the
        # final join: unmaterialized, the documents scan ran 6x and the
        # fingerprint-window body shuffle 3x (r12 executed-plan audit).
        # Materializing one survivor body is strictly fewer bytes than
        # re-shuffling it twice more — the §8 "move heavy rows once"
        # rule applied to a checkpoint instead of a join.
    )

    # stage 3: drop anything sharing a 5-gram with the eval set
    hits = decontaminate_hits(qual, docs.filter(is_bench), n=5)
    clean = qual.join(hits.select("doc_id"), "doc_id", "left_anti")

    # stage 4: deterministic mixture rebalance toward equal source shares
    counts = clean.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = W.partitionBy()
    rates = counts.select(
        "source",
        F.least(
            F.lit(1.0),
            F.lit(0.5) * F.sum("n").over(w) / F.count(F.lit(1)).over(w) / F.col("n"),
        ).alias("keep_rate"),
    )
    return (
        clean.join(F.broadcast(rates), "source")
        .filter(hash_unit("doc_id", "mix") < F.col("keep_rate"))
        .select("doc_id", "source")
    )


@register(
    "corpus_report",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source, n_chars,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             len(string_split(text, ' ')) AS n_toks,
             CASE WHEN len(string_split(text, ' ')) >= 5
                   AND len(list_distinct(string_split(text, ' ')))::DOUBLE
                       / len(string_split(text, ' ')) > 0.3
                  THEN 1 ELSE 0 END AS quality_ok
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(quality_ok), 4) AS quality_rate,
           round(quantile_cont(n_toks, 0.5), 2) AS p50_tokens,
           round(quantile_cont(n_toks, 0.9), 2) AS p90_tokens
    FROM t
    """,
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus health report: size, exact-dup rate, language/source
    mix, token volume, quality rate, and token-length percentiles — in
    ONE aggregation pass (every metric is an agg expression over the
    same projected scan; the three count-distincts share the Expand).
    This is the daily dashboard number-source for a training-data
    pipeline, and the query to run before/after every dedup or filter
    change."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    t = docs.select(
        "lang",
        "source",
        "n_chars",
        fingerprint_expr("text").alias("fp"),
        F.size(toks).alias("n_toks"),
        F.when(
            (F.size(toks) >= 5)
            & (
                F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
                > 0.3
            ),
            1,
        )
        .otherwise(0)
        .alias("quality_ok"),
    )
    return t.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("fp").cast("long").alias("n_unique_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(F.avg("quality_ok"), 4).alias("quality_rate"),
        F.round(F.percentile("n_toks", F.lit(0.5)), 2).alias("p50_tokens"),
        F.round(F.percentile("n_toks", F.lit(0.9)), 2).alias("p90_tokens"),
    )


@register(
    "multimodal_raw_rgb_resize",
    oracle="""
    WITH d AS (SELECT doc_id, md5('img:' || CAST(doc_id AS VARCHAR)) AS h
               FROM documents WHERE doc_id < 200),
    gy AS (SELECT doc_id, h, unnest(range(8)) AS y FROM d),
    g AS (SELECT doc_id, h, y, unnest(range(8)) AS x FROM gy),
    px AS (
      -- nearest-neighbor 16->8: sampled pixel (2y, 2x); flat byte index
      -- of channel c is ((2y)*16 + 2x)*3 + c, and payload byte i is
      -- digest byte i % 16 (the 16-byte md5 seed is tiled to 768 bytes)
      SELECT doc_id, y, x,
             ((2*y)*16 + 2*x)*3 AS base, h
      FROM g
    ), b AS (
      SELECT doc_id,
        (strpos('0123456789abcdef', substr(h, 2*((base+0) % 16)+1, 1))-1)*16
          + (strpos('0123456789abcdef', substr(h, 2*((base+0) % 16)+2, 1))-1) AS r,
        (strpos('0123456789abcdef', substr(h, 2*((base+1) % 16)+1, 1))-1)*16
          + (strpos('0123456789abcdef', substr(h, 2*((base+1) % 16)+2, 1))-1) AS g,
        (strpos('0123456789abcdef', substr(h, 2*((base+2) % 16)+1, 1))-1)*16
          + (strpos('0123456789abcdef', substr(h, 2*((base+2) % 16)+2, 1))-1) AS b
      FROM px
    )
    SELECT doc_id AS asset_id,
           CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
           sum(r) / 64.0 AS mean_r,
           sum(g) / 64.0 AS mean_g,
           sum(b) / 64.0 AS mean_b
    FROM b GROUP BY doc_id
    """,
)
def multimodal_raw_rgb_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-computation multimodal path: deterministic 16x16 raw_rgb
    images synthesized per doc (md5-seeded pixels, generated
    executor-side in the same Arrow pass shape a thumbnail service uses),
    then ACTUALLY resized to 8x8 with numpy nearest-neighbor and reduced
    to channel means. Value-oracled: the seed bytes are md5 hex digits
    DuckDB can re-derive, the nearest-neighbor grid is integer index
    arithmetic, and each channel mean is an exact k/64 double (64 uint8
    samples; 1/64 is a terminating binary fraction, so no rounding step
    is needed for cross-engine repr equality). The pixel math is
    additionally pinned in
    tests/test_multimodal.py::test_raw_rgb_resize_is_real_pixel_math."""
    import hashlib

    import pandas as pd_

    from hw_kafka_flink_health_spark.operators.multimodal import (
        encode_raw_rgb,
        resize_raw_rgb,
    )
    from hw_kafka_flink_health_spark.pyship import ship_package

    ship_package(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 200
    )

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                seed = hashlib.md5(f"img:{did}".encode()).digest()
                px = np.frombuffer(
                    (seed * (16 * 16 * 3 // len(seed) + 1))[: 16 * 16 * 3],
                    dtype=np.uint8,
                ).reshape(16, 16, 3)
                rows.append((int(did), encode_raw_rgb(px)))
            yield pd_.DataFrame(rows, columns=["asset_id", "payload"])

    assets = docs.mapInPandas(gen, "asset_id long, payload binary")
    return resize_raw_rgb(assets, target_w=8, target_h=8).select(
        "asset_id",
        "width",
        "height",
        # exact k/64 doubles — see docstring; rounding would only add a
        # cross-engine half-up/half-even hazard
        "mean_r",
        "mean_g",
        "mean_b",
    )


@register(
    "quality_logistic_score",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_toks,
             len(list_distinct(string_split(text, ' ')))::DOUBLE
               / len(string_split(text, ' ')) AS distinct_ratio,
             n_chars::DOUBLE / len(string_split(text, ' ')) AS avg_tok_len
      FROM documents
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(-3.0 + 0.01 * n_toks + 4.0 * distinct_ratio
                                    - 0.2 * avg_tok_len))), 4) AS quality_score,
           CAST(CASE WHEN 1.0 / (1.0 + exp(-(-3.0 + 0.01 * n_toks
                                             + 4.0 * distinct_ratio
                                             - 0.2 * avg_tok_len))) > 0.5
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM f
    """,
)
def quality_logistic_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model inference as columnar math: a (fixed-weight) logistic
    quality classifier evaluated entirely inside Catalyst — features
    (token count, vocabulary ratio, average token length) and the
    sigmoid all whole-stage-codegen expressions, no UDF, no model
    server. This is how a trained linear/logistic filter actually ships
    at 100 TB: export the weights, score as a column. The weights here
    are documented constants so the oracle can hash-check the math; a
    real deployment swaps them per training run (same plan)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_toks = F.size(toks).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_toks
    avg_tok_len = F.col("n_chars").cast("double") / n_toks
    z = (
        F.lit(-3.0)
        + F.lit(0.01) * n_toks
        + F.lit(4.0) * distinct_ratio
        - F.lit(0.2) * avg_tok_len
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return docs.select(
        "doc_id",
        F.round(score, 4).alias("quality_score"),
        F.when(score > 0.5, 1).otherwise(0).cast("long").alias("keep"),
    )


@register(
    "text_bigram_logprob",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ), bg AS (
      SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
      FROM d, unnest(generate_series(1, len(t) - 1)) AS u(i)
    ), bc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2
    ), uc AS (
      SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY w1
    ), v AS (
      SELECT CAST(count(DISTINCT w1) AS BIGINT) AS vocab FROM uc
    ), model AS (
      SELECT bc.w1, bc.w2, ln((bc.c2 + 1.0) / (uc.c1 + v.vocab)) AS lp
      FROM bc JOIN uc ON bc.w1 = uc.w1 CROSS JOIN v
    ), doc_bg AS (
      SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS n
      FROM bg GROUP BY doc_id, w1, w2
    )
    SELECT d.doc_id,
           round(sum(d.n * m.lp) / sum(d.n), 4) AS avg_logprob,
           CAST(sum(d.n) AS BIGINT) AS n_bigrams
    FROM doc_bg d JOIN model m ON d.w1 = m.w1 AND d.w2 = m.w2
    GROUP BY d.doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style corpus-LM quality score, fully relational: train a
    bigram model ON the corpus (two hash aggs), then score every doc's
    average add-one-smoothed log P(w2|w1) by joining its bigrams back to
    the count tables. Low scores flag gibberish / boilerplate the way a
    perplexity filter does, with zero Python in the loop. Scale: the two
    count tables partition on the same bigram/unigram keys as the probe
    side (co-partitioned joins), and the vocab scalar broadcasts; at
    100 TB the model tables are the compact side — exactly the shape a
    real LM filter materializes once and reuses per delivery."""
    from hw_kafka_flink_health_spark.operators.dedup import norm_tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    bg = (
        docs.select("doc_id", norm_tokens_expr("text").alias("__t"))
        .select(
            "doc_id",
            F.posexplode(
                F.zip_with(
                    F.slice(F.col("__t"), 1, F.size("__t") - 1),
                    F.slice(F.col("__t"), 2, F.size("__t") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("pos", "p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uc = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = uc.agg(F.countDistinct("w1").alias("vocab"))
    # score each DISTINCT bigram type once (model table), probe with the
    # per-doc bigram COUNTS: both sides shrink by their repetition factor
    # before the join, and the occurrence-weighted mean equals the plain
    # mean over occurrences
    model = (
        bc.join(uc, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("vocab"))).alias(
                "lp"
            ),
        )
    )
    doc_bg = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    return (
        doc_bg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("n") * F.col("lp")) / F.sum("n"), 4
            ).alias("avg_logprob"),
            F.sum("n").cast("long").alias("n_bigrams"),
        )
    )


@register(
    "text_paragraph_dedup",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN concat('subscribe to our newsletter today for updates and exclusive offers right now ', text)
                  ELSE text END AS txt
      FROM documents WHERE text IS NOT NULL
    ), w AS (
      SELECT doc_id, string_split(txt, ' ') AS ws FROM base
    ), ex AS (
      SELECT doc_id, i AS chunk_idx,
             array_to_string(ws[(i*12+1):(i*12+12)], ' ') AS para
      FROM w, unnest(range(0, CAST(ceil(len(ws)/12.0) AS BIGINT))) AS t(i)
    ), keep AS (
      SELECT para, min({'doc_id': doc_id, 'chunk_idx': chunk_idx}) AS k FROM ex GROUP BY para
    ), kd AS (
      SELECT k.doc_id AS doc_id, k.chunk_idx AS chunk_idx, para FROM keep
    ), tot AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS total_paras FROM ex GROUP BY doc_id
    ), kagg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_paras,
             md5(string_agg(para, chr(10) ORDER BY chunk_idx)) AS dedup_md5
      FROM kd GROUP BY doc_id
    )
    SELECT t.doc_id, t.total_paras,
           CAST(coalesce(k.kept_paras, 0) AS BIGINT) AS kept_paras,
           coalesce(k.dedup_md5, md5('')) AS dedup_md5
    FROM tot t LEFT JOIN kagg k USING (doc_id)
    """,
)
def text_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/CCNet-style EXACT paragraph dedup with document
    reassembly: segment each doc into 12-word paragraphs, keep only the
    globally-first occurrence of every distinct paragraph (min
    (doc_id, chunk_idx)), and rebuild each document from its surviving
    paragraphs. Deterministic boilerplate is prepended to every 5th doc
    so cross-document duplicates actually exist.

    Scale shape: the keeper per paragraph is a `min(struct(...))` AGGREGATE,
    not a row_number window — partial (map-side) combine collapses even a
    corpus-wide boilerplate paragraph's billions of copies before the
    shuffle, so the hot paragraph that would stall a window sort is
    skew-immune. One shuffle on paragraph hash + one on doc_id for the
    reassembly; nothing is quadratic in duplicate count."""
    chunk = 12
    boiler = "subscribe to our newsletter today for updates and exclusive offers right now "
    # NULL-text docs carry no paragraphs to dedup — drop them explicitly
    # (both sides) rather than let NULL split/explode semantics diverge
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    txt = F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit(boiler), F.col("text"))).otherwise(
        F.col("text")
    )
    ws = F.split(txt, " ")
    nch = F.ceil(F.size(ws) / F.lit(float(chunk))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.array_join(F.slice(ws, i * chunk + 1, F.lit(chunk)), " "),
    )
    ex = docs.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "para"))
    kept = (
        ex.groupBy("para")
        .agg(F.min(F.struct("doc_id", "chunk_idx")).alias("k"))
        .select(F.col("k.doc_id").alias("doc_id"), F.col("k.chunk_idx").alias("chunk_idx"), "para")
    )
    tot = ex.groupBy("doc_id").agg(F.count("*").alias("total_paras"))
    kagg = kept.groupBy("doc_id").agg(
        F.count("*").alias("kept_paras"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "para"))),
                    lambda s: s["para"],
                ),
                "\n",
            )
        ).alias("dedup_md5"),
    )
    return tot.join(kagg, "doc_id", "left").select(
        "doc_id",
        "total_paras",
        F.coalesce("kept_paras", F.lit(0)).cast("bigint").alias("kept_paras"),
        F.coalesce("dedup_md5", F.md5(F.lit(""))).alias("dedup_md5"),
    )


@register(
    "text_gopher_rules",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN concat(text, ' !!! ### >>> ...')
                  ELSE text END AS txt
      FROM documents WHERE text IS NOT NULL
    ), f AS (
      SELECT doc_id, string_split(txt, ' ') AS ws FROM base
    ), m AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS word_count,
             round(list_aggregate(list_transform(ws, w -> length(w)), 'sum')
                   / len(ws), 4) AS mean_word_len,
             CAST(len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and', 'to', 'in')))
                  AS BIGINT) AS stop_hits,
             round(len(list_filter(ws, w -> regexp_matches(w, '^[a-z]+$')))
                   / len(ws), 4) AS alpha_ratio
      FROM f
    )
    SELECT doc_id, word_count, mean_word_len, stop_hits, alpha_ratio,
           (word_count BETWEEN 5 AND 1000)
           AND (mean_word_len BETWEEN 2 AND 12)
           AND stop_hits >= 2
           AND alpha_ratio > 0.8 AS keep
    FROM m
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1
    shape): word-count bounds, mean-word-length band, minimum stopword
    hits, and alphabetic-word ratio — the standard first-pass pretraining
    screen. Deterministic symbol junk is appended to every 7th doc so the
    reject branch is exercised. Pure Catalyst higher-order functions on
    the split array (one pass, no shuffle, no UDF); the same lambdas run
    in DuckDB for the value-level audit."""
    # a doc with no text has no quality signal — drop, don't emit NULL
    # metrics whose three-valued `keep` logic differs across engines
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    txt = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" !!! ### >>> ..."))
    ).otherwise(F.col("text"))
    ws = F.split(txt, " ")
    wc = F.size(ws).cast("bigint")
    sum_len = F.aggregate(
        F.transform(ws, lambda w: F.length(w)),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    mwl = F.round(sum_len / wc, 4)
    stop_hits = F.size(
        F.filter(ws, lambda w: w.isin("the", "a", "of", "and", "to", "in"))
    ).cast("bigint")
    alpha = F.round(F.size(F.filter(ws, lambda w: w.rlike("^[a-z]+$"))) / wc, 4)
    return docs.select(
        "doc_id",
        wc.alias("word_count"),
        mwl.alias("mean_word_len"),
        stop_hits.alias("stop_hits"),
        alpha.alias("alpha_ratio"),
        (
            wc.between(5, 1000)
            & mwl.between(2, 12)
            & (stop_hits >= 2)
            & (alpha > 0.8)
        ).alias("keep"),
    )


@register(
    "dedup_incremental_neardup",
    oracle="""
    WITH src AS (
      SELECT doc_id AS doc, text FROM documents
      UNION ALL
      SELECT -(doc_id + 1) AS doc, text || ' minor appended revision' AS text
      FROM documents WHERE doc_id % 50 = 7
    ), t AS (
      SELECT doc,
             list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      FROM (SELECT doc, string_split(text, ' ') AS toks FROM src)
    ), e AS (
      SELECT doc, ('0x' || substr(md5(u.shingle), 1, 15))::BIGINT % 2147483647 AS x
      FROM t, unnest(t.sh) AS u(shingle)
      WHERE len(t.sh) > 0
    ), perm AS (
      SELECT r.range AS i,
             (r.range * 2654435761 + 1) % 2147483647 AS a,
             (r.range * 40503 + 17) % 2147483647 AS b
      FROM range(16) r
    ), sig AS (
      SELECT doc, i, min((a * x + b) % 2147483647) AS s
      FROM e CROSS JOIN perm GROUP BY doc, i
    ), sigarr AS (
      SELECT doc, list(s ORDER BY i) AS sig FROM sig GROUP BY doc
    ), bands AS (
      SELECT doc, b.range AS band,
             sig[CAST(2 * b.range + 1 AS INTEGER)] * 2147483647
               + sig[CAST(2 * b.range + 2 AS INTEGER)] AS key
      FROM sigarr, range(8) b
    ), cand AS (
      SELECT DISTINCT x.doc AS new_doc, y.doc AS old_doc
      FROM bands x JOIN bands y USING (band, key)
      WHERE x.doc < 0 AND y.doc >= 0
    )
    SELECT new_doc, old_doc, est_jaccard FROM (
      SELECT c.new_doc, c.old_doc,
             CAST(list_sum(list_transform(range(1, 17),
                 i -> CASE WHEN s1.sig[i] = s2.sig[i] THEN 1 ELSE 0 END))
               AS DOUBLE) / 16.0 AS est_jaccard
      FROM cand c
      JOIN sigarr s1 ON s1.doc = c.new_doc
      JOIN sigarr s2 ON s2.doc = c.old_doc
    ) WHERE est_jaccard >= 0.4
    """,
)
def dedup_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time near-dup screen: a synthetic 'new batch' (every
    50th doc, re-ingested with a trailing edit and a shifted id) is
    probed against the corpus via the asymmetric MinHash band join —
    candidates are (new, old) only, cost scales with the batch, not the
    history. Value-oracled via the deterministic tier
    (`operators/dedup.py:minhash_det_incremental_candidates` — same
    pinned md5/(a·x+b) mod p signatures that oracled the full-corpus
    `dedup_minhash_lsh`), so DuckDB replays the candidate set and the
    Jaccard estimates exactly. The pyspark.ml seeded tier stays as the
    alternate path, with planted recall pinned by
    tests/test_approx_operators.py::test_minhash_incremental_catches_planted_neardup_of_history."""
    from hw_kafka_flink_health_spark.operators.dedup import (
        minhash_det_incremental_candidates,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    history = docs  # full corpus: the batch re-delivers EDITED copies of it
    # Batch ids live in a DISJOINT namespace (negative) — a fixed additive
    # offset would collide with real history ids once doc_id reaches it at
    # larger scale factors, corrupting the new/old role check.
    batch = docs.filter(F.col("doc_id") % 50 == 7).select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" minor appended revision")).alias("text"),
    )
    return minhash_det_incremental_candidates(
        history, batch, "text", "doc_id", threshold=0.4
    )


@register(
    "text_vocab_coverage",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), tf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w
    ), r AS (
      SELECT w, c,
             row_number() OVER (ORDER BY c DESC, w) AS rk,
             sum(c) OVER () AS total
      FROM tf
    ), cum AS (
      SELECT rk, c, total,
             sum(c) OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) AS cum_c
      FROM r
    )
    SELECT vocab_size,
           round(max(CASE WHEN rk <= vocab_size THEN cum_c ELSE 0 END) * 1.0
                 / any_value(total), 6) AS token_coverage
    FROM cum, unnest([10, 20, 40]) AS t(vocab_size)
    WHERE rk <= vocab_size
    GROUP BY vocab_size
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget planning curve: what fraction of all corpus
    token OCCURRENCES is covered by the top-N vocabulary, for candidate
    vocab sizes — the Zipf-curve readout that sizes a vocabulary before
    training a tokenizer. One token-frequency agg over the corpus; each
    candidate N takes its top-N tokens via orderBy+limit
    (TakeOrderedAndProject — a per-partition heap + driver merge of N
    rows, NEVER a global sort or single-task window, so the curve scales
    to web-corpus vocabularies) and sums their counts against the total.
    Ties broken by token text so both engines rank identically."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    total = tf.agg(F.sum("c").cast("bigint").alias("total"))
    out = None
    for n in (10, 20, 40):
        top = tf.orderBy(F.desc("c"), F.asc("w")).limit(n).agg(
            F.sum("c").cast("bigint").alias("cum_c")
        )
        one = top.crossJoin(total).select(
            F.lit(n).cast("int").alias("vocab_size"),
            F.round(F.col("cum_c") * 1.0 / F.col("total"), 6).alias("token_coverage"),
        )
        out = one if out is None else out.unionAll(one)
    return out


@register("multimodal_audio_spectrum")  # FFT over synthetic payloads: rows-only
def multimodal_audio_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral screen over the audio modality: rFFT per clip (dominant
    tone, centroid, band energy split) — real numpy DSP in mapInPandas.
    The synthetic corpus supplies payload bytes (documents-as-assets);
    exact frequency recovery on known sine payloads is pinned by
    tests/test_multimodal.py::test_audio_spectrum_finds_planted_tones."""
    from hw_kafka_flink_health_spark.operators.multimodal import (
        audio_spectrum_pcm16,
    )

    docs = load_table(spark, sf_dir, "documents")
    assets = documents_as_assets(docs).filter(F.col("modality") == "audio")
    out = audio_spectrum_pcm16(assets)
    return out.select(
        "asset_id",
        "n_samples",
        F.round("dominant_hz", 2).alias("dominant_hz"),
        F.round("spectral_centroid_hz", 2).alias("spectral_centroid_hz"),
        F.round("band_low_frac", 4).alias("band_low_frac"),
    )


@register(
    "text_url_canonicalize",
    oracle="""
    WITH injected AS (
      SELECT doc_id,
             'HTTPS://WWW.Example.COM/Path/Page?utm_source=x&id=' || CAST(doc_id AS VARCHAR)
               || '&utm_campaign=y&ref=z#frag' AS url
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id,
             'http://cdn.example.net/asset/' || CAST(doc_id AS VARCHAR) || '/'
      FROM documents WHERE doc_id % 3 = 1
    ), canon AS (
      SELECT doc_id, url,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(lower(url), '#.*$', ''),
                   '(utm_[a-z]+|ref|fbclid)=[^&]*&?', '', 'g'),
                 '[?&]$', ''),
               '/$', '') AS canonical
      FROM injected
    )
    SELECT doc_id, canonical,
           md5(canonical) AS url_key
    FROM canon
    """,
)
def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for crawl dedup: lowercase, strip fragments,
    tracking parameters (utm_*/ref/fbclid), dangling separators, and
    trailing slashes, then key on md5 of the canonical form — the
    normalization that collapses the dozens of tracked variants of one
    page BEFORE content dedup ever runs. Pure regexp_replace chain
    (codegen, no UDF); deterministic injected URLs exercise every rule in
    both engines."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW.Example.COM/Path/Page?utm_source=x&id="),
            F.col("doc_id").cast("string"),
            F.lit("&utm_campaign=y&ref=z#frag"),
        ).alias("url"),
    )
    b = docs.filter(F.col("doc_id") % 3 == 1).select(
        "doc_id",
        F.concat(
            F.lit("http://cdn.example.net/asset/"), F.col("doc_id").cast("string"), F.lit("/")
        ).alias("url"),
    )
    injected = a.unionAll(b)
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("url")), "#.*$", ""),
                "(utm_[a-z]+|ref|fbclid)=[^&]*&?",
                "",
            ),
            "[?&]$",
            "",
        ),
        "/$",
        "",
    )
    return injected.select(
        "doc_id", canonical.alias("canonical"), F.md5(canonical).alias("url_key")
    )


@register(
    "dedup_cluster_report",
    oracle="""
    WITH RECURSIVE t AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), e AS (
        SELECT doc_id, unnest(sh) AS shingle, len(sh) AS n FROM t
    ), p AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               count(*) AS common, any_value(a.n) AS n1, any_value(b.n) AS n2
        FROM e a JOIN e b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*)::DOUBLE / (any_value(a.n) + any_value(b.n) - count(*)) >= 0.2
    ), edges AS (
        SELECT doc1 AS u, doc2 AS v FROM p
        UNION SELECT doc2, doc1 FROM p
    ), reach AS (
        SELECT u AS node, u AS r FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u AS node, reach.r FROM edges e JOIN reach ON reach.node = e.v
    ), clusters AS (
        SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
    ), sizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM clusters GROUP BY 1
    )
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size - 1) AS BIGINT) AS removable_docs
    FROM sizes GROUP BY cluster_size
    """,
)
def dedup_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup PLANNING report: near-dup cluster-size distribution and
    how many documents a keep-one-per-cluster policy would remove — the
    numbers that decide whether dedup is worth a full corpus rewrite.
    Composition proof: jaccard pairs -> iterative connected components ->
    two tiny aggregations, all value-hashed against DuckDB's recursive-
    CTE fixpoint end to end (singleton docs carry no dedup cost and are
    excluded, matching the CTE's edge-node universe)."""
    from hw_kafka_flink_health_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.2)
    clusters = connected_components(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum(F.col("cluster_size") - 1).cast("bigint").alias("removable_docs"),
    )


@register(
    "text_ngram_novelty",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), e AS (
      SELECT doc_id, unnest(sh) AS g FROM t
    ), firsts AS (
      SELECT g, min(doc_id) AS first_doc FROM e GROUP BY g
    )
    SELECT e.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(*) FILTER (WHERE f.first_doc = e.doc_id) AS BIGINT) AS novel_grams,
           round(count(*) FILTER (WHERE f.first_doc = e.doc_id) * 1.0 / count(*), 4)
             AS novelty
    FROM e JOIN firsts f ON e.g = f.g
    GROUP BY e.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-order novelty per document: the fraction of a doc's
    distinct trigrams appearing for the FIRST time in corpus order — the
    saturation signal that tells a data pipeline when additional crawl
    of a source stops adding information (novelty trending to 0). The
    global first-occurrence is a min(doc_id) AGGREGATE per gram (map-side
    partials — skew-immune like text_paragraph_dedup's keeper), joined
    back to the gram postings; one shuffle on the gram hash, one on
    doc_id."""
    from hw_kafka_flink_health_spark.operators.dedup import shingle_table

    docs = load_table(spark, sf_dir, "documents")
    grams = (
        shingle_table(docs, "text", "doc_id", 3)
        .select("doc", F.explode("sh").alias("g"))
        .withColumnRenamed("doc", "doc_id")
    )
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    joined = grams.join(firsts, "g")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
        .cast("bigint")
        .alias("novel_grams"),
        F.round(
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)) * 1.0
            / F.count(F.lit(1)),
            4,
        ).alias("novelty"),
    )


@register(
    "text_token_entropy",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ), tf AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY source, w
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS entropy_bits,
           round(count(*) * 1.0 / sum(c), 6) AS type_token_ratio
    FROM tf GROUP BY source
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the token distribution plus
    type-token ratio — the lexical-diversity screen that separates
    boilerplate-heavy sources (low entropy, low TTR) from natural prose
    before corpus mixing. Entropy in the numerically-stable form
    log2(N) - sum(c*log2 c)/N over the per-source term frequencies: one
    explode -> (source, token) agg -> per-source agg, all partial-agg
    friendly; no distribution is ever materialized as a vector."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return tf.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.round(
            F.log2(F.sum("c")) - F.sum(F.col("c") * F.log2("c")) / F.sum("c"), 4
        ).alias("entropy_bits"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias("type_token_ratio"),
    )


@register(
    "text_sparse_cosine_pairs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), tf AS (
      SELECT doc_id, w, count(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, w
    ), n AS (SELECT count(*)::DOUBLE AS nn FROM documents),
    dfq AS (SELECT w, count(*)::BIGINT AS dfc FROM tf GROUP BY w),
    wt AS (
      SELECT t.doc_id, t.w, t.tf * ln(nn / dfc) AS wt
      FROM tf t JOIN dfq USING (w) CROSS JOIN n
      WHERE dfc <= 50
    ), nrm AS (SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM wt GROUP BY doc_id),
    dotp AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, sum(a.wt * b.wt) AS dot
      FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2, round(dot / (x.nrm * y.nrm), 4) AS cosine
    FROM dotp JOIN nrm x ON d1 = x.doc_id JOIN nrm y ON d2 = y.doc_id
    WHERE dot / (x.nrm * y.nrm) > 0.2
    """,
)
def text_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity join — the BAG-OF-WORDS sibling of
    the dense embedding near-dup pass: document pairs whose tf-idf
    vectors have cosine > 0.2, computed entirely through the token
    POSTINGS (one join on token, partial-agg dot products), so no
    document vector is ever materialized. The document-frequency cap
    (df <= 50, part of the spec and mirrored in the oracle) is the
    prefix-filtering analog that bounds the per-token pair fan-out f^2 —
    hot/stopword tokens carry ~zero idf weight anyway, and dropping them
    is what keeps the postings join sub-quadratic on a web corpus."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("nn"))
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dfq = tf.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("dfc"))
    wt = (
        tf.join(dfq.filter(F.col("dfc") <= 50), "w")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "w", (F.col("tf") * F.log(F.col("nn") / F.col("dfc"))).alias("wt"))
    )
    nrm = wt.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm"))
    a, b = wt.alias("a"), wt.alias("b")
    dot = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.sum(F.col("a.wt") * F.col("b.wt")).alias("dot"))
    )
    # try_divide: an all-stopword/identical corpus yields zero tf-idf
    # norms; /0 is an ANSI error in Spark and NULL in SQL engines — NULL
    # then fails the similarity filter on both sides
    cos = F.try_divide(F.col("dot"), F.col("x.nrm") * F.col("y.nrm"))
    return (
        dot.join(nrm.alias("x"), F.col("d1") == F.col("x.doc_id"))
        .join(nrm.alias("y"), F.col("d2") == F.col("y.doc_id"))
        .filter(cos > 0.2)
        .select("d1", "d2", F.round(cos, 4).alias("cosine"))
    )


@register("text_compression_ratio")
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio (`operators/compress.py`) — the
    deflate quality screen public corpus pipelines run next to the
    repetition and Gopher rules. Rows-only: zlib has no SQL twin; the
    monotonicity contract (repetitive < prose < incompressible) is pinned
    by tests/test_text_quality.py."""
    from hw_kafka_flink_health_spark.operators.compress import compression_ratio

    docs = load_table(spark, sf_dir, "documents")
    return compression_ratio(docs).orderBy("doc_id")


@register(
    "dedup_sketch_quality_report",
    oracle="""
    WITH t AS (
      SELECT doc_id AS doc,
             list_distinct(list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), e AS (
      SELECT doc, unnest(sh) AS shingle, len(sh) AS n FROM t WHERE len(sh) > 0
    ), exactp AS (
      SELECT a.doc AS id1, b.doc AS id2,
             count(*) AS common, any_value(a.n) AS n1, any_value(b.n) AS n2
      FROM e a JOIN e b USING (shingle)
      WHERE a.doc < b.doc GROUP BY 1, 2
    ), exact AS (
      SELECT id1, id2 FROM exactp
      WHERE common::DOUBLE / (n1 + n2 - common) >= 0.3
    ), eh AS (
      SELECT doc, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS x
      FROM e
    ), perm AS (
      SELECT r.range AS i,
             (r.range * 2654435761 + 1) % 2147483647 AS a,
             (r.range * 40503 + 17) % 2147483647 AS b
      FROM range(16) r
    ), sig AS (
      SELECT doc, i, min((a * x + b) % 2147483647) AS s
      FROM eh CROSS JOIN perm GROUP BY doc, i
    ), sigarr AS (
      SELECT doc, list(s ORDER BY i) AS sig FROM sig GROUP BY doc
    ), bands AS (
      SELECT doc, b.range AS band,
             sig[CAST(2 * b.range + 1 AS INTEGER)] * 2147483647
               + sig[CAST(2 * b.range + 2 AS INTEGER)] AS key
      FROM sigarr, range(8) b
    ), cand AS (
      SELECT DISTINCT x.doc AS id1, y.doc AS id2
      FROM bands x JOIN bands y USING (band, key)
      WHERE x.doc < y.doc
    ), approx AS (
      SELECT id1, id2 FROM (
        SELECT c.id1, c.id2,
               CAST(list_sum(list_transform(range(1, 17),
                   i -> CASE WHEN s1.sig[i] = s2.sig[i] THEN 1 ELSE 0 END))
                 AS DOUBLE) / 16.0 AS est_jaccard
        FROM cand c
        JOIN sigarr s1 ON s1.doc = c.id1
        JOIN sigarr s2 ON s2.doc = c.id2
      ) WHERE est_jaccard >= 0.3
    ), u AS (
      SELECT id1, id2,
             bool_or(side = 'exact') AS has_e, bool_or(side = 'approx') AS has_a
      FROM (
        SELECT id1, id2, 'exact' AS side FROM exact
        UNION ALL
        SELECT id1, id2, 'approx' AS side FROM approx
      ) GROUP BY 1, 2
    )
    SELECT tp, fn, fp,
           round(tp / greatest(tp + fn, 1), 4) AS recall
    FROM (
      SELECT CAST(sum(CASE WHEN has_e AND has_a THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN has_e AND NOT has_a THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN has_a AND NOT has_e THEN 1 ELSE 0 END) AS BIGINT) AS fp
      FROM u
    )
    """,
)
def dedup_sketch_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality evaluation harness: MinHash-LSH candidate pairs
    scored against the EXACT n-gram Jaccard pairs at the same threshold
    — one row of TP / FN / FP counts plus recall. This is the report a
    100 TB dedup deployment produces on a sampled slice before trusting
    the sketch tier corpus-wide (the sketch runs sub-quadratic; the
    exact tier verifies it on the sample). The sketch under evaluation
    is the deterministic tier (`minhash_det_pairs` — the one a scaled
    deployment bucket-joins), so the whole report is value-oracled:
    DuckDB replays both the exact pairs and the sketch pairs and must
    land on identical TP/FN/FP/recall. The seeded pyspark.ml tier keeps
    its planted-duplicate recall floor in
    tests/test_approx_operators.py."""
    from hw_kafka_flink_health_spark.operators.dedup import (
        minhash_det_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.3).select(
        F.col("doc1").alias("id1"), F.col("doc2").alias("id2")
    )
    approx = minhash_det_pairs(docs, "text", "doc_id", threshold=0.3).select(
        F.col("doc1").alias("id1"), F.col("doc2").alias("id2")
    )
    return (
        exact.withColumn("side", F.lit("exact"))
        .unionByName(approx.withColumn("side", F.lit("approx")))
        .groupBy("id1", "id2")
        .agg(F.collect_set("side").alias("sides"))
        .select(
            F.sum(F.when(F.size("sides") == 2, 1).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when(F.array_contains("sides", "exact") & (F.size("sides") == 1), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("fn"),
            F.sum(
                F.when(F.array_contains("sides", "approx") & (F.size("sides") == 1), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("fp"),
        )
        .select(
            "tp",
            "fn",
            "fp",
            F.round(F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)), 4)
            .alias("recall"),
        )
    )


@register(
    "text_sentences_udtf",
    oracle=r"""
    WITH parts AS (
      SELECT doc_id,
             trim(unnest(string_split_regex(text, '\.[ \t\n\r\f]+')),
                  ' ' || chr(9) || chr(10) || chr(13) || chr(12)) AS s
      FROM documents
    ), keep AS (
      SELECT doc_id, s, len(string_split_regex(s, '[ \t\n\r\f]+')) AS n_words
      FROM parts WHERE s <> ''
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_sentences,
           CAST(sum(n_words) AS BIGINT) AS sum_words,
           CAST(max(n_words) AS BIGINT) AS max_words
    FROM keep GROUP BY doc_id
    """,
)
def text_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python user-defined TABLE function (Spark 3.5+/4 `@udtf`,
    Arrow-optimized) driven through SQL `LATERAL` — the one-row-in,
    many-rows-out escape hatch the scalar/aggregate UDF tiers can't
    express. The UDTF splits each document into sentences (regex on
    '.'+whitespace) and yields (idx, sentence, n_words) rows; the query
    aggregates per document so the output is order-insensitive and
    value-oracle-able against DuckDB's regex-split replay. useArrow=True
    keeps the transfer batched (the same Arrow path as pandas UDFs); per
    row the UDTF does O(len) regex work, and rows are independent, so the
    stage parallelizes embarrassingly at 100 TB — it is the heavy
    sentence-segmentation shape (spaCy/pysbd slots in for the regex)."""
    from pyspark.sql.functions import udtf

    # EXPLICIT ASCII whitespace class on both sides: Python re's \s is
    # Unicode-aware (U+00A0, U+3000, ...) while RE2's \s is ASCII-only —
    # a non-breaking space would split words differently per engine
    @udtf(returnType="sentence_idx int, sentence string, n_words int", useArrow=True)
    class SentenceSplit:
        def eval(self, text: str):
            import re

            if text is None:
                return
            ws = " \t\n\r\f"
            idx = 0
            for part in re.split(r"\.[ \t\n\r\f]+", text):
                s = part.strip(ws)
                if s:
                    yield idx, s, len(re.split(r"[ \t\n\r\f]+", s))
                    idx += 1

    spark.udtf.register("sentence_split", SentenceSplit)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__udtf_docs")
    out = spark.sql(
        "SELECT doc_id, s.n_words FROM __udtf_docs, LATERAL sentence_split(text) s"
    )
    return out.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sentences"),
        F.sum("n_words").cast("long").alias("sum_words"),
        F.max("n_words").cast("long").alias("max_words"),
    )


@register(
    "text_cross_doc_dup_spans",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(toks) - 3),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), e AS (
        SELECT doc_id, unnest(sh) AS gram FROM t
    ), dfreq AS (
        SELECT gram, count(*)::BIGINT AS df FROM e GROUP BY gram
    )
    SELECT e.doc_id,
           count(*)::BIGINT AS n_grams,
           sum(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
           round(sum(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS shared_frac
    FROM e JOIN dfreq USING (gram)
    GROUP BY e.doc_id
    """,
)
def text_cross_doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span coverage: for each doc, the
    fraction of its distinct word 5-grams that also occur in at least one
    OTHER document — the exact-substring contamination signal behind
    "train on unique spans only" dedup policies (Lee et al. 2022's screen
    at n-gram granularity). Unlike pairwise near-dup (`dedup_ngram_jaccard`),
    this never forms doc pairs — and since round 8 it never joins the
    postings either. Because each doc's grams are DISTINCT, a gram with
    df == 1 has exactly one owner, recoverable as min(doc_id) inside the
    SAME aggregate that counts df; n_shared is then just n_grams minus
    the doc's unique-gram count, with n_grams read off the shingle
    ARRAY's size (no explode needed for it). That leaves ONE shuffle
    over the postings — the map-side-combined gram aggregate, where a
    corpus-wide boilerplate gram collapses to one counter per task —
    plus a per-doc-sized aggregate and join. The old shape joined dfreq
    back to the postings: a second full postings shuffle on gram whose
    hot keys AQE must skew-split, and a recomputed explode (Catalyst
    does not share the unmaterialized subplan). localCheckpoint feeds
    the two consumers of the shingle arrays; at 100 TB either
    materialize them (linear, ~corpus size) or trade it for recomputing
    the narrow shingling — both beat re-shuffling the postings.
    Measured at sf0.1 (4-rep interleave): 1.82 s -> 1.57 s, and the r7
    4.03 s driver reading re-measured to 2.0 s solo (box noise)."""
    from hw_kafka_flink_health_spark.operators.dedup import shingle_table

    docs = load_table(spark, sf_dir, "documents")
    sh = materialize(shingle_table(docs, "text", "doc_id", 5, nonempty=True))
    per_doc = sh.select(
        F.col("doc").alias("doc_id"), F.size("sh").cast("long").alias("n_grams")
    )
    uniq = (
        sh.select(F.col("doc").alias("doc_id"), F.explode("sh").alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("only_doc"))
        .filter(F.col("df") == 1)
        .groupBy(F.col("only_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_unique"))
    )
    shared = F.col("n_grams") - F.coalesce("n_unique", F.lit(0))
    return (
        per_doc.join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            shared.cast("long").alias("n_shared"),
            F.round(shared.cast("double") / F.col("n_grams"), 6).alias(
                "shared_frac"
            ),
        )
    )


@register(
    "dedup_ngram_containment",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), e AS (
        SELECT doc_id, unnest(sh) AS shingle, len(sh) AS n FROM t
    ), p AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               count(*) AS common, any_value(a.n) AS n1, any_value(b.n) AS n2
        FROM e a JOIN e b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc1, doc2,
           round(common::DOUBLE / n1, 4) AS containment_1_in_2,
           round(common::DOUBLE / n2, 4) AS containment_2_in_1
    FROM p
    WHERE n1 >= 5 AND n2 >= 5
      AND greatest(common::DOUBLE / n1, common::DOUBLE / n2) >= 0.5
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs: C(A->B) = |A∩B| / |A| over
    distinct word trigrams, both directions, keeping pairs where either
    side reaches 0.5 — the quote/excerpt/superset detector Jaccard
    structurally misses (a verbatim excerpt inside a long doc scores
    ~0 Jaccard but 1.0 containment; every serious pretraining dedup
    stack runs both). Same single-shuffle postings -> per-shingle
    buckets -> JVM-side upper-triangle pair plan as
    `dedup_ngram_jaccard` (`operators/dedup.py:ngram_containment_pairs`);
    only the final scalar differs. min_shingles=5 drops trivially tiny
    docs whose containment is noise."""
    from hw_kafka_flink_health_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = ngram_containment_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5, min_shingles=5
    )
    return out.select(
        "doc1",
        "doc2",
        F.round("containment_1_in_2", 4).alias("containment_1_in_2"),
        F.round("containment_2_in_1", 4).alias("containment_2_in_1"),
    )


@register(
    "text_source_token_tvd",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE source IS NOT NULL
    ), cnt AS (
      SELECT source, tok, count(*)::BIGINT AS c
      FROM toks WHERE tok <> '' GROUP BY 1, 2
    ), tot AS (
      SELECT source, sum(c)::BIGINT AS t FROM cnt GROUP BY 1
    ), grid AS (
      SELECT v.tok, s.source, s.t, coalesce(cnt.c, 0) AS c
      FROM (SELECT DISTINCT tok FROM cnt) v
      CROSS JOIN tot s
      LEFT JOIN cnt ON cnt.source = s.source AND cnt.tok = v.tok
    )
    SELECT a.source AS source_1, b.source AS source_2,
           any_value(a.t) AS n_tokens_1, any_value(b.t) AS n_tokens_2,
           CAST(floor(CAST(sum(abs(a.c * b.t - b.c * a.t)) AS DOUBLE)
                      / (2.0 * any_value(a.t) * any_value(b.t))
                      * 1000000 + 0.5) AS BIGINT) AS tvd_micro
    FROM grid a JOIN grid b ON a.tok = b.tok AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def text_source_token_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between corpus sources: total-variation distance
    between every source pair's token distributions — the screen that
    tells a mixing pipeline when one source's language has shifted away
    from another's (new crawl snapshot, new domain mix). Numerics: TVD
    over a shared vocabulary is sum |c1*T2 - c2*T1| — EXACT integers all
    the way (cross-multiplied to the common denominator), one double
    division at the end, emitted in integer micro-units. Shape: token
    counts (map-side combined, the only big shuffle), a dense vocab x
    source grid from a broadcast source dimension, and a self-join on
    token whose fan-out is |pairs| (~S^2/2), never corpus-sized. At
    extreme scale c*T can exceed int64 — switch the cross-product to
    decimal there; the plan shape is unchanged."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    cnt = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    vocab = cnt.select("tok").distinct()
    grid = (
        vocab.crossJoin(
            F.broadcast(tot.select(F.col("source").alias("g_source"), "t"))
        )
        .join(
            cnt.select(
                F.col("source").alias("c_source"),
                F.col("tok").alias("c_tok"),
                "c",
            ),
            on=[
                F.col("g_source") == F.col("c_source"),
                F.col("tok") == F.col("c_tok"),
            ],
            how="left",
        )
        .select(
            "tok",
            F.col("g_source").alias("source"),
            "t",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    a = grid.select(
        F.col("tok"),
        F.col("source").alias("source_1"),
        F.col("t").alias("t1"),
        F.col("c").alias("c1"),
    )
    b = grid.select(
        F.col("tok").alias("tok_b"),
        F.col("source").alias("source_2"),
        F.col("t").alias("t2"),
        F.col("c").alias("c2"),
    )
    j = a.join(
        b,
        (F.col("tok") == F.col("tok_b"))
        & (F.col("source_1") < F.col("source_2")),
    )
    out = j.groupBy("source_1", "source_2").agg(
        F.first("t1").cast("long").alias("n_tokens_1"),
        F.first("t2").cast("long").alias("n_tokens_2"),
        F.sum(F.abs(F.col("c1") * F.col("t2") - F.col("c2") * F.col("t1")))
        .cast("long")
        .alias("num"),
    )
    tvd = F.col("num").cast("double") / (
        2.0 * F.col("n_tokens_1") * F.col("n_tokens_2")
    )
    return out.select(
        "source_1",
        "source_2",
        "n_tokens_1",
        "n_tokens_2",
        F.floor(tvd * 1000000 + 0.5).cast("long").alias("tvd_micro"),
    )


# RAKE delimiter set: true stopwords in the corpus vocabulary plus a few
# high-frequency function-ish words promoted to delimiters so candidate
# phrases have realistic lengths (the stopword list is RAKE's tuning
# knob; any literal set works identically in both engines).
_RAKE_STOPS = ("the", "a", "of", "and", "to", "data", "join", "merge")
_RAKE_MAX_LEN = 4
_RAKE_TOP_K = 40


@register(
    "text_rake_keywords",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             string_split_regex(trim(regexp_replace(lower(text),
               '[^a-z ]+', ' ', 'g')), ' +') AS ws
      FROM documents
    ), words AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos, ws[pos] AS w,
             CAST(ws[pos] IN {str(tuple(_RAKE_STOPS))} AS INTEGER) AS is_stop
      FROM (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS pos
        FROM norm
      ) u
      WHERE ws[pos] <> ''
    ), grouped AS (
      SELECT doc_id, pos, w, grp FROM (
        SELECT doc_id, pos, w, is_stop,
               sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM words
      ) g WHERE is_stop = 0
    ), phr AS (
      SELECT doc_id, grp,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM grouped GROUP BY doc_id, grp
      HAVING count(*) <= {_RAKE_MAX_LEN}
    ), tok AS (
      SELECT g.w, p.plen
      FROM grouped g JOIN phr p ON g.doc_id = p.doc_id AND g.grp = p.grp
    ), wstat AS (
      SELECT w,
             CAST(floor(sum(plen) * 1000000.0 / count(*)) AS BIGINT) AS score_micro
      FROM tok GROUP BY w
    ), scored AS (
      SELECT p.phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(min(ps.score_micro) AS BIGINT) AS score_micro
      FROM phr p JOIN (
        SELECT g.doc_id, g.grp, CAST(sum(ws.score_micro) AS BIGINT) AS score_micro
        FROM grouped g JOIN wstat ws ON g.w = ws.w
        GROUP BY g.doc_id, g.grp
      ) ps ON p.doc_id = ps.doc_id AND p.grp = ps.grp
      GROUP BY p.phrase
    )
    SELECT phrase, n_occurrences, score_micro
    FROM scored ORDER BY score_micro DESC, phrase LIMIT {_RAKE_TOP_K}
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al.): candidate phrases are the
    maximal runs of non-delimiter words, each word is scored
    degree/frequency over the candidate set (degree = sum of lengths of
    phrases containing it — co-occurrence reach; frequency = raw count),
    and a phrase scores the sum of its word scores. Complements tf-idf
    (term weighting) and winnowing (fingerprints) with multi-word
    keyphrase mining.

    Engine-exact by construction: the phrase segmentation is the
    relational ISLANDS idiom (cumulative delimiter count per document —
    no regex-splitting subtleties), word scores are floored to integer
    micro-units so phrase scores stay in exact integer space, and the
    top-k cut ranks on (integer score, phrase) — a total order, immune
    to float jitter. Shuffle budget: one doc-partition window for the
    islands pass riding the posexplode, one aggregate per phrase table,
    one broadcast-size word-stat join (|vocab| rows), one global top-k."""
    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id",
        F.split(
            F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z ]+", " ")),
            " +",
        ).alias("ws"),
    )
    words = (
        norm.select("doc_id", F.posexplode("ws").alias("pos", "w"))
        .filter(F.col("w") != "")
        .withColumn("is_stop", F.col("w").isin(*_RAKE_STOPS).cast("int"))
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    # localCheckpoint: three consumers (phrase agg, degree join, score
    # join) read the token table, and Catalyst does not share
    # unmaterialized subplans — without it the explode+window pipeline
    # runs three times (the r4 BM25 lesson)
    grouped = materialize(
        words.withColumn("grp", F.sum("is_stop").over(wdoc))
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "pos", "w", "grp")
    )
    phr = (
        grouped.groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("plen"),
        )
        .filter(F.col("plen") <= _RAKE_MAX_LEN)
    )
    tok = grouped.join(phr.select("doc_id", "grp", "plen"), ["doc_id", "grp"])
    wstat = tok.groupBy("w").agg(
        F.floor(F.sum("plen") * 1000000.0 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("score_micro")
    )
    ps = (
        grouped.join(F.broadcast(wstat), "w")
        .groupBy("doc_id", "grp")
        .agg(F.sum("score_micro").alias("score_micro"))
    )
    scored = (
        phr.join(ps, ["doc_id", "grp"])
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min(F.col("score_micro")).alias("score_micro"),
        )
    )
    # top-k via orderBy+limit -> TakeOrderedAndProject: every partition
    # keeps its local top-40 and only those reach the final merge — a
    # global row_number window would drag ALL phrases to one partition
    return (
        scored.orderBy(F.col("score_micro").desc(), F.col("phrase"))
        .limit(_RAKE_TOP_K)
        .select("phrase", "n_occurrences", "score_micro")
    )


@register(
    "text_readability_flesch",
    oracle="""
    WITH counts AS (
      SELECT source,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS w,
             greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
                      1) AS s,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
               AS sy
      FROM documents
    ), scored AS (
      SELECT source, w, s, sy,
             CASE WHEN w = 0 THEN NULL
                  ELSE 206.835 - 1.015 * (w / CAST(s AS DOUBLE))
                       - 84.6 * (sy / CAST(w AS DOUBLE)) END AS score
      FROM counts
    ), banded AS (
      SELECT source, w, s, sy,
             CASE WHEN score IS NULL THEN 'empty'
                  WHEN score >= 90.0 THEN 'very_easy'
                  WHEN score >= 60.0 THEN 'plain'
                  WHEN score >= 30.0 THEN 'difficult'
                  ELSE 'very_difficult' END AS band
      FROM scored
    )
    SELECT source, band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS sum_words,
           CAST(sum(s) AS BIGINT) AS sum_sentences,
           CAST(sum(sy) AS BIGINT) AS sum_syllables,
           CASE WHEN CAST(sum(w) AS BIGINT) = 0 THEN NULL
                ELSE 206.835
                     - 1.015 * (CAST(sum(w) AS BIGINT)
                                / CAST(CAST(sum(s) AS BIGINT) AS DOUBLE))
                     - 84.6 * (CAST(sum(sy) AS BIGINT)
                               / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE))
           END AS band_corpus_score
    FROM banded GROUP BY source, band
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring — the corpus-quality readability
    screen a pretraining pipeline runs next to `text_quality`'s
    length/punct ratios. Syllables use the standard vowel-group
    heuristic (runs of [aeiouy]), words are letter runs, sentences are
    terminal-punctuation runs — all three are single `regexp_count`
    passes, JVM-side, zero Python.

    Per doc the score is 206.835 - 1.015(words/sentences)
    - 84.6(syllables/words) on three exact integers (two divisions,
    deterministic in both engines), bucketed into the standard bands;
    output is per (source, band): doc counts, exact count sums, and the
    corpus-level score recomputed from the summed ratios (aggregating
    the counts, NOT averaging per-doc floats — so the aggregate is
    order-independent and hash-stable). One scan, one hash aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.regexp_count(F.col("text"), F.lit("[A-Za-z]+")).cast("bigint")
    s = F.greatest(
        F.regexp_count(F.col("text"), F.lit("[.!?]+")).cast("bigint"), F.lit(1)
    )
    sy = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")).cast("bigint")
    counts = docs.select(
        "source", w.alias("w"), s.alias("s"), sy.alias("sy")
    )
    score = F.when(F.col("w") == 0, F.lit(None).cast("double")).otherwise(
        F.lit(206.835)
        - F.lit(1.015) * (F.col("w") / F.col("s").cast("double"))
        - F.lit(84.6) * (F.col("sy") / F.col("w").cast("double"))
    )
    banded = counts.withColumn(
        "band",
        F.when(score.isNull(), "empty")
        .when(score >= 90.0, "very_easy")
        .when(score >= 60.0, "plain")
        .when(score >= 30.0, "difficult")
        .otherwise("very_difficult"),
    )
    sw = F.sum("w").cast("bigint")
    ss = F.sum("s").cast("bigint")
    ssy = F.sum("sy").cast("bigint")
    return banded.groupBy("source", "band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        sw.alias("sum_words"),
        ss.alias("sum_sentences"),
        ssy.alias("sum_syllables"),
        F.when(sw == 0, F.lit(None).cast("double"))
        .otherwise(
            F.lit(206.835)
            - F.lit(1.015) * (sw / ss.cast("double"))
            - F.lit(84.6) * (ssy / sw.cast("double"))
        )
        .alias("band_corpus_score"),
    )


@register(
    "text_pmi_collocations",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ), uni AS (
      SELECT u.w, CAST(count(*) AS BIGINT) AS c1
      FROM d, unnest(t) AS u(w) GROUP BY u.w
    ), nu AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n_tok FROM uni
    ), bg AS (
      SELECT t[u.i] AS w1, t[u.i + 1] AS w2
      FROM d, unnest(generate_series(1, len(t) - 1)) AS u(i)
    ), bc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2
    ), nb AS (
      SELECT CAST(sum(c2) AS BIGINT) AS n_bg FROM bc
    )
    SELECT w1, w2, c2,
           (CAST(c2 AS DOUBLE) / n_bg)
             * (CAST(n_tok AS DOUBLE) / u1.c1)
             * (CAST(n_tok AS DOUBLE) / u2.c1) AS pmi_ratio
    FROM bc
    JOIN uni u1 ON bc.w1 = u1.w
    JOIN uni u2 ON bc.w2 = u2.w
    CROSS JOIN nu CROSS JOIN nb
    WHERE c2 >= 5
    ORDER BY pmi_ratio DESC, w1, w2
    LIMIT 100
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 bigram collocations by pointwise mutual information — the
    classic collocation detector (Church & Hanks): ratio
    p(w1,w2)/(p(w1)p(w2)) with a min-count-5 support floor. The PMI is
    emitted as the raw probability RATIO, not its log: the log is
    monotone, so the ranking is identical, and the ratio is a fixed
    3-operation IEEE expression over exact BIGINT counts — bitwise
    reproducible cross-engine, where ln() would lean on libm agreement.
    Shape: two hash aggregates (unigram, bigram counts), two broadcast-
    able scalar totals, a model-side join of the bigram table to the
    unigram table on each side (co-partitioned on the word key), then a
    global top-100 via TakeOrderedAndProject — no global sort ever
    materializes the full collocation table."""
    from hw_kafka_flink_health_spark.operators.dedup import norm_tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", norm_tokens_expr("text").alias("__t"))
    uni = (
        toks.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    n_tok = uni.agg(F.sum("c1").cast("long").alias("n_tok"))
    bg = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("__t"), 1, F.size("__t") - 1),
                F.slice(F.col("__t"), 2, F.size("__t") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    n_bg = bc.agg(F.sum("c2").cast("long").alias("n_bg"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1a"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1b"))
    ratio = (
        (F.col("c2").cast("double") / F.col("n_bg"))
        * (F.col("n_tok").cast("double") / F.col("c1a"))
        * (F.col("n_tok").cast("double") / F.col("c1b"))
    )
    return (
        bc.filter(F.col("c2") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_bg))
        .select("w1", "w2", "c2", ratio.alias("pmi_ratio"))
        .orderBy(F.desc("pmi_ratio"), "w1", "w2")
        .limit(100)
    )


@register(
    "text_hapax_ratio",
    oracle="""
    WITH d AS (
      SELECT source,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ), tok AS (
      SELECT source, u.w FROM d, unnest(t) AS u(w)
    ), wc AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY source, w
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(count(*) AS DOUBLE) / sum(c) AS type_token_ratio,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
             AS hapax_ratio
    FROM wc GROUP BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness profile per source: token count, vocabulary
    size, hapax legomena (once-only tokens), type-token ratio, and hapax
    share — the Heaps'-law style signals a corpus audit uses to spot
    boilerplate-heavy (low TTR) or OCR-garbage (hapax-inflated) sources
    before training. Exact BIGINT counts; the two ratios are single
    divisions. Shape: one (source, token) hash aggregate — map-side
    combinable, the same count table a tf-idf pass builds — then a
    source-level rollup; no windows, no sorts, linear at 100 TB."""
    from hw_kafka_flink_health_spark.operators.dedup import norm_tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select("source", F.explode(norm_tokens_expr("text")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return wc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("hapax"),
        (F.count(F.lit(1)).cast("double") / F.sum("c")).alias("type_token_ratio"),
        (
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("hapax_ratio"),
    )


@register(
    "dedup_source_overlap_matrix",
    oracle="""
    WITH h AS (
      SELECT DISTINCT source, md5(text) AS h
      FROM documents WHERE text IS NOT NULL
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS shared_hashes
    FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def dedup_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-duplicate overlap matrix: for every source
    pair, how many distinct content hashes they share — the corpus-
    governance readout that tells you which feeds are re-crawling the
    same material (and where cross-source dedup will shrink the mix).
    Shape: one (source, md5) distinct reduction, then a self-equi-join
    on the hash key — co-partitioned, output bounded by |sources|^2;
    the classic all-pairs-of-documents trap never appears because the
    join key is the content hash, not the document."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    h = docs.select("source", F.md5("text").alias("h")).distinct()
    a = h.select(F.col("source").alias("source_a"), "h")
    b = h.select(F.col("source").alias("source_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_hashes"))
    )


@register(
    "text_keyness_g2",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ), tf AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS a
      FROM tok WHERE w <> '' GROUP BY source, w
    ), st AS (
      SELECT source, CAST(sum(a) AS BIGINT) AS tot FROM tf GROUP BY source
    ), wt AS (
      SELECT w, CAST(sum(a) AS BIGINT) AS tw FROM tf GROUP BY w
    ), nn AS (SELECT CAST(sum(a) AS BIGINT) AS n FROM tf),
    g AS (
      SELECT tf.source, tf.w, tf.a, (wt.tw - tf.a) AS b,
             round(
               CASE WHEN tf.a * nn.n = st.tot * wt.tw THEN 0.0
                    WHEN tf.a * nn.n > st.tot * wt.tw THEN 1.0 ELSE -1.0 END
               * 2.0 * (
                 tf.a * ln(CAST(tf.a AS DOUBLE) * nn.n
                           / (CAST(st.tot AS DOUBLE) * wt.tw))
                 + CASE WHEN wt.tw - tf.a > 0
                        THEN (wt.tw - tf.a)
                             * ln(CAST(wt.tw - tf.a AS DOUBLE) * nn.n
                                  / (CAST(nn.n - st.tot AS DOUBLE) * wt.tw))
                        ELSE 0.0 END
               ), 4) AS g2_signed
      FROM tf JOIN st USING (source) JOIN wt USING (w) CROSS JOIN nn
    ), r AS (
      SELECT source, w AS token, a, b, g2_signed,
             row_number() OVER (
               PARTITION BY source ORDER BY g2_signed DESC, w
             ) AS rnk
      FROM g
    )
    SELECT source, token, a, b, g2_signed, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 10
    """,
)
def text_keyness_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-likelihood keyness (Dunning's G² / log-likelihood ratio, the
    corpus-linguistics standard): which tokens are most OVER-represented
    in each source versus the rest of the corpus — the domain-signature
    readout used to audit corpus mix and catch boilerplate leakage
    between sources before training.

    Exactness follows the token_entropy precedent: all counts (a, b,
    per-source and corpus totals) are exact BIGINTs, the ln() arguments
    are ratios of exact integers, the sign is decided by an exact
    integer comparison (a·N vs tot·tw — never by float subtraction),
    and the rank runs over the ROUNDED statistic plus the token as a
    total-order tiebreak, so top-10 membership is engine-independent.

    Shape: one explode → (source, token) aggregate, then three joins of
    tiny aggregates back (per-source totals broadcast, token totals
    co-partitioned on the token key, corpus total a 1-row broadcast);
    the per-source top-10 is a WindowGroupLimit partial prune, so no
    reducer holds a source's full vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("a"))
    )
    st = tf.groupBy("source").agg(F.sum("a").cast("long").alias("tot"))
    wt = tf.groupBy("w").agg(F.sum("a").cast("long").alias("tw"))
    nn = tf.agg(F.sum("a").cast("long").alias("n"))
    j = (
        tf.join(F.broadcast(st), "source")
        .join(wt, "w")
        .crossJoin(F.broadcast(nn))
    )
    b = F.col("tw") - F.col("a")
    term_a = F.col("a") * F.log(
        F.col("a").cast("double") * F.col("n")
        / (F.col("tot").cast("double") * F.col("tw"))
    )
    term_b = F.when(
        b > 0,
        b
        * F.log(
            b.cast("double") * F.col("n")
            / ((F.col("n") - F.col("tot")).cast("double") * F.col("tw"))
        ),
    ).otherwise(F.lit(0.0))
    sign = (
        F.when(F.col("a") * F.col("n") == F.col("tot") * F.col("tw"), F.lit(0.0))
        .when(F.col("a") * F.col("n") > F.col("tot") * F.col("tw"), F.lit(1.0))
        .otherwise(F.lit(-1.0))
    )
    g = j.select(
        "source",
        F.col("w").alias("token"),
        "a",
        b.cast("long").alias("b"),
        F.round(sign * F.lit(2.0) * (term_a + term_b), 4).alias("g2_signed"),
    )
    from pyspark.sql import Window as W

    rnk = F.row_number().over(
        W.partitionBy("source").orderBy(F.col("g2_signed").desc(), F.col("token"))
    )
    return (
        g.withColumn("rnk", rnk.cast("long"))
        .filter(F.col("rnk") <= 10)
        .select("source", "token", "a", "b", "g2_signed", "rnk")
    )


@register(
    "text_heaps_vocab_growth",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    ix AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS idx,
             CAST(len(list_filter(t, w -> w <> '')) AS BIGINT) AS ntoks
      FROM d
    ),
    n AS (SELECT count(*)::BIGINT AS nn FROM ix),
    dd AS (
      SELECT ix.doc_id, ix.ntoks,
             CAST((ix.idx - 1) * 10 // n.nn + 1 AS BIGINT) AS decile
      FROM ix, n
    ),
    firsts AS (
      SELECT w, min(doc_id) AS fd
      FROM (SELECT doc_id, unnest(t) AS w FROM d)
      WHERE w <> '' GROUP BY w
    ),
    nv AS (
      SELECT dd.decile, count(*)::BIGINT AS new_words
      FROM firsts JOIN dd ON firsts.fd = dd.doc_id
      GROUP BY 1
    ),
    per AS (
      SELECT decile, count(*)::BIGINT AS docs, CAST(sum(ntoks) AS BIGINT) AS toks
      FROM dd GROUP BY 1
    )
    SELECT per.decile,
           CAST(sum(per.docs) OVER (ORDER BY per.decile) AS BIGINT) AS cum_docs,
           CAST(sum(per.toks) OVER (ORDER BY per.decile) AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(nv.new_words, 0)) OVER (ORDER BY per.decile)
                AS BIGINT) AS cum_vocab
    FROM per LEFT JOIN nv USING (decile)
    """,
)
def text_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative distinct-word count
    (plus docs and tokens) at each corpus decile in doc_id order — the
    audit that tells a pretraining pipeline whether a new data slice
    still ADDS vocabulary or is rehashing what the corpus already has
    (sub-linear growth = healthy Heaps; a kink = a pasted duplicate
    slab).

    Never materializes per-prefix vocabularies: a word contributes to
    exactly the decile of its FIRST occurrence (min doc_id — one
    map-side-combined aggregate over the postings, hot words collapse
    pre-shuffle), so the 10-point cumulative curve is a vocab-sized join
    against the doc index plus a 10-row running sum. The doc-index rank
    is :func:`distributed_row_number` (range shuffle + partition-local
    window + bounded offsets broadcast — no SinglePartition exchange
    anywhere, VERDICT r10 #1), which also supplies the total doc count
    N for free from its offsets pass, deleting the old
    crossJoin(broadcast(count)). The postings are never sorted. All
    outputs exact BIGINTs."""
    from hw_kafka_flink_health_spark.operators.dedup import norm_tokens_expr
    from hw_kafka_flink_health_spark.operators.relational import (
        distributed_row_number,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    d = docs.select("doc_id", norm_tokens_expr("text").alias("t"))
    ix = distributed_row_number(
        d.select(
            "doc_id",
            F.size(F.filter("t", lambda w: w != "")).cast("long").alias("ntoks"),
        ),
        ["doc_id"],
        out_col="idx",
        total_col="nn",
    )
    # integer DIV, not float divide-then-cast (bucket-boundary gotcha).
    # No extra checkpoint needed: distributed_row_number pins its
    # range-shuffled pass internally, so BOTH consumers below (the
    # new-words join and the per-decile rollup) re-read that
    # materialization; the decile arithmetic on top is map-side-only.
    dd = ix.select(
        "doc_id",
        "ntoks",
        (F.expr("(idx - 1) * 10 DIV nn") + 1).cast("long").alias("decile"),
    )
    firsts = (
        d.select("doc_id", F.explode("t").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.min("doc_id").alias("fd"))
    )
    nv = (
        firsts.join(dd.select(F.col("doc_id").alias("fd"), "decile"), "fd")
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("new_words"))
    )
    per = dd.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum("ntoks").cast("long").alias("toks"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.join(nv, "decile", "left")
        .select(
            "decile",
            F.sum("docs").over(w).cast("long").alias("cum_docs"),
            F.sum("toks").over(w).cast("long").alias("cum_tokens"),
            F.sum(F.coalesce("new_words", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_vocab"),
        )
    )


@register(
    "text_zipf_slope",
    oracle=r"""
    WITH wc AS (
      SELECT w, count(*)::BIGINT AS c
      FROM (
        SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        FROM documents WHERE text IS NOT NULL
      ) WHERE w <> '' GROUP BY w
    ),
    top AS (
      SELECT w, c FROM wc ORDER BY c DESC, w LIMIT 100
    ),
    xy AS (
      SELECT ln(row_number() OVER (ORDER BY c DESC, w)) AS lx, ln(c) AS ly
      FROM top
    ),
    s AS (
      SELECT count(*)::BIGINT AS n, sum(lx) AS sx, sum(ly) AS sy,
             sum(lx * ly) AS sxy, sum(lx * lx) AS sxx
      FROM xy
    )
    SELECT n,
           round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0), 4)
             AS zipf_slope,
           round((sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0) * sx)
                 / nullif(n, 0), 4) AS intercept
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope: OLS fit of ln(freq) on ln(rank) over
    the top-100 corpus tokens — natural text sits near slope −1, while
    template/boilerplate corpora flatten and OCR noise steepens, so the
    slope is a one-number corpus-health check next to the Heaps curve.

    Shape: one map-side-combined (token → count) aggregate, a global
    top-100 (TakeOrderedAndProject — rank ties broken by token so both
    engines pick the identical set and ranking), then OLS on 100 rows
    from the five sufficient sums. ln() is libm (may differ in the last
    ulp across engines) and the 100-term sums are float — both absorbed
    by the O(1)-magnitude outputs' 4-decimal rounding, far inside the
    safe grain. Degenerate single-token corpora make the OLS denominator
    0 → NULL via try_divide/nullif."""
    from hw_kafka_flink_health_spark.operators.dedup import norm_tokens_expr

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    wc = (
        docs.select(F.explode(norm_tokens_expr("text")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    top = wc.orderBy(F.col("c").desc(), "w").limit(100)
    xy = top.select(
        F.log(F.row_number().over(Window.orderBy(F.col("c").desc(), "w"))).alias("lx"),
        F.log("c").alias("ly"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    slope = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    return s.select(
        "n",
        F.round(slope, 4).alias("zipf_slope"),
        F.round(
            F.try_divide(F.col("sy") - slope * F.col("sx"), F.col("n")), 4
        ).alias("intercept"),
    )


@register(
    "text_phrase_proximity",
    oracle=r"""
    WITH d AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    post AS (
      -- unnest + generate_subscripts zip positionally ONLY when both sit
      -- in the same SELECT list
      SELECT doc_id, unnest(t) AS w,
             CAST(generate_subscripts(t, 1) AS BIGINT) AS pos
      FROM d
    ),
    wc AS (SELECT w, count(*)::BIGINT AS c FROM post WHERE w <> '' GROUP BY w),
    top2 AS (
      SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rk
      FROM wc ORDER BY c DESC, w LIMIT 2
    ),
    hits AS (
      SELECT post.doc_id, post.pos, top2.rk
      FROM post JOIN top2 USING (w)
    ),
    gaps AS (
      SELECT doc_id, rk, pos,
             lag(rk) OVER (PARTITION BY doc_id ORDER BY pos) AS prk,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS ppos
      FROM hits
    )
    SELECT doc_id,
           CAST(min(pos - ppos) AS BIGINT) AS min_gap,
           min(pos - ppos) <= 3 AS within3
    FROM gaps WHERE prk IS NOT NULL AND prk <> rk
    GROUP BY doc_id
    """,
)
def text_phrase_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase/proximity search: for the corpus' two most
    frequent tokens, the minimum word distance between their occurrences
    in every doc containing both — the postings-with-positions primitive
    behind phrase queries ("w1 w2" = gap 1) and NEAR/k operators, and a
    co-occurrence-window feature extractors reuse.

    The min-gap of two sorted position lists is a MERGE, not a pairwise
    join: union both words' postings, sort per doc, and the answer is
    min over adjacent pairs with OPPOSITE tags (one lag window) — linear
    in occurrences where the naive positions×positions join is
    quadratic per doc. Corpus-level work is one token-count aggregate +
    a global top-2 (tie-broken by token, so both engines pick the same
    pair); the per-doc window only ever sees the two chosen words'
    postings. Exact integer positions end-to-end."""
    from hw_kafka_flink_health_spark.operators.dedup import norm_tokens_expr

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    d = docs.select("doc_id", norm_tokens_expr("text").alias("t"))
    post = d.select("doc_id", F.posexplode("t").alias("p0", "w")).select(
        "doc_id", "w", (F.col("p0") + 1).cast("long").alias("pos")
    )
    wc = (
        post.filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    top2 = (
        wc.orderBy(F.col("c").desc(), "w")
        .limit(2)
        .select(
            "w",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), "w"))
            .alias("rk"),
        )
    )
    hits = post.join(F.broadcast(top2), "w").select("doc_id", "pos", "rk")
    lw = Window.partitionBy("doc_id").orderBy("pos")
    gaps = hits.select(
        "doc_id",
        "rk",
        "pos",
        F.lag("rk").over(lw).alias("prk"),
        F.lag("pos").over(lw).alias("ppos"),
    )
    return (
        gaps.filter(F.col("prk").isNotNull() & (F.col("prk") != F.col("rk")))
        .groupBy("doc_id")
        .agg(
            F.min(F.col("pos") - F.col("ppos")).cast("long").alias("min_gap"),
            (F.min(F.col("pos") - F.col("ppos")) <= 3).alias("within3"),
        )
    )


@register(
    "dedup_levenshtein_blocked",
    oracle="""
    WITH names AS (
      SELECT DISTINCT p_name AS nm FROM part WHERE p_name IS NOT NULL
    ),
    aug AS (
      SELECT nm FROM names
      UNION ALL
      -- planted near-dup: last two characters transposed (edit distance
      -- 2 under unit-cost levenshtein, which has no transposition op)
      SELECT substr(nm, 1, length(nm) - 2)
             || substr(nm, length(nm), 1)
             || substr(nm, length(nm) - 1, 1)
      FROM names WHERE length(nm) >= 2
    ),
    u AS (
      SELECT DISTINCT nm, substr(nm, 1, 3) AS blk,
             -- ASCII-fold the DISTANCE input: DuckDB levenshtein counts
             -- BYTES while Spark counts CHARACTERS, so multibyte text
             -- diverges; after folding, bytes == chars in both engines
             regexp_replace(nm, '[^\\x20-\\x7e]', '#', 'g') AS fold
      FROM aug
    )
    SELECT a.nm AS name1, b.nm AS name2,
           CAST(levenshtein(a.fold, b.fold) AS BIGINT) AS dist
    FROM u a JOIN u b ON a.blk = b.blk AND a.nm < b.nm
    WHERE levenshtein(a.fold, b.fold) <= 2
    """,
)
def dedup_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup discovery with prefix blocking — the
    string-similarity-join member of the dedup family (catalog-cleaning /
    entity-resolution use: catch typo'd SKU names that hash/shingle dedup
    misses because a 1-char edit changes every fingerprint). A transposed
    copy of every distinct name is planted so the match branch is real.

    Scale shape, in order of importance: (1) DISTINCT-name reduction
    FIRST — levenshtein runs on the name VOCABULARY (64 names here, ~k
    at 100 TB), never the row count, the same distinct-value-reduction
    lever the rank statistics use; (2) prefix blocking bounds the
    candidate pairs to same-block combinations (the classic
    recall-for-cost trade — a first-character typo escapes the block,
    exactly as documented for production blocking); (3) the pair join is
    a.nm < b.nm within block, so no pair is scored twice. Unit-cost
    levenshtein (no transposition) is the same algorithm in both engines
    — exact integer distances, fully value-oracled."""
    part = load_table(spark, sf_dir, "part")
    names = part.filter(F.col("p_name").isNotNull()).select(
        F.col("p_name").alias("nm")
    ).distinct()
    ln = F.length("nm")
    variant = F.concat(
        F.col("nm").substr(F.lit(1), ln - 2),
        F.col("nm").substr(ln, F.lit(1)),
        F.col("nm").substr(ln - 1, F.lit(1)),
    )
    aug = names.unionAll(
        names.filter(ln >= 2).select(variant.alias("nm"))
    ).distinct()
    # ASCII-fold the distance input (see oracle comment): edit distance
    # is char-based in Spark but byte-based in DuckDB; folding makes the
    # two coincide, and it is the standard ER normalization anyway
    u = aug.select(
        "nm",
        F.substring("nm", 1, 3).alias("blk"),
        F.regexp_replace("nm", r"[^\x20-\x7e]", "#").alias("fold"),
    )
    a = u.alias("a")
    b = u.alias("b")
    dist = F.levenshtein(F.col("a.fold"), F.col("b.fold"))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.nm") < F.col("b.nm")))
        .filter(dist <= 2)
        .select(
            F.col("a.nm").alias("name1"),
            F.col("b.nm").alias("name2"),
            dist.cast("long").alias("dist"),
        )
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT)
               AS n_tok,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_words,
             CAST(strlen(text) AS BIGINT) AS n_bytes
      FROM documents WHERE text IS NOT NULL
    ),
    s AS (
      SELECT doc_id, n_tok, n_words, n_bytes,
        len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS s_en,
        len(list_filter(toks, x -> x IN ('el','la','de','los','y','que','en'))) AS s_es,
        len(list_filter(toks, x -> x IN ('le','la','les','et','des','un','une'))) AS s_fr,
        len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','nicht'))) AS s_de
      FROM t
    ),
    pred AS (
      SELECT CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                  WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                  WHEN s_fr >= s_de THEN 'fr'
                  ELSE 'de' END AS pred_lang,
             n_tok, n_words, n_bytes
      FROM s
    )
    SELECT pred_lang, count(*)::BIGINT AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(n_tok) AS DOUBLE) / nullif(sum(n_words), 0)
             AS tokens_per_word,
           CAST(sum(n_bytes) AS DOUBLE) / nullif(sum(n_tok), 0)
             AS bytes_per_token
    FROM pred GROUP BY 1
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY audit by detected language — the
    corpus-balance metric multilingual pre-training pipelines watch: a
    tokenizer that needs more tokens per word in one language
    effectively down-weights that language's content per compute budget.
    Composes two existing primitives (the stopword lang-ID argmax and
    the BPE-ish regex token count) into per-language tokens/word and
    bytes/token ratios.

    All counts are exact BIGINTs; the two ratios are single
    correctly-rounded divisions of identical integers, emitted UNROUNDED
    (nullif guards the empty-text degenerate). One projection pass over
    documents plus a 4-group aggregate — pure Catalyst expressions, no
    UDF, trivially 100 TB-shaped."""
    from hw_kafka_flink_health_spark.functions.text import (
        lang_id_expr,
        regex_token_count_expr,
        tokens_expr,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    per_doc = docs.select(
        lang_id_expr(tokens_expr("text")).alias("pred_lang"),
        regex_token_count_expr("text").alias("n_tok"),
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("n_words"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    return per_doc.groupBy("pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.try_divide(
            F.sum("n_tok").cast("double"), F.nullif(F.sum("n_words"), F.lit(0))
        ).alias("tokens_per_word"),
        F.try_divide(
            F.sum("n_bytes").cast("double"), F.nullif(F.sum("n_tok"), F.lit(0))
        ).alias("bytes_per_token"),
    )


@register(
    "multimodal_audio_vad",
    oracle="""
    WITH aud AS (
      SELECT doc_id, 64 + doc_id % 50 AS n
      FROM documents WHERE doc_id % 2 = 1 AND doc_id IS NOT NULL
    ),
    frames AS (
      SELECT doc_id, unnest(range(n // 16)) AS f FROM aud
    ),
    fe AS (
      SELECT fr.doc_id, fr.f,
             CAST(sum(
               CAST((fr.doc_id * 7 + (fr.f * 16 + j.j) * 13) % 2048 - 1024
                    AS BIGINT)
               * ((fr.doc_id * 7 + (fr.f * 16 + j.j) * 13) % 2048 - 1024)
             ) AS BIGINT) AS energy
      FROM frames fr, (SELECT unnest(range(16)) AS j) j
      GROUP BY 1, 2
    ),
    flagged AS (
      SELECT doc_id, f, energy, energy > 5600000 AS active,
             CASE WHEN energy > 5600000
                   AND coalesce(NOT (lag(energy) OVER w > 5600000), TRUE)
                  THEN 1 ELSE 0 END AS seg_start
      FROM fe
      WINDOW w AS (PARTITION BY doc_id ORDER BY f)
    ),
    isl AS (
      SELECT doc_id, f, active, energy,
             CAST(sum(seg_start) OVER (PARTITION BY doc_id ORDER BY f)
                  AS BIGINT) AS gid
      FROM flagged
    ),
    seg AS (
      SELECT doc_id, gid, count(*)::BIGINT AS len
      FROM isl WHERE active GROUP BY 1, 2
    ),
    seg_per_doc AS (
      SELECT doc_id, count(*)::BIGINT AS n_segments,
             CAST(max(len) AS BIGINT) AS max_segment_frames
      FROM seg GROUP BY 1
    )
    SELECT i.doc_id AS asset_id,
           count(*)::BIGINT AS n_frames,
           CAST(sum(CASE WHEN i.active THEN 1 ELSE 0 END) AS BIGINT)
             AS n_active,
           coalesce(any_value(s.n_segments), 0) AS n_segments,
           coalesce(any_value(s.max_segment_frames), 0)
             AS max_segment_frames,
           CAST(sum(i.energy) AS BIGINT) AS total_energy
    FROM isl i LEFT JOIN seg_per_doc s ON s.doc_id = i.doc_id
    GROUP BY 1
    """,
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-gate voice activity detection over REAL WAV containers,
    value-oracled end to end: every odd doc_id becomes an actual
    RIFF/WAVE PCM16 file (same deterministic sample formula as
    `multimodal_decode_features`), the VAD operator re-parses the
    container, frames the samples (16/frame, tail dropped), gates
    per-frame Σs² energy, and run-length-encodes active frames into
    speech segments — the silence-trim / segment-extract pass a speech
    corpus pipeline runs before transcription. All outputs are exact
    integers; the DuckDB twin replays frame energies and the island
    (gaps-and-islands RLE) segmentation from the formula alone, so a
    RIFF chunk-walk bug, framing off-by-one, or run-boundary error
    breaks the value hash. Arrow-batched mapInPandas over the binary
    column — the exact 100 TB shape for opaque media."""
    from hw_kafka_flink_health_spark.operators.multimodal import (
        synthesize_codec_assets,
        vad_pcm16,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    assets = synthesize_codec_assets(docs).filter(F.col("modality") == "audio")
    return vad_pcm16(assets)


@register(
    "text_collation_group",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split_regex(text, '[^A-Za-z]+')) AS w
      FROM documents WHERE text IS NOT NULL
    ), ok AS (
      SELECT w FROM words WHERE length(w) >= 3
    )
    SELECT min(w) AS canonical,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(count(DISTINCT w) AS BIGINT) AS n_variants
    FROM ok GROUP BY lower(w)
    ORDER BY cnt DESC, canonical LIMIT 50
    """,
)
def text_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive word census via Spark 4's COLLATION support:
    grouping on `collate(word, 'UTF8_LCASE')` makes equality (and the
    whole hash aggregate) case-insensitive INSIDE the engine — no
    lower() materialization, and the same collation would apply to
    joins/sorts. The ASCII-only tokenizer keeps UTF8_LCASE's ICU
    casefold and the oracle's lower() in exact agreement (they diverge
    on Turkish dotless-i / sharp-s classes, the known boundary).
    Emitted canonical form is the binary-min variant so the output
    never depends on which group representative the engine retains.
    Plan: explode → one hash aggregate on the collated key with
    map-side combine → global top-50 TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = docs.select(
        F.explode(F.split(F.col("text"), "[^A-Za-z]+")).alias("w")
    ).filter(F.length("w") >= 3)
    return (
        words.groupBy(F.collate(F.col("w"), "UTF8_LCASE").alias("k"))
        .agg(
            F.min("w").alias("canonical"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.count_distinct(F.col("w")).cast("long").alias("n_variants"),
        )
        .select("canonical", "cnt", "n_variants")
        .orderBy(F.desc("cnt"), "canonical")
        .limit(50)
    )


@register(
    "multimodal_aspect_buckets",
    oracle="""
    WITH img AS (
      SELECT doc_id,
             CAST(8 + doc_id % 5 AS BIGINT) AS w,
             CAST(6 + doc_id % 3 AS BIGINT) AS h
      FROM documents WHERE doc_id % 2 = 0
    ), bucketed AS (
      SELECT doc_id, w, h, (w * 1000) // h AS ar_milli FROM img
    ), b AS (
      SELECT ar_milli, CAST(count(*) AS BIGINT) AS n_images,
             CAST(max(w) AS BIGINT) AS max_w,
             CAST(max(h) AS BIGINT) AS max_h
      FROM bucketed GROUP BY ar_milli
    )
    SELECT b.ar_milli, b.n_images, b.max_w, b.max_h,
           CAST(sum(b.max_w * b.max_h - i.w * i.h) AS BIGINT) AS waste_px
    FROM bucketed i JOIN b USING (ar_milli)
    GROUP BY b.ar_milli, b.n_images, b.max_w, b.max_h
    """,
)
def multimodal_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing for vision-model batch packing: decode the
    REAL BMP headers (mapInPandas over the synthesized container
    payloads — the same real-codec path as multimodal_decode_features),
    bucket images by integer aspect ratio (w*1000 DIV h), and report per
    bucket the pad-to dimensions plus the total padded-pixel waste —
    the quantity aspect bucketing exists to minimize (padding every
    image to one global max wastes far more than padding within a
    ratio bucket).

    The oracle replays the deterministic synth dimensions in SQL, so a
    header mis-parse (wrong width field offset, padding-row leak) fails
    the value hash. Plan: the decode is one Arrow-batched pass, then a
    bucket aggregate and a broadcast join-back of the ~15-row bucket
    table for the waste sum — at 100 TB everything after the decode is
    dimension-sized."""
    from hw_kafka_flink_health_spark.operators.multimodal import (
        decode_codec_stats,
        synthesize_codec_assets,
    )

    docs = load_table(spark, sf_dir, "documents")
    st = decode_codec_stats(synthesize_codec_assets(docs))
    img = materialize(  # decode runs ONCE; feeds bucket agg + waste sum
        st.filter(F.col("modality") == "image")
        .select(
            "asset_id",
            F.col("width").cast("long").alias("w"),
            F.col("height").cast("long").alias("h"),
        )
        .withColumn("ar_milli", F.expr("w * 1000 DIV h"))
    )
    b = img.groupBy("ar_milli").agg(
        F.count(F.lit(1)).cast("long").alias("n_images"),
        F.max("w").cast("long").alias("max_w"),
        F.max("h").cast("long").alias("max_h"),
    )
    return (
        img.join(F.broadcast(b), "ar_milli")
        .groupBy("ar_milli", "n_images", "max_w", "max_h")
        .agg(
            F.sum(F.col("max_w") * F.col("max_h") - F.col("w") * F.col("h"))
            .cast("long")
            .alias("waste_px")
        )
    )


@register(
    "text_kwic_concordance",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL
    ), parts AS (
      -- unnest + generate_subscripts zip positionally in ONE select
      -- (DuckDB has no WITH ORDINALITY)
      SELECT doc_id, text,
             unnest(str_split_regex(text, '\bjoin\b')) AS part,
             CAST(generate_subscripts(str_split_regex(text, '\bjoin\b'), 1)
                  AS BIGINT) AS i
      FROM d
    ), pos AS (
      SELECT doc_id, text, i,
             CAST(sum(length(part)) OVER (PARTITION BY doc_id ORDER BY i
                                          ROWS UNBOUNDED PRECEDING)
                  + (i - 1) * 4 + 1 AS BIGINT) AS p,
             count(*) OVER (PARTITION BY doc_id) AS n_parts
      FROM parts
    )
    SELECT doc_id, p AS match_pos,
           substr(text, CAST(greatest(1, p - 20) AS INTEGER),
                  CAST(p - greatest(1, p - 20) AS INTEGER)) AS left_ctx,
           substr(text, CAST(p + 4 AS INTEGER), 20) AS right_ctx
    FROM pos WHERE i < n_parts
    """,
)
def text_kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC (keyword-in-context) concordance for the term 'join': every
    match position with 20 chars of left/right context — the corpus
    inspection view linguists and data-quality reviewers pull before
    trusting any filter rule.

    All-match positions without any per-row regex loop: split the text
    on the word-bounded term, posexplode the parts, and a per-doc
    cumulative length window reconstructs each match's 1-based offset
    (sum of preceding part lengths + matches consumed). The window runs
    per document over its handful of parts — embarrassingly parallel at
    any corpus size — and the contexts are plain substrings, entirely
    whole-stage-codegen."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    parts = docs.select(
        "doc_id",
        "text",
        F.posexplode(F.split(F.col("text"), r"\bjoin\b")).alias("i0", "part"),
    )
    wd = (
        Window.partitionBy("doc_id")
        .orderBy("i0")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pos = parts.select(
        "doc_id",
        "text",
        "i0",
        (
            F.sum(F.length("part")).over(wd) + F.col("i0") * 4 + 1
        )
        .cast("long")
        .alias("p"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_parts"),
    ).filter(F.col("i0") < F.col("n_parts") - 1)
    return pos.select(
        "doc_id",
        F.col("p").alias("match_pos"),
        F.expr("substring(text, CAST(greatest(1, p - 20) AS INT), CAST(p - greatest(1, p - 20) AS INT))").alias("left_ctx"),
        F.expr("substring(text, CAST(p + 4 AS INT), 20)").alias("right_ctx"),
    )


@register(
    "multimodal_image_phash",
    oracle="""
    WITH img AS (
      SELECT doc_id,
             CAST(8 + doc_id % 5 AS BIGINT) AS w,
             CAST(6 + doc_id % 3 AS BIGINT) AS h
      FROM documents WHERE doc_id % 2 = 0
    ), gray AS (
      SELECT doc_id, w, h, j,
             (doc_id * 31 + 3 * j) % 256
             + (doc_id * 31 + 3 * j + 1) % 256
             + (doc_id * 31 + 3 * j + 2) % 256 AS g
      FROM img, LATERAL unnest(generate_series(0, w * h - 1)) AS t(j)
    ), bsums AS (
      SELECT doc_id, w, h, (j * 16) // (w * h) AS b,
             CAST(sum(g) AS BIGINT) AS bsum,
             CAST(count(*) AS BIGINT) AS bcnt
      FROM gray GROUP BY doc_id, w, h, b
    ), tot AS (
      SELECT doc_id, CAST(sum(g) AS BIGINT) AS total FROM gray GROUP BY doc_id
    ), ph AS (
      SELECT s.doc_id AS asset_id, s.w, s.h,
             CAST(sum(CASE WHEN s.bsum * s.w * s.h > t.total * s.bcnt
                           THEN 1::BIGINT << CAST(s.b AS INTEGER)
                           ELSE 0 END) AS BIGINT) AS phash
      FROM bsums s JOIN tot t USING (doc_id)
      GROUP BY s.doc_id, s.w, s.h
    ), dup AS (
      SELECT phash, CAST(count(*) AS BIGINT) AS n_same_hash
      FROM ph GROUP BY phash
    )
    SELECT p.asset_id, p.w, p.h, p.phash, d.n_same_hash
    FROM ph p JOIN dup d USING (phash)
    """,
)
def multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash (aHash) fingerprints over the REAL decoded
    BMP payloads — the image near-dup primitive, completing the
    multimodal family's dedup story (SimHash : text :: aHash : images).
    Unlike the order-free sum statistics other multimodal queries check,
    the 16-bit signature depends on pixel POSITIONS: bit b compares
    bucket b's mean against the image mean by exact integer
    cross-multiplication, so a parse drift anywhere in the BMP walk
    (data offset, 4-byte row padding, BGR flip, bottom-up order) flips
    bits and fails the value hash against the oracle's formula replay.
    `n_same_hash` is the dedup-blocking group size (hash-equal images
    collapse together, the 100 TB image-dedup key).

    Plan: one Arrow-batched decode pass (`phash_codec_images`,
    checkpointed — two consumers), one 16-row-per-image bucket reduction
    inside the pandas op (never exploded into Spark rows), one hash
    aggregate + join-back for group sizes."""
    from hw_kafka_flink_health_spark.operators.multimodal import (
        phash_codec_images,
        synthesize_codec_assets,
    )

    docs = load_table(spark, sf_dir, "documents")
    ph = materialize(phash_codec_images(synthesize_codec_assets(docs)))
    dup = ph.groupBy("phash").agg(
        F.count(F.lit(1)).cast("long").alias("n_same_hash")
    )
    return ph.join(dup, "phash").select(
        "asset_id", "w", "h", "phash", "n_same_hash"
    )


@register(
    "text_code_detect",
    oracle="""
    WITH sig AS (
      SELECT coalesce(source, '') AS source,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(text) - length(translate(text, '{}()[]', ''))
                  AS BIGINT) AS n_brackets,
             CAST(length(text) - length(replace(text, ';', ''))
                  AS BIGINT) AS n_semis,
             CAST(length(text) - length(replace(text, '=', ''))
                  AS BIGINT) AS n_eq
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ), scored AS (
      SELECT source, n_chars,
             (3 * n_brackets + 2 * n_semis + n_eq) * 1000 // n_chars
               AS score_milli
      FROM sig
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN score_milli >= 20 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_code,
           CAST(sum(score_milli) AS BIGINT) AS score_milli_total,
           CAST(sum(score_milli) AS DOUBLE) / count(*) AS mean_score_milli
    FROM scored GROUP BY source
    """,
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose screening per source — the filter every pretrain
    corpus runs to route code into its own mixture bucket (or out of a
    prose-only corpus): a weighted density of code punctuation
    (brackets x3, semicolons x2, assignment x1) per 1000 chars, in
    EXACT integer milli-units (the `* 1000 DIV n_chars` idiom), with a
    >= 20-milli threshold flagging code-like docs. Pure Catalyst string
    expressions — length/translate/replace in one codegen span over the
    scan; one source-grain hash aggregate. The mean is one division of
    exact integers, emitted unrounded."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    n_chars = F.length("text").cast("long")
    n_brackets = (
        F.length("text") - F.length(F.translate(F.col("text"), "{}()[]", ""))
    ).cast("long")
    n_semis = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(";"), F.lit("")))
    ).cast("long")
    n_eq = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("="), F.lit("")))
    ).cast("long")
    scored = docs.select(
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        ((3 * n_brackets + 2 * n_semis + n_eq) * 1000)
        .cast("long")
        .alias("_num"),
        n_chars.alias("_den"),
    ).select("source", F.expr("_num DIV _den").alias("score_milli"))
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("score_milli") >= 20, 1).otherwise(0))
        .cast("long")
        .alias("n_code"),
        F.sum("score_milli").cast("long").alias("score_milli_total"),
        (F.sum("score_milli").cast("double") / F.count(F.lit(1))).alias(
            "mean_score_milli"
        ),
    )


@register(
    "multimodal_image_tiles",
    oracle="""
    WITH img AS (
      SELECT doc_id,
             CAST(8 + doc_id % 5 AS BIGINT) AS w,
             CAST(6 + doc_id % 3 AS BIGINT) AS h
      FROM documents WHERE doc_id % 2 = 0
    ), gray AS (
      SELECT doc_id, w, h,
             ((j // w) * 2) // h AS tile_row,
             ((j % w) * 2) // w AS tile_col,
             (doc_id * 31 + 3 * j) % 256
             + (doc_id * 31 + 3 * j + 1) % 256
             + (doc_id * 31 + 3 * j + 2) % 256 AS g
      FROM img, LATERAL unnest(generate_series(0, w * h - 1)) AS t(j)
    )
    SELECT doc_id AS asset_id, w, h,
           CAST(tile_row AS BIGINT) AS tile_row,
           CAST(tile_col AS BIGINT) AS tile_col,
           CAST(sum(g) AS BIGINT) AS t_sum,
           CAST(count(*) AS BIGINT) AS t_cnt,
           CAST(sum(g) AS DOUBLE) / count(*) AS tile_mean
    FROM gray GROUP BY doc_id, w, h, tile_row, tile_col
    """,
)
def multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 spatial tile statistics over the REAL decoded BMP payloads —
    the patch-extraction step of a vision ingest pipeline, value-oracled
    by replaying the synth pixel formula per (scanline, column) tile in
    SQL. TWO-dimensional position sensitivity: `phash` catches 1-D
    stream drifts; this catches row-order bugs (a bottom-up BMP walk
    swaps tile ROWS while every 1-D statistic survives).

    Plan: one Arrow-batched decode+tile pass (`tile_codec_images`,
    numpy bincount per image — tiles never explode into Spark rows
    inside the op), then pure column arithmetic. tile_mean is the exact
    integer division emitted unrounded (identical doubles both
    engines)."""
    from hw_kafka_flink_health_spark.operators.multimodal import (
        synthesize_codec_assets,
        tile_codec_images,
    )

    docs = load_table(spark, sf_dir, "documents")
    tiles = tile_codec_images(synthesize_codec_assets(docs))
    return tiles.select(
        "asset_id",
        "w",
        "h",
        "tile_row",
        "tile_col",
        "t_sum",
        "t_cnt",
        (F.col("t_sum") / F.col("t_cnt")).alias("tile_mean"),
    )
