"""Distributed BPE tokenizer training + encoding.

An LLM data pipeline does not just COUNT tokens (functions/text.py) — it
trains the tokenizer on the corpus. Classic word-level BPE (Sennrich et
al. 2016, arXiv:1508.07909) scales on Spark because each merge round is
one aggregation over the DISTINCT-WORD table, not the corpus:

* corpus -> (word, freq) once: explode + groupBy, the only corpus-sized
  shuffle; the vocabulary is orders of magnitude smaller and is what
  every round iterates on.
* per round: adjacent symbol pairs via ``zip_with(slice, slice)``
  (JVM-side, no explode of the corpus), one weighted count, ONE row
  collected (the argmax pair, ties broken lexicographically so training
  is deterministic), then the merge applied to the symbol arrays with an
  ``aggregate`` fold — greedy left-to-right, non-overlapping, exactly
  the reference algorithm's semantics.
* ``localCheckpoint`` per round truncates the growing lineage the same
  way connected_components does.

Encoding applies the learned merge table per word inside one Arrow
batch (mapInPandas) — the merge loop is data-dependent (priority-queue
over ranks), which is the documented escape-hatch criterion; the
per-batch LRU word cache makes it amortized-cheap since natural corpora
repeat words heavily.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.sources.files import materialize


def _merge_expr(sym: Column, a: str, b: str) -> Column:
    """Fold that merges every left-to-right non-overlapping (a, b) into
    ``a+b`` within a symbol array. Greedy: after a merge the new symbol
    ``a+b`` is what the next element sees, so 'aaa' under (a,a) becomes
    ['aa','a'] — the standard BPE application order."""
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    docs: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 50,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the ordered
    merge list [(left, right), ...] (rank = position).

    Driver traffic is one row per round (the argmax pair) — bounded and
    scale-independent. The iterated table is the distinct vocabulary
    with frequencies; at 100 TB that table is still tiny (natural-text
    vocab grows ~sublinearly) and each round is a partial-aggregated
    pair count over it."""
    from hw_kafka_flink_health_spark.operators.dedup import norm_tokens_expr

    words = materialize(
        docs.select(F.explode(norm_tokens_expr(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.split("word", "").alias("sym"), "freq")
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = (
            words.filter(F.size("sym") >= 2)
            .select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("sym"), 1, F.size("sym") - 1),
                        F.slice(F.col("sym"), 2, F.size("sym") - 1),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair.a"), F.asc("pair.b"))
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        a, b = pairs[0]["pair"]["a"], pairs[0]["pair"]["b"]
        merges.append((a, b))
        words = materialize(
            words.select(_merge_expr(F.col("sym"), a, b).alias("sym"), "freq")
        )
    return merges


def bpe_encode_py(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Reference encoder: repeatedly merge the best-ranked adjacent pair.
    Shared by the executor-side batch encoder and the training parity
    test (a word's encoding under the learned merges)."""
    sym = list(word)
    while len(sym) >= 2:
        best, best_rank = None, None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        # merge ALL occurrences of that pair left-to-right (same result
        # as re-scanning, fewer passes)
        a, b = sym[best], sym[best + 1]
        out, i = [], 0
        while i < len(sym):
            if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode every document with a learned merge table; returns
    (id_col, n_bpe_tokens, n_words). Arrow-batched mapInPandas with a
    per-batch word->len cache (natural corpora repeat words, so the
    data-dependent merge loop runs once per distinct word per batch);
    the merge table rides the closure (KBs).

    Tokenization happens SPARK-SIDE with the same `norm_tokens_expr`
    the trainer uses — the Python worker only runs the merge loop. A
    Python `str.lower().split()` here would silently disagree with the
    trainer's SQL `lower()`/`\\s+` on exotic case mappings and unicode
    whitespace, so encode-time words could miss the trained vocabulary
    (round-7 fix; also what makes the DuckDB value oracle for
    `text_bpe_token_counts` exact)."""
    import pandas as pd

    from hw_kafka_flink_health_spark.operators.dedup import norm_tokens_expr
    from hw_kafka_flink_health_spark.pyship import ship_package

    # the encode closure references bpe_encode_py by module path — ship
    # the package or a driver running from a foreign cwd (the external
    # correctness driver does) fails with ModuleNotFoundError on the
    # executors; previously masked only because alphabetically-earlier
    # multimodal queries addPyFile'd the package session-wide
    ship_package(docs.sparkSession)

    ranks = {p: i for i, p in enumerate(merges)}
    schema = f"{id_col} long, n_bpe_tokens long, n_words long"

    def encode(batches):
        cache: dict[str, int] = {}
        for pdf in batches:
            out = []
            for did, words in zip(pdf[id_col], pdf["__toks"]):
                n_tok = 0
                for w in words:
                    if w not in cache:
                        cache[w] = len(bpe_encode_py(w, ranks))
                    n_tok += cache[w]
                out.append((did, n_tok, len(words)))
            yield pd.DataFrame(out, columns=[id_col, "n_bpe_tokens", "n_words"])

    # NULL text would propagate through norm_tokens_expr/F.filter to a
    # NULL __toks (a None in the Arrow batch — the worker's `for w in
    # words` would raise TypeError); coalesce to an empty array so a
    # null-text doc encodes as (0 tokens, 0 words), matching the
    # LEFT JOIN + coalesce(0) convention of the DuckDB oracle.
    staged = docs.select(
        id_col,
        F.coalesce(
            F.filter(norm_tokens_expr(text_col), lambda t: t != ""),
            F.array().cast("array<string>"),
        ).alias("__toks"),
    )
    return staged.mapInPandas(encode, schema=schema)
