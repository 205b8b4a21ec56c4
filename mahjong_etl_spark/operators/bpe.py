"""Distributed BPE tokenizer training over the ``documents`` corpus.

Byte-pair encoding (Sennrich et al. 2016, "Neural Machine Translation
of Rare Words with Subword Units") trained Spark-first — part of the
§7-step-6 LLM-data-pipeline plane (a training-data engine must be able
to LEARN the tokenizer from the corpus it is cleaning, not just apply
one).

100 TB design — the key structural move is that only ONE pass touches
the corpus:

  1. ``word_counts``: explode whitespace tokens, groupBy word — the
     single corpus-scale shuffle.  Everything after runs on the
     distinct-word table, bounded by the *vocabulary* (even a 100 TB
     web corpus has ~10⁸ distinct words ≈ a few GB — cluster-trivial,
     driver-impossible), exactly how production BPE trainers scale.
  2. each merge round: pair counts = slice/zip/explode over the word
     symbol arrays (weighted by word freq, JVM higher-order functions,
     no UDF) → one small groupBy → the argmax pair (ONE row) comes to
     the driver; the merge is applied with an ``aggregate`` fold that
     reproduces the standard greedy left-to-right merge semantics.
     Per-round driver traffic is one (pair, count) row; per-round
     cluster work is O(vocab).  ``localCheckpoint`` truncates the
     per-round lineage like connected_components does.
  3. tokenizing the corpus afterwards is a word-table JOIN (broadcast
     while the vocab fits, plain equi-join beyond), never a per-
     occurrence fold: the fold ran once per DISTINCT word.

Ties break deterministically (max count, then lexicographic pair), so
training is bit-reproducible — pinned by the committed golden oracle
(same pattern as the minhash/simhash goldens: corpus_sig-keyed parquet,
regenerated by tests/regen_bpe_goldens.py, semantics independently
pinned against a pure-Python reference BPE in tests/test_bpe.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..session import snapshot_cache
from ..sources.tables import load

N_MERGES = 24
MIN_PAIR_FREQ = 2

_GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
)


def _sq(s: str) -> str:
    """Escape a symbol for embedding in a single-quoted SQL literal."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, freq) over whitespace tokens — the one corpus-scale pass."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair frequencies, weighted by word freq."""
    return (
        words.where(F.expr("size(syms) >= 2"))
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(syms)-2),"
                    " i -> struct(syms[i] AS a, syms[i+1] AS b))"
                )
            ).alias("p"),
        )
        .groupBy("p.a", "p.b")
        .agg(F.sum("freq").alias("cnt"))
    )


def _apply_merge(words: DataFrame, a: str, b: str) -> DataFrame:
    """Greedy left-to-right replacement of adjacent (a, b) with a+b."""
    ea, eb, em = _sq(a), _sq(b), _sq(a + b)
    fold = (
        "aggregate(syms, CAST(array() AS array<string>), (acc, x) -> "
        f"CASE WHEN size(acc) > 0 AND element_at(acc, size(acc)) = '{ea}' "
        f"AND x = '{eb}' "
        f"THEN concat(slice(acc, 1, size(acc)-1), array('{em}')) "
        "ELSE concat(acc, array(x)) END)"
    )
    return words.withColumn("syms", F.expr(fold))


def train_bpe(
    words: DataFrame,
    n_merges: int = N_MERGES,
    min_pair_freq: int = MIN_PAIR_FREQ,
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Learn up to ``n_merges`` merges; stop early when no adjacent
    pair reaches ``min_pair_freq``.

    Returns (merge table rows [(rank, left, right, merged, pair_freq)],
    final word table (word, freq, syms)).  The returned DataFrame is
    localCheckpointed — safe to reuse without re-running the rounds.
    """
    from .corpus import checkpoint_tracked, free_checkpoint

    spark = words.sparkSession
    # Superseded snapshots are freed every FREE_EVERY rounds, not every
    # round: peak executor storage stays bounded at ~FREE_EVERY+1 word
    # tables (vs n_merges of them before r7), while the unpersist
    # round-trips cost 1/FREE_EVERY of the per-round eager-free scheme
    # — which bench measured at ~0.7 s over 24 rounds at sf0.1
    # (text_bpe_vocab 0.27->1.01 s, r7 verdict item 4).
    FREE_EVERY = 4
    w, w_ids = checkpoint_tracked(words.withColumn("syms", F.split("word", "")))
    retired: list[set[int]] = []
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        top = (
            _pair_counts(w)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0].cnt < min_pair_freq:
            break
        a, b, cnt = top[0].a, top[0].b, int(top[0].cnt)
        merges.append((rank, a, b, a + b, cnt))
        new_w, new_ids = checkpoint_tracked(_apply_merge(w, a, b))
        retired.append(w_ids)
        if len(retired) >= FREE_EVERY:
            free_checkpoint(spark, set().union(*retired))
            retired.clear()
        w, w_ids = new_w, new_ids
    if retired:
        free_checkpoint(spark, set().union(*retired))
    return merges, w


@snapshot_cache
def corpus_bpe(spark: SparkSession, sf_dir: str):
    """(merges, word table): training runs once per snapshot; both BPE
    queries and any tokenizing consumer share the result."""
    return train_bpe(word_counts(load(spark, sf_dir, "documents")))


@query(
    "text_bpe_vocab",
    oracle=f"""
    SELECT merge_rank, left_sym, right_sym, merged, pair_freq
    FROM read_parquet('{_GOLDEN_DIR}/bpe_merges_golden.parquet')
    WHERE corpus_sig = (SELECT CAST(sum(length(text)) AS BIGINT)
                        FROM documents)
    """,
)
def text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table: rank, pair, merged symbol, and the
    pair frequency that won the round.  Training is deterministic
    (exact integer counts, lexicographic tie-break), so the oracle is
    the committed corpus_sig-keyed golden — any change to counting,
    tie-breaking, or the fold semantics flips the driver hash.  The
    merge semantics themselves are independently pinned against a
    pure-Python reference BPE in tests/test_bpe.py."""
    from ..session import local_rows_df

    merges, _ = corpus_bpe(spark, sf_dir)
    return local_rows_df(
        spark,
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_freq long",
    )


@query(
    "text_bpe_doc_tokens",
    oracle=f"""
    WITH wt AS (
        SELECT word, n_tokens
        FROM read_parquet('{_GOLDEN_DIR}/bpe_word_tokens_golden.parquet')
        WHERE corpus_sig = (SELECT CAST(sum(length(text)) AS BIGINT)
                            FROM documents)
    ),
    exp AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    j AS (
        SELECT e.doc_id, e.lang, w.n_tokens
        FROM exp e JOIN wt w USING (word)
        WHERE e.word <> ''
    )
    SELECT lang,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT)               AS n_words,
           CAST(sum(n_tokens) AS BIGINT)          AS n_tokens
    FROM j GROUP BY lang
    """,
)
def text_bpe_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting under the LEARNED tokenizer: per
    language, docs / whitespace words / BPE tokens.  The expensive
    fold ran once per distinct word inside training; here the corpus
    is tokenized by JOINING the word→token-count table (broadcast-
    sized while the vocab fits; the oracle replays the same join in
    SQL against the committed golden word table, so the driver hash
    pins fresh training + the aggregation end-to-end)."""
    _, words = corpus_bpe(spark, sf_dir)
    wt = words.select("word", F.size("syms").cast("long").alias("n_tokens"))
    exp = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
    )
    return (
        exp.join(wt, "word")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


def encode_words_expr(merges: list[tuple[int, str, str, str, int]]) -> F.Column:
    """Inference-time BPE encoding for ARBITRARY words (incl. words
    never seen in training): the learned merge list applied in rank
    order as nested JVM aggregate-folds over a ``word`` column.

    This is the out-of-vocabulary half of the tokenizer: the training
    corpus tokenizes via the word-table join (text_bpe_doc_tokens), but
    a serving path meets new words, and those must encode with the
    SAME greedy left-to-right semantics.  Each merge is one fold, so
    the expression nests len(merges) deep — constant in corpus size,
    entirely inside whole-stage codegen, no Python.  (Production
    vocabularies with 10⁴-10⁵ merges would generate the fold chain
    once per executor via a vectorized mapInPandas encoder instead;
    the expression form is exact and JVM-native at the merge counts
    this engine trains.)"""
    expr = "split(word, '')"
    for _, a, b, m, _cnt in merges:
        ea, eb, em = _sq(a), _sq(b), _sq(m)
        expr = (
            f"aggregate({expr}, CAST(array() AS array<string>), (acc, x) -> "
            f"CASE WHEN size(acc) > 0 AND element_at(acc, size(acc)) = '{ea}' "
            f"AND x = '{eb}' "
            f"THEN concat(slice(acc, 1, size(acc)-1), array('{em}')) "
            "ELSE concat(acc, array(x)) END)"
        )
    return F.expr(expr)
