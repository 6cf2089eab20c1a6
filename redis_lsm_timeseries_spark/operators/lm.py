"""Corpus language-model quality scoring (north star): the
CCNet/KenLM-style signal — score each document by the mean log
probability of its tokens under a unigram model fit on the corpus
itself. Documents full of rare junk tokens score low; fluent,
in-distribution text scores high. Used as a curation filter alongside
the heuristic scores in ``operators.text``.

Two passes over the corpus, both shuffle-light:

1. ``unigram_model`` — one (token -> count) hash aggregate with
   map-side combine, then a ``min_count`` prune before the model is
   used. The prune is what makes the broadcast safe: raw whitespace
   vocabulary over web text does NOT obey Heaps' law — junk tokens
   (urls, ids, binary soup) grow the distinct-token count near
   linearly with crawl size, hundreds of millions of tokens at
   100 TB. Dropping hapax/rare tokens (CCNet does exactly this)
   collapses that tail; the pruned mass is still counted in the
   total, so pruned tokens score at the OOV floor.
2. ``with_lm_score`` — explode tokens, broadcast-join the model,
   re-aggregate per document. The only corpus-keyed shuffle carries
   (doc_id, sum, count) after partial aggregation.

Out-of-vocabulary tokens (scoring corpus B against a model fit on
corpus A) take a floor probability of ``oov_count / total`` with
``oov_count`` = 1 — additive-smoothing-lite, deterministic and
oracle-reproducible. All arithmetic on the Spark side mirrors the
DuckDB oracle: counts stay exact integers; the single float step is
``ln(count / total)``, identical IEEE-754 doubles on both engines for
equal rational inputs (tests still compare with a 1e-9 tolerance to
stay libm-agnostic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from redis_lsm_timeseries_spark.functions.portable import nonempty_tokens
from redis_lsm_timeseries_spark.session import materialize


def _doc_tokens(df: DataFrame, text_col: str) -> DataFrame:
    """Non-empty lowercase whitespace tokens, one row per token."""
    return df.select(
        "*", F.explode(nonempty_tokens(text_col)).alias("_tok")
    )


DEFAULT_MIN_COUNT = 2


def unigram_model(
    df: DataFrame, text_col: str = "text", min_count: int = DEFAULT_MIN_COUNT
) -> DataFrame:
    """Fit the unigram table: (token, n, logprob) with
    ``logprob = ln(n / total)``. One hash aggregate; ``total`` rides
    in as a scalar subquery-style cross-joined literal aggregate so
    the plan stays fully distributed (no driver collect).

    Tokens with ``n < min_count`` are PRUNED from the table (see the
    module docstring — the prune is what keeps the broadcast bounded
    on web-scale text). ``total`` still counts every token, pruned
    mass included, so a pruned token scores exactly at the OOV floor
    ``ln(1 / total)`` — the smoothing already in place for unseen
    tokens. ``min_count=1`` keeps the full distribution (probabilities
    sum to 1)."""
    return _unigram_model_from_tokens(
        _doc_tokens(df, text_col).select(F.col("_tok").alias("token")),
        min_count,
    )


def _unigram_model_from_tokens(
    toks: DataFrame, min_count: int
) -> DataFrame:
    """``unigram_model`` over an already-exploded (token) relation, so
    a self-scoring caller can fit and score from ONE materialized
    token table instead of tokenizing the corpus once per pass (r17,
    guide §2.3)."""
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    # counts feeds TWO consumers (the total aggregate and the
    # crossJoin side); without materialization projection collapse
    # re-runs the full corpus tokenize+count pass per consumer —
    # the same trap bigram_model guards against below.
    counts = materialize(
        toks.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("n")),
        "lm.unigram_counts",
    )
    total = counts.agg(F.sum("n").cast("long").alias("_total"))
    if min_count > 1:
        counts = counts.where(F.col("n") >= F.lit(int(min_count)))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn(
            "logprob", F.log(F.col("n").cast("double") / F.col("_total"))
        )
        .select("token", "n", "_total", "logprob")
    )


def with_lm_score(
    corpus: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score each document under a fitted unigram model.

    Output: (id, n_tokens, n_oov, lm_score) where ``lm_score`` is the
    mean token log-probability (0.0 for zero-token documents — the
    neutral score; downstream filters treat those via length cuts).

    The model BROADCASTS (vocabulary-bounded); the left join keeps
    OOV tokens, floored at ln(1 / total)."""
    toks = _doc_tokens(
        corpus.select(F.col(id_col), F.col(text_col)), text_col
    ).select(id_col, F.col("_tok").alias("token"))
    return _score_unigram_tokens(corpus, toks, model, id_col)


def _score_unigram_tokens(
    corpus: DataFrame,
    toks: DataFrame,
    model: DataFrame,
    id_col: str,
) -> DataFrame:
    """``with_lm_score`` over an already-exploded (id, token) relation
    (see ``_unigram_model_from_tokens`` for why)."""
    # The model plan is consumed TWICE below (broadcast join + the
    # 1-row total aggregate); without materialization each consumer
    # re-runs the full corpus tokenize/count of unigram_model — the
    # same projection-collapse trap incremental_near_dup checkpoints
    # against. The model is vocabulary-bounded, so this is cheap.
    model = materialize(model, "lm.unigram_model")
    # _total is constant across the model; ride it in as a 1-row
    # broadcast so OOV rows (left-join misses) can compute the floor
    # without a global window over the exploded token table.
    total_row = model.agg(F.max("_total").alias("_floor_total"))
    floor_lp = F.log(F.lit(1.0) / F.col("_floor_total"))
    scored = (
        toks.join(
            F.broadcast(model.select("token", "logprob")), "token", "left"
        )
        .crossJoin(F.broadcast(total_row))
        .withColumn("_lp", F.coalesce(F.col("logprob"), floor_lp))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("logprob").isNull().cast("long"))
            .cast("long")
            .alias("n_oov"),
            F.sum("_lp").alias("_sum_lp"),
        )
        .join(corpus.select(id_col), id_col, "right")
        .withColumn(
            "n_tokens", F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
        )
        .withColumn(
            "n_oov", F.coalesce(F.col("n_oov"), F.lit(0)).cast("long")
        )
        .withColumn(
            "lm_score",
            F.when(
                F.col("n_tokens") > 0,
                F.col("_sum_lp") / F.col("n_tokens").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .select(id_col, "n_tokens", "n_oov", "lm_score")
    )


def lm_quality_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = DEFAULT_MIN_COUNT,
) -> DataFrame:
    """Self-scoring convenience: fit on the corpus, score the corpus.
    With the default pruning, tokens rarer than ``min_count`` score at
    the OOV floor (and count as OOV) — exactly the penalty a junk
    filter wants; ``min_count=1`` restores no-OOV self-scoring.

    Fit and score share ONE materialized (id, token) explode (r17,
    guide §2.3): composing ``unigram_model`` + ``with_lm_score``
    directly tokenizes the corpus once per pass. At deployment scale
    this materialization is the persisted token table a pipeline
    keeps alongside the model."""
    toks = materialize(
        _doc_tokens(df.select(F.col(id_col), F.col(text_col)), text_col)
        .select(id_col, F.col("_tok").alias("token")),
        "lm.doc_tokens",
    )
    model = _unigram_model_from_tokens(toks.select("token"), min_count)
    return _score_unigram_tokens(df, toks, model, id_col)


def _bg_pairs() -> F.Column:
    """Consecutive-pair builder over the _bg_toks token array."""
    return F.expr(
        "CASE WHEN size(_bg_toks) < 2 "
        "THEN CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) "
        "ELSE transform(sequence(0, size(_bg_toks) - 2), "
        "i -> struct(_bg_toks[i] AS w1, _bg_toks[i + 1] AS w2)) END"
    )


def _doc_bigrams(df: DataFrame, text_col: str) -> DataFrame:
    """Consecutive token pairs, one row per bigram. Pairs are built
    per row with a bound-lambda transform (no self-join, no shuffle);
    docs with < 2 tokens contribute nothing."""
    pairs = _bg_pairs()
    return (
        df.withColumn("_bg_toks", nonempty_tokens(text_col))
        .withColumn("_bg", F.explode(pairs))
        .select("*", F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
        .drop("_bg", "_bg_toks")
    )


def bigram_model(
    df: DataFrame, text_col: str = "text", min_count: int = DEFAULT_MIN_COUNT
) -> DataFrame:
    """Fit the bigram table: (w1, w2, n, n_context, logprob) with the
    MLE ``logprob = ln(n / n_context)`` where ``n_context`` counts w1
    as a bigram CONTEXT (= sum of n over its KEPT continuations).

    Two hash aggregates (bigram counts, then context totals) + one
    join keyed by w1. Bigrams with ``n < min_count`` are pruned BEFORE
    the context totals — the bigram tail is even heavier than the
    unigram one (most web-text bigrams are hapax), and a pruned bigram
    falls back to the stupid-backoff unigram path in
    ``with_bigram_score``, which is precisely the treatment an unseen
    bigram gets."""
    return _bigram_model_from_grams(
        _doc_bigrams(df.select(F.col(text_col)), text_col).select(
            "w1", "w2"
        ),
        min_count,
    )


def _bigram_model_from_grams(grams: DataFrame, min_count: int) -> DataFrame:
    """``bigram_model`` over an already-exploded (w1, w2) relation, so
    a self-scoring caller can fit and score from ONE materialized
    bigram table (r17, guide §2.3)."""
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    counts = materialize(  # feeds the context agg AND the join
        grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("n")),
        "lm.bigram_counts",
    )
    if min_count > 1:
        counts = counts.where(F.col("n") >= F.lit(int(min_count)))
    contexts = counts.groupBy("w1").agg(
        F.sum("n").cast("long").alias("n_context")
    )
    return (
        counts.join(contexts, "w1")
        .withColumn(
            "logprob",
            F.log(F.col("n").cast("double") / F.col("n_context")),
        )
        .select("w1", "w2", "n", "n_context", "logprob")
    )


BACKOFF_ALPHA = 0.4  # "stupid backoff" (Brants et al. 2007) weight


def with_bigram_score(
    corpus: DataFrame,
    bi_model: DataFrame,
    uni_model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score each document by mean bigram log-probability with stupid
    backoff: an unseen bigram falls back to
    ``ln(BACKOFF_ALPHA * P_unigram(w2))`` (the distributed
    approximation of the KenLM-style n-gram filters CCNet uses — no
    normalization pass, deterministic, join-only).

    Output: (id, n_bigrams, n_backoff, bigram_score); documents with
    < 2 tokens score 0.0 with n_bigrams = 0. Both models BROADCAST
    (vocabulary-bounded)."""
    grams = _doc_bigrams(
        corpus.select(F.col(id_col), F.col(text_col)), text_col
    ).select(id_col, "w1", "w2")
    return _score_bigram_grams(corpus, grams, bi_model, uni_model, id_col)


def _score_bigram_grams(
    corpus: DataFrame,
    grams: DataFrame,
    bi_model: DataFrame,
    uni_model: DataFrame,
    id_col: str,
) -> DataFrame:
    """``with_bigram_score`` over an already-exploded (id, w1, w2)
    relation (see ``_bigram_model_from_grams`` for why)."""
    bi = bi_model.select("w1", "w2", F.col("logprob").alias("_bi_lp"))
    uni = materialize(
        uni_model.select(F.col("token").alias("w2"), F.col("logprob").alias("_uni_lp")),
        "lm.unigram_logprobs",
    )
    uni_total = uni_model.agg(
        F.max("_total").alias("_floor_total")
    )
    backoff_uni = F.log(
        F.lit(float(BACKOFF_ALPHA))
    ) + F.coalesce(
        F.col("_uni_lp"), F.log(F.lit(1.0) / F.col("_floor_total"))
    )
    scored = (
        grams.join(F.broadcast(bi), ["w1", "w2"], "left")
        .join(F.broadcast(uni), "w2", "left")
        .crossJoin(F.broadcast(uni_total))
        .withColumn("_lp", F.coalesce(F.col("_bi_lp"), backoff_uni))
        .withColumn("_is_backoff", F.col("_bi_lp").isNull())
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(F.col("_is_backoff").cast("long"))
            .cast("long")
            .alias("n_backoff"),
            F.sum("_lp").alias("_sum_lp"),
        )
        .join(corpus.select(id_col), id_col, "right")
        .withColumn(
            "n_bigrams", F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long")
        )
        .withColumn(
            "n_backoff", F.coalesce(F.col("n_backoff"), F.lit(0)).cast("long")
        )
        .withColumn(
            "bigram_score",
            F.when(
                F.col("n_bigrams") > 0,
                F.col("_sum_lp") / F.col("n_bigrams").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .select(id_col, "n_bigrams", "n_backoff", "bigram_score")
    )


def bigram_quality_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = DEFAULT_MIN_COUNT,
) -> DataFrame:
    """Self-scoring convenience: fit bigram + unigram models on the
    corpus, score the corpus. With the default pruning, in-corpus
    bigrams rarer than ``min_count`` back off like unseen ones;
    ``min_count=1`` restores never-backs-off self-scoring.

    One corpus tokenization serves all three passes (r17, guide
    §2.3): composing ``bigram_model`` + ``unigram_model`` +
    ``with_bigram_score`` directly tokenizes the corpus THREE times
    (bigram fit, unigram fit, score). Here the (id, token-array) rows
    are materialized once; the unigram explode and the shared bigram
    table (fit + score read the same materialized grams) derive from
    them. Same aggregations over identical rows — scores are
    unchanged."""
    arr = materialize(
        df.select(F.col(id_col), nonempty_tokens(text_col).alias("_bg_toks")),
        "lm.bigram_tokens",
    )
    grams = materialize(
        arr.withColumn("_bg", F.explode(_bg_pairs())).select(
            id_col,
            F.col("_bg.w1").alias("w1"),
            F.col("_bg.w2").alias("w2"),
        ),
        "lm.bigram_grams",
    )
    bi = _bigram_model_from_grams(grams.select("w1", "w2"), min_count)
    uni = _unigram_model_from_tokens(
        arr.select(F.explode("_bg_toks").alias("token")), min_count
    )
    return _score_bigram_grams(df, grams, bi, uni, id_col)
