"""Text-analysis operators for the LLM-data-pipeline surface (north
star): token statistics, quality scoring, language-ID heuristic,
URL extraction, repetition statistics.

All pure Column expressions (JVM-side, whole-stage-codegen'd) — no
Python UDFs in any hot path. Every computation has a portable DuckDB
twin in ``plans/llm_queries.py`` for differential checking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from redis_lsm_timeseries_spark.functions.portable import tokens

# Tiny stopword lists for the language-ID heuristic. Order matters for
# the deterministic tie-break (first listed wins).
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"),
    "es": ("el", "la", "los", "de", "y", "en", "es", "un", "con", "por"),
    "fr": ("le", "les", "et", "une", "est", "dans", "que", "pour", "sur", "au"),
}

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def _in_list(arr_col: str, words: tuple) -> Column:
    lst = ", ".join(f"'{w}'" for w in words)
    return F.expr(f"size(filter({arr_col}, t -> t IN ({lst})))").cast("long")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) and basic shape
    statistics."""
    return (
        df.withColumn("toks", tokens(text_col))
        .withColumn("n_tokens", F.size("toks").cast("long"))
        .withColumn(
            "n_distinct_tokens", F.size(F.array_distinct("toks")).cast("long")
        )
        .withColumn("n_chars_obs", F.length(text_col).cast("long"))
        .withColumn(
            "n_bpe_tokens",
            F.size(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(BPE_PATTERN), 0
                )
            ).cast("long"),
        )
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality heuristics: length, punctuation density, stopword ratio,
    mean token length. Composite score = weighted sum, all exact-integer
    ratios divided in double (deterministic across engines).

    Expects ``with_token_stats`` columns present."""
    punct = F.length(
        F.regexp_replace(F.col(text_col), "[a-z0-9\\s]", "")
    ).cast("long")
    en_hits = _in_list("toks", STOPWORDS["en"])
    return (
        df.withColumn("n_punct", punct)
        .withColumn("en_stopword_hits", en_hits)
        .withColumn(
            "punct_ratio",
            F.col("n_punct").cast("double") / F.col("n_chars_obs"),
        )
        .withColumn(
            "stopword_ratio",
            F.col("en_stopword_hits").cast("double") / F.col("n_tokens"),
        )
        .withColumn(
            "mean_token_len",
            (F.col("n_chars_obs") - (F.col("n_tokens") - F.lit(1))).cast("double")
            / F.col("n_tokens"),
        )
        .withColumn(
            "quality_score",
            F.col("stopword_ratio") * F.lit(0.4)
            + (F.lit(1.0) - F.col("punct_ratio")) * F.lit(0.3)
            + F.when(
                (F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000),
                F.lit(0.3),
            ).otherwise(F.lit(0.0)),
        )
    )


def with_lang_guess(df: DataFrame) -> DataFrame:
    """n-gram/stopword language-ID heuristic: count stopword hits per
    language, argmax with deterministic precedence en > de > es > fr.
    Expects a ``toks`` column (``with_token_stats``)."""
    hits = {lang: _in_list("toks", words) for lang, words in STOPWORDS.items()}
    out = df
    for lang, col in hits.items():
        out = out.withColumn(f"hits_{lang}", col)
    return out.withColumn(
        "lang_guess",
        F.when(
            (F.col("hits_en") >= F.col("hits_de"))
            & (F.col("hits_en") >= F.col("hits_es"))
            & (F.col("hits_en") >= F.col("hits_fr")),
            F.lit("en"),
        )
        .when(
            (F.col("hits_de") >= F.col("hits_es"))
            & (F.col("hits_de") >= F.col("hits_fr")),
            F.lit("de"),
        )
        .when(F.col("hits_es") >= F.col("hits_fr"), F.lit("es"))
        .otherwise(F.lit("fr")),
    )


#: http(s) URLs as they appear in prose: scheme + host + optional path,
#: terminated before whitespace and closing brackets/quotes. Sentence
#: punctuation ('.', ',', ';', '!', '?') is legal INSIDE a path, so the
#: class admits it and ``with_urls`` strips it off the END of each
#: match instead — a URL cited mid-sentence and the same URL at a
#: sentence boundary must produce one dedup key, not two.
URL_PATTERN = r"https?://[A-Za-z0-9.-]+(?::\d+)?(?:/[^\s<>\"')\]]*)?"


def with_urls(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Extract http(s) URLs and their registrable-ish domains — the
    inputs to URL-level dedup and source/blocklist filtering in a
    training pipeline.

    - ``urls``: every match of ``URL_PATTERN``, in order (array<string>);
    - ``domains``: each URL's lowercased host with any leading ``www.``
      stripped and the port dropped (array<string>, same order — dedup
      with ``array_distinct`` as needed);
    - ``n_urls``: match count.

    All Column expressions (regexp_extract_all + transform), no UDFs;
    domain extraction is string surgery, not a PSL lookup — callers
    needing true eTLD+1 semantics plug in a suffix table join."""
    raw = F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)
    # Trailing sentence punctuation belongs to the prose, not the URL
    # (the host class also admits a final '.' for "https://a.io." at a
    # sentence end) — strip it per match so dedup keys are stable.
    urls = F.expr(
        "transform(_url_raw, u -> regexp_replace(u, '[.,;!?]+$', ''))"
    )
    host = (
        "lower(regexp_replace(regexp_replace(u, '^https?://', ''), '[/:].*$', ''))"
    )
    domains = F.expr(
        f"transform(_url_list, u -> regexp_replace({host}, '^www\\\\.', ''))"
    )
    return (
        df.withColumn("_url_raw", F.coalesce(raw, F.expr("array()")))
        .withColumn("_url_list", urls)
        .drop("_url_raw")
        .withColumn("urls", F.col("_url_list"))
        .withColumn("domains", domains)
        .withColumn("n_urls", F.size("_url_list").cast("long"))
        .drop("_url_list")
    )


def with_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition-based quality signals (the Gopher-style filters of
    Rae et al. 2021, §A1.1): highly repetitive documents — boilerplate,
    scraped navigation, degenerate generations — are poison for
    training corpora and invisible to length/stopword heuristics.

    All pure Column expressions over the document's own content:

    - ``dup_line_frac``: 1 - distinct/total over newline-split lines
      (0.0 for single-line docs);
    - ``top_2gram_frac``: occurrences of the most frequent token
      2-gram / total 2-grams (0.0 when fewer than 2 tokens);
    - ``is_repetitive``: either signal past the published thresholds
      (dup lines > 0.30, top 2-gram > 0.20).

    The 2-gram mode is computed per row as distinct x occurrences —
    O(d*n) in the document's own size, embarrassingly parallel, no
    shuffle; an exploded groupBy would shuffle every 2-gram of the
    corpus to count within one document."""
    lines = F.expr(
        f"filter(split({text_col}, '\\n'), l -> trim(l) != '')"
    )
    dup_line_frac = F.when(
        F.size(lines) > 0,
        F.lit(1.0)
        - F.size(F.array_distinct(lines)).cast("double")
        / F.size(lines).cast("double"),
    ).otherwise(F.lit(0.0))
    # The < 2 guard is load-bearing twice over: sequence(0, -1) infers
    # a NEGATIVE step (yielding [0, -1], not []), and the lambda would
    # then index past the array — an ANSI runtime error.
    grams = F.expr(
        "CASE WHEN _rs_toks IS NULL OR size(_rs_toks) < 2 "
        "THEN CAST(array() AS ARRAY<STRING>) "
        "ELSE transform(sequence(0, size(_rs_toks) - 2), "
        "i -> concat(_rs_toks[i], ' ', _rs_toks[i + 1])) END"
    )
    top_2gram_frac = F.when(
        F.size(F.col("_rs_grams")) > 0,
        F.expr(
            "array_max(transform(array_distinct(_rs_grams), "
            "g -> size(filter(_rs_grams, x -> x = g))))"
        ).cast("double")
        / F.size(F.col("_rs_grams")).cast("double"),
    ).otherwise(F.lit(0.0))
    # Phantom-empty-token filter (as in portable.nonempty_tokens): edge
    # whitespace makes tokens() emit '' entries, and a gram containing
    # '' would count repetition that no real token stream has (a
    # whitespace-only doc would otherwise score top_2gram_frac = 1.0).
    toks = F.filter(tokens(text_col), lambda t: t != "")
    return (
        df.withColumn("_rs_toks", toks)
        .withColumn("_rs_grams", grams)
        .withColumn("dup_line_frac", dup_line_frac)
        .withColumn("top_2gram_frac", top_2gram_frac)
        .withColumn(
            "is_repetitive",
            (F.col("dup_line_frac") > 0.30)
            | (F.col("top_2gram_frac") > 0.20),
        )
        .drop("_rs_toks", "_rs_grams")
    )
