"""One-call batch curation (north star capstone): compose the
individual curation operators into the single keep/drop pass a corpus
owner actually runs — quality heuristics, repetition filters,
language gate, optional domain blocklist, exact dedup, with an
auditable per-document reason list.

This is deliberately a COMPOSITION, not new logic: every signal comes
from the already-tested operator (``operators/text.py``,
``operators/dedup.py``, ``operators/filtering.py``), so the pipeline
inherits their oracle checks; tests here verify only the composition
(verdicts agree with the component operators run standalone, reasons
are complete and sound).

100 TB shape = the union of the components' shapes: the scoring
stages are pure Column expressions over the scan (one map pass, no
shuffle); the blocklist is a broadcast semi-join of (id, domain)
pairs; dedup adds ONE corpus shuffle keyed by content digest (the
same shuffle ``dedup_exact`` pays); the verdict is a map-side CASE
over the accumulated columns. Nothing all-pairs, text crosses only
the digest shuffle it must.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from redis_lsm_timeseries_spark.functions.portable import nonempty_tokens
from redis_lsm_timeseries_spark.operators.dedup import content_digest
from redis_lsm_timeseries_spark.operators.filtering import (
    filter_by_domain_blocklist,
)
from redis_lsm_timeseries_spark.operators.text import (
    with_lang_guess,
    with_quality_score,
    with_repetition_stats,
    with_token_stats,
)
from redis_lsm_timeseries_spark.session import materialize

DEFAULT_MIN_QUALITY = 0.5
DEFAULT_MIN_TOKENS = 5
DEFAULT_MAX_TOKENS = 1_000_000


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = DEFAULT_MIN_QUALITY,
    min_tokens: int = DEFAULT_MIN_TOKENS,
    max_tokens: int = DEFAULT_MAX_TOKENS,
    allowed_langs: tuple[str, ...] | None = None,
    blocklist: DataFrame | None = None,
) -> DataFrame:
    """Score every document and decide keep/drop with reasons.

    Adds to the input columns:
      n_tokens, quality_score, dup_line_frac, top_2gram_frac,
      lang_guess, content_digest   — the audit signals
      drop_reasons (array<string>) — every check the doc failed, in a
                                     fixed order; empty for keeps
      keep (boolean)               — size(drop_reasons) == 0

    Checks (reason tag): token count window ("too_short" /
    "too_long"), composite quality ("low_quality"), Gopher repetition
    ("repetitive"), language gate ("lang") when ``allowed_langs``
    given, domain blocklist ("blocked_domain") when ``blocklist``
    given, and exact dedup ("duplicate" — every row whose content
    digest already appeared on a lower id; the min-id row is the
    keeper, ``dedup_exact``'s winner rule)."""
    scored = with_repetition_stats(
        with_lang_guess(
            with_quality_score(
                with_token_stats(docs, text_col), text_col
            )
        ),
        text_col,
    ).drop("toks")
    # The audit n_tokens (and the length gates below) count REAL
    # tokens: with_token_stats keeps the phantom ''s that empty text /
    # edge whitespace produce, but every counting consumer downstream
    # (packing, LM scoring, corpus_report) filters them — the same
    # document must report one token count across the whole pipeline.
    # Overridden AFTER scoring so quality_score still describes the
    # document as with_quality_score defines it.
    scored = scored.withColumn(
        "n_tokens", F.size(nonempty_tokens(text_col)).cast("long")
    )
    scored = scored.withColumn("content_digest", content_digest(text_col))
    scored = scored.withColumn(
        "_dup",
        F.col(id_col)
        != F.min(id_col).over(Window.partitionBy("content_digest")),
    )
    if blocklist is not None:
        keep_ids = filter_by_domain_blocklist(
            docs.select(id_col, text_col), blocklist, text_col, id_col
        ).select(id_col)
        scored = (
            scored.join(
                keep_ids.withColumn("_unblocked", F.lit(True)),
                id_col,
                "left",
            )
            .withColumn(
                "_blocked", ~F.coalesce(F.col("_unblocked"), F.lit(False))
            )
            .drop("_unblocked")
        )
    else:
        scored = scored.withColumn("_blocked", F.lit(False))

    checks = [
        ("too_short", F.col("n_tokens") < F.lit(int(min_tokens))),
        ("too_long", F.col("n_tokens") > F.lit(int(max_tokens))),
        ("low_quality", F.col("quality_score") < F.lit(float(min_quality))),
        ("repetitive", F.col("is_repetitive")),
    ]
    if allowed_langs is not None:
        langs = F.array(*[F.lit(lg) for lg in allowed_langs])
        checks.append(("lang", ~F.array_contains(langs, F.col("lang_guess"))))
    if blocklist is not None:
        checks.append(("blocked_domain", F.col("_blocked")))
    checks.append(("duplicate", F.col("_dup")))

    reasons = F.filter(
        F.array(
            *[
                F.when(cond, F.lit(tag)).otherwise(F.lit(None))
                for tag, cond in checks
            ]
        ),
        lambda r: r.isNotNull(),
    )
    return (
        scored.withColumn("drop_reasons", reasons)
        .withColumn("keep", F.size("drop_reasons") == 0)
        .drop("_dup", "_blocked")
    )


def dedup_rewrite(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 1,
    span_tokens: int | None = None,
    paragraph: bool = True,
    substring: bool = True,
) -> DataFrame:
    """One-call content REWRITE pass: cut cross-document boilerplate
    at paragraph granularity (``paragraph_dedup``), then cut the
    non-paragraph-aligned duplicated runs the first pass cannot see
    (``substring_dedup``) — the rewrite-side complement of
    ``curate_corpus``'s keep/drop verdicts (which never alter text).

    Output, one row per document:
      (id, text — the rewritten form, n_paragraphs, n_paragraphs_kept,
       n_spans_cut, dup_tokens_cut, was_modified)
    Stage order matters: paragraph cuts remove whole duplicated blocks
    first, so the substring pass only pays for the remainder, and a
    run that already survived both passes is a fixed point (re-running
    the rewrite changes nothing — tested).

    NOTE the output text is the substring stage's NORMALIZED token
    stream (lowercased, single-spaced) when ``substring=True`` — the
    form a tokenizer-fed pipeline consumes; set ``substring=False``
    to keep original casing/spacing with paragraph cuts only.

    Scale = the union of the stages' shapes (digest-keyed paragraph
    shuffle + window-digest shuffle, text crossing only the exchanges
    a rewrite must move). The intermediate rewritten corpus is
    materialized between stages: ``substring_dedup`` consumes its
    input twice, and projection collapse would otherwise run the
    whole paragraph stage once per consumer."""
    from redis_lsm_timeseries_spark.operators.dedup import (
        DEFAULT_SPAN_TOKENS,
        paragraph_dedup,
        substring_dedup,
    )

    if span_tokens is None:
        span_tokens = DEFAULT_SPAN_TOKENS
    out = docs.select(F.col(id_col), F.col(text_col))
    n_paragraphs = F.lit(0).cast("long")
    n_kept = F.lit(0).cast("long")
    modified = F.lit(False)
    if paragraph:
        p = paragraph_dedup(out, text_col, id_col, min_chars)
        out = p.select(
            F.col(id_col),
            F.col("text_deduped").alias(text_col),
            "n_paragraphs",
            F.col("n_kept").alias("n_paragraphs_kept"),
            F.col("was_modified").alias("_mod_p"),
        )
    else:
        out = (
            out.withColumn("n_paragraphs", n_paragraphs)
            .withColumn("n_paragraphs_kept", n_kept)
            .withColumn("_mod_p", modified)
        )
    out = materialize(out, "pipeline.paragraph_stage")
    if substring:
        s = substring_dedup(out, text_col, id_col, span_tokens)
        # _mod_s is BYTE-EXACT against the stage input (ADVICE r8):
        # substring_dedup normalizes (lowercase, whitespace-collapse)
        # even with zero spans cut, and a dup_tokens-based flag would
        # report was_modified=False for normalization-only changes —
        # callers gating rewrites on the flag would persist a
        # mixed-normalization corpus. Mirrors paragraph_dedup's
        # eqNullSafe semantics.
        out = (
            out.withColumnRenamed(text_col, "_pre_substring")
            .join(
                s.select(
                    F.col(id_col),
                    F.col("text_deduped").alias(text_col),
                    F.col("n_spans").alias("n_spans_cut"),
                    F.col("dup_tokens").alias("dup_tokens_cut"),
                ),
                id_col,
            )
            .withColumn(
                "_mod_s",
                ~F.col(text_col).eqNullSafe(F.col("_pre_substring")),
            )
            .drop("_pre_substring")
        )
    else:
        out = out.withColumn(
            "n_spans_cut", F.lit(0).cast("long")
        ).withColumn(
            "dup_tokens_cut", F.lit(0).cast("long")
        ).withColumn("_mod_s", F.lit(False))
    return (
        out.withColumn(
            "was_modified", F.col("_mod_p") | F.col("_mod_s")
        )
        .drop("_mod_p", "_mod_s")
        .select(
            id_col, text_col, "n_paragraphs", "n_paragraphs_kept",
            "n_spans_cut", "dup_tokens_cut", "was_modified",
        )
    )
