"""Sequence packing (north star): assign documents to fixed-size
training context windows — the concat-and-chunk packing step every
LLM pre-training pipeline runs between curation and tokenized-shard
writing.

Semantics: within each (source, shard) stream, documents are laid out
back-to-back in a deterministic order and the token stream is cut
every ``window_tokens`` tokens. Each document learns its byte-exact
placement: the stream offset of its first token, the window (pack) its
first token lands in, the window its last token lands in, and whether
it straddles a window boundary. This is the GPT-style "concatenate
then chunk" layout (documents MAY cross window boundaries, separated
downstream by EOD tokens). The boundary-respecting greedy layout —
whose running-reset recurrence needs sequential per-stream state — is
``pack_documents_nosplit`` below: same deterministic (source, shard,
id) order, Arrow-batched ``applyInPandas`` for the recurrence.

100 TB shape: the only exchange is the window's hash partition on
(source, shard). A GLOBAL document order would funnel the whole corpus
through one sort partition — instead the stream is sharded by
``pmod(hash64(doc_id), num_shards)`` WITHIN each source, so every
window partition holds ~|source|/num_shards documents and the cumsum
is embarrassingly parallel. Any deterministic grouping is a valid
packing plan (each shard becomes its own run of training shards);
determinism is what matters for resumable pipelines, and the hash
shard gives the same reproducibility the reference gets from its
content-derived ``u`` uniquifier (``index.js:123`` — identity from
content, not job timing). The oracle in tests recomputes the exact
same layout in DuckDB: integer-only arithmetic, no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from redis_lsm_timeseries_spark.functions.portable import (
    hash64,
    nonempty_tokens,
)

DEFAULT_WINDOW_TOKENS = 64
DEFAULT_NUM_SHARDS = 8


def pack_documents(
    df: DataFrame,
    window_tokens: int = DEFAULT_WINDOW_TOKENS,
    num_shards: int = DEFAULT_NUM_SHARDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Concat-and-chunk packing plan for a document corpus.

    Output (one row per document):
      id, source, shard       — identity + stream assignment
      n_tokens                — whitespace token count (0 for empty)
      token_start             — offset of the doc's first token within
                                its (source, shard) stream
      pack_id                 — window index of the first token
      pack_id_end             — window index of the last token (equals
                                pack_id for zero-token docs)
      crosses_boundary        — doc spans >= 2 windows
      n_windows               — windows the doc touches (>= 1)

    Stream order within a shard is ascending ``id_col`` — stable under
    re-runs and recomputable by any engine. One shuffle total: the
    hash partition of the running-sum window."""
    if window_tokens <= 0:
        raise ValueError("window_tokens must be positive")
    if num_shards <= 0:
        raise ValueError("num_shards must be positive")

    n_tok = F.size(nonempty_tokens(text_col)).cast("long")

    shard = F.pmod(
        hash64(F.col(id_col).cast("string")), F.lit(num_shards)
    ).cast("long")

    w = (
        Window.partitionBy(source_col, "shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    wt_i = int(window_tokens)
    wt = F.lit(wt_i)
    # Integer division (`div`), not floor(a / b): offsets and window
    # sizes are longs, so the layout arithmetic stays integer-exact at
    # any stream length — floor over a double division is only exact
    # while offsets stay under 2^53.
    pack_first = F.expr(f"token_start div {wt_i}").cast("long")
    # Last-token window; zero-token docs occupy no tokens but are
    # pinned to their start window (greatest(n, 1) guards the -1).
    pack_last = F.expr(
        f"(token_start + greatest(n_tokens, CAST(1 AS BIGINT)) - 1) "
        f"div {wt_i}"
    ).cast("long")

    return (
        df.select(
            F.col(id_col),
            F.col(source_col),
            shard.alias("shard"),
            n_tok.alias("n_tokens"),
        )
        .withColumn("token_start", start)
        .withColumn("pack_id", pack_first)
        .withColumn("pack_id_end", pack_last)
        .withColumn(
            "crosses_boundary", F.col("pack_id_end") > F.col("pack_id")
        )
        .withColumn(
            "n_windows",
            (F.col("pack_id_end") - F.col("pack_id") + 1).cast("long"),
        )
        # carried so downstream consumers (the window manifest) can
        # VERIFY they were called with the same window size the layout
        # was computed under — a mismatch would silently corrupt every
        # slice boundary.
        .withColumn("pack_window_tokens", wt.cast("long"))
    )


def _checked_wt(df: DataFrame, window_tokens: int | None, caller: str):
    """The window size as a Column, cross-checked against the
    ``pack_window_tokens`` the layout carries. Passing a mismatching
    explicit value raises AT EXECUTION with the caller named instead
    of producing overlapping/skipped slices."""
    carried = "pack_window_tokens" in df.columns
    if window_tokens is None:
        if not carried:
            raise ValueError(
                f"{caller}: no window_tokens given and the input "
                f"carries no pack_window_tokens column"
            )
        return F.col("pack_window_tokens")
    wt = F.lit(int(window_tokens))
    if not carried:
        return wt
    return F.when(F.col("pack_window_tokens") == wt, wt).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"{caller}: window_tokens={int(window_tokens)} does "
                    f"not match the layout's pack_window_tokens="
                ),
                F.col("pack_window_tokens").cast("string"),
            )
        ).cast("long")
    )


def window_manifest(
    packed: DataFrame, window_tokens: int | None = None
) -> DataFrame:
    """Materialize the packing plan into per-window assembly specs —
    the manifest a training-shard writer consumes: for every (source,
    shard, window) the ordered document slices that fill it.

    One row per (window, contributing doc):
      source, shard, window_id
      id-col columns from ``packed`` (passed through)
      doc_tok_start / doc_tok_end  — the slice of the DOCUMENT's own
                                     tokens landing in this window
                                     (end-exclusive)
      win_tok_start                — where the slice begins WITHIN the
                                     window
    Zero-token documents emit no manifest rows (they occupy no
    tokens); ``pack_documents`` still reports their nominal window.

    Scale: a document spanning w windows explodes into w rows, so the
    manifest holds at most total_tokens / window_tokens + n_docs rows
    — linear in corpus size, and the explode is map-side (the spans
    come straight off ``pack_id``/``pack_id_end``, no join). Sorting
    within a window is the shard writer's job; the manifest carries
    the (window_id, win_tok_start) sort key it needs.

    ``window_tokens`` defaults to the size the layout itself carries
    (``pack_window_tokens``); passing a different value raises at
    execution instead of silently corrupting slice boundaries."""
    wt = _checked_wt(packed, window_tokens, "window_manifest")
    spans = packed.where(F.col("n_tokens") > 0).select(
        "*",
        F.explode(
            F.sequence(F.col("pack_id"), F.col("pack_id_end"))
        ).alias("window_id"),
    )
    # Document-relative slice boundaries for this window: the window
    # covers stream tokens [window_id*W, (window_id+1)*W); intersect
    # with the doc's [token_start, token_start + n_tokens).
    win_lo = F.col("window_id") * wt
    win_hi = win_lo + wt
    doc_lo = F.col("token_start")
    doc_hi = doc_lo + F.col("n_tokens")
    return (
        spans.withColumn(
            "doc_tok_start",
            (F.greatest(win_lo, doc_lo) - doc_lo).cast("long"),
        )
        .withColumn(
            "doc_tok_end",
            (F.least(win_hi, doc_hi) - doc_lo).cast("long"),
        )
        .withColumn(
            "win_tok_start",
            (F.greatest(win_lo, doc_lo) - win_lo).cast("long"),
        )
        .drop("pack_id", "pack_id_end", "crosses_boundary", "n_windows")
    )


def pack_documents_nosplit(
    df: DataFrame,
    window_tokens: int = DEFAULT_WINDOW_TOKENS,
    num_shards: int = DEFAULT_NUM_SHARDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Document-boundary-respecting packing (the SFT-style layout):
    within each (source, shard) stream, documents are placed in
    ascending-id order into fixed-size windows WITHOUT splitting — a
    document that does not fit the current window's remaining space
    starts a new window. The complement of ``pack_documents`` (whose
    GPT-style concat-and-chunk layout lets documents straddle
    windows): instruction-tuning pipelines want every example intact
    in one context, trading fill fraction for boundary integrity.

    Output (one row per document):
      id, source, shard, n_tokens       — as in ``pack_documents``
      pack_id                           — window index within the
                                          stream (0-based, contiguous)
      win_offset                        — the doc's start offset
                                          within its window
      oversize                          — n_tokens > window_tokens:
                                          the doc occupies a window
                                          alone and must be truncated
                                          or split downstream (flagged,
                                          never silently cut)
      pack_window_tokens                — carried for the same
                                          execution-time guards as
                                          ``pack_documents``
    Zero-token documents take zero space: they pin to the current
    window at its current offset.

    Why Pandas, not Columns: greedy first-fit is a data-dependent
    recurrence (each placement depends on the running remainder, which
    RESETS on overflow) — not expressible as a window aggregate.
    ``applyInPandas`` over (source, shard) keeps it Arrow-batched and
    bounded: the hash shard caps every group at ~|source|/num_shards
    documents, the same single-exchange scale posture as
    ``pack_documents``; per-group work is a linear scan."""
    import pandas as pd

    if window_tokens <= 0:
        raise ValueError("window_tokens must be positive")
    if num_shards <= 0:
        raise ValueError("num_shards must be positive")

    n_tok = F.size(nonempty_tokens(text_col)).cast("long")
    shard = F.pmod(
        hash64(F.col(id_col).cast("string")), F.lit(num_shards)
    ).cast("long")
    slim = df.select(
        F.col(id_col),
        F.col(source_col),
        shard.alias("shard"),
        n_tok.alias("n_tokens"),
    )

    wt = int(window_tokens)

    def place(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, ignore_index=True)
        pack_ids, offsets, oversize = [], [], []
        win, used = 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if n > wt:
                # oversize: its own window, flagged
                if used > 0:
                    win += 1
                pack_ids.append(win)
                offsets.append(0)
                oversize.append(True)
                win += 1
                used = 0
                continue
            if used + n > wt:
                win += 1
                used = 0
            pack_ids.append(win)
            offsets.append(used)
            oversize.append(False)
            used += n
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        pdf["win_offset"] = pd.Series(offsets, dtype="int64")
        pdf["oversize"] = pd.Series(oversize, dtype="bool")
        return pdf

    # Output schema derived from the ACTUAL input field types (string
    # doc ids, non-string sources) — hard-coding `long`/`string` here
    # miscast or failed at runtime for such corpora (ADVICE r8).
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(slim.schema.fields)
        + [
            T.StructField("pack_id", T.LongType()),
            T.StructField("win_offset", T.LongType()),
            T.StructField("oversize", T.BooleanType()),
        ]
    )
    return (
        slim.groupBy(source_col, "shard")
        .applyInPandas(place, out_schema)
        .withColumn("pack_window_tokens", F.lit(wt).cast("long"))
    )
