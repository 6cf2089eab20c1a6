"""Deduplication operators (north star): exact, MinHash+LSH banding,
SimHash, n-gram Jaccard verification.

Design for 100 TB:
- exact dedup is a hash-groupBy with map-side partial aggregation
  (winner = min id per content hash) — one shuffle of (digest, id);
- MinHash signatures are computed PER ROW with higher-order array
  functions (no explode, no shuffle): array_min over transformed
  shingle arrays;
- LSH banding explodes only ``num_bands`` rows per document and
  shuffles on (band_idx, band_key) — the classic band-bucket join; the
  candidate set is tiny relative to the corpus, so the expensive exact
  Jaccard verification runs on candidates only;
- SimHash reduces each document to one int64; near-dup lookup becomes
  bit_count(xor) on candidate pairs.

All hashes route through the portable md5-based ``hash64`` so the
DuckDB oracle computes identical signatures (functions/portable.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from redis_lsm_timeseries_spark.functions.portable import (
    hash64,
    hashed_shingles_expr,
    hashed_windows_expr,
    tokens,
)
from redis_lsm_timeseries_spark.session import materialize

NUM_HASHES = 12
ROWS_PER_BAND = 3
SIMHASH_BITS = 60  # hash64 yields 60 bits; stay under the int64 sign bit


def content_digest(text_col: str = "text") -> Column:
    return F.md5(F.col(text_col))


def mark_first_occurrence(
    occ: DataFrame,
    digest_col: str,
    id_col: str,
    pos_col: str = "pos",
) -> DataFrame:
    """Skew-safe first-occurrence marking: adds a boolean ``_keep``
    column that is true exactly on each digest's winner row — the
    minimum ``(id, pos)`` struct among its occurrences.

    Implementation is groupBy(digest).agg(min(struct(id, pos))) + join
    back on the digest, NOT ``min(...).over(Window.partitionBy(digest))``.
    The difference is the whole point: window functions get no map-side
    partial aggregation, so the hottest digest — by definition the
    most-duplicated content, the very thing dedup hunts — lands every
    occurrence in a single WindowExec task with a sort (a license block
    repeated 10^8 times at 100 TB is one straggler task). The groupBy
    collapses each mapper's hot-digest rows to ONE pre-shuffle row
    (partial_min), and the join back is a plain equi-join that AQE's
    skew-join handling splits, unlike WindowExec.

    The winner table keeps only digests with MORE than one occurrence
    (a count==1 row is trivially its own winner), so the join probe is
    a LEFT join against the duplicated-content subset — usually a tiny
    fraction of the corpus, which AQE's runtime join selection turns
    into a broadcast, eliminating the second shuffle of ``occ``
    entirely; when duplication is massive the same plan degrades to a
    skew-split shuffle join, never a straggler window."""
    winners = (
        occ.groupBy(digest_col)
        .agg(
            F.min(F.struct(F.col(id_col), F.col(pos_col))).alias("_first"),
            F.count(F.lit(1)).alias("_n_occ"),
        )
        .where(F.col("_n_occ") > 1)
        .drop("_n_occ")
    )
    return (
        occ.join(winners, digest_col, "left")
        .withColumn(
            "_keep",
            F.col("_first").isNull()
            | (
                (F.col(id_col) == F.col("_first")[id_col])
                & (F.col(pos_col) == F.col("_first")[pos_col])
            ),
        )
        .drop("_first")
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: one row per distinct content, winner =
    min id, n_copies = group size."""
    return (
        df.groupBy(content_digest(text_col).alias("digest"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


MIX_MOD = 1 << 30


def _mix_constants(num_hashes: int = NUM_HASHES) -> list[tuple[int, int, int]]:
    """Deterministic 30-bit universal-hash constants (a odd, b odd, c)
    per signature position, derived from md5 so they're reproducible
    anywhere without a random seed."""
    import hashlib

    def c30(label: str) -> int:
        return int(hashlib.md5(label.encode()).hexdigest()[:8], 16) % MIX_MOD

    return [
        (c30(f"A{j}") | 1, c30(f"B{j}") | 1, c30(f"C{j}"))
        for j in range(num_hashes)
    ]


def _mix_sql(j: int, h: str, intdiv: str = "div") -> str:
    """Signature position j from a 60-bit base hash ``h``: a 2-piece
    universal hash (a*hi + b*lo + c) mod 2^30 — identical arithmetic in
    Spark and DuckDB, no overflow (operands < 2^30, sum < 2^61).
    ``intdiv`` is Spark's ``div`` / DuckDB's ``//``."""
    # constants are derived per-position from md5(label), so asking
    # for j+1 of them yields the same values for 0..j regardless of
    # the signature width — callers with num_hashes > NUM_HASHES get
    # consistent constants instead of an IndexError.
    a, b, c = _mix_constants(j + 1)[j]
    return (
        f"(({a} * ({h} {intdiv} {MIX_MOD}) + {b} * ({h} % {MIX_MOD}) + {c})"
        f" % {MIX_MOD})"
    )


def minhash_signature_expr(num_hashes: int = NUM_HASHES) -> Column:
    """The full MinHash signature as ONE array<long> column (``mhs``),
    computed in a single pass over the ``sh`` shingle array.

    Cost shape: exactly ONE md5 per shingle (the portable 60-bit base
    hash), then k cheap arithmetic mixes derive the k signature
    positions — the (a*x + b) universal-hash family standard in MinHash
    implementations. The whole signature is one expression tree and the
    base hash is a bound lambda variable, so nothing is re-evaluated;
    per-column formulations cost k md5 passes because lambda subtrees
    defeat Spark's common-subexpression elimination.

    Empty shingle arrays yield the max-init vector; filter short docs
    before use."""
    mixes = ", ".join(
        f"CAST({_mix_sql(j, 'h')} AS BIGINT)" for j in range(num_hashes)
    )
    return F.expr(
        f"aggregate("
        f"  sh,"
        f"  array_repeat(CAST({MIX_MOD} AS BIGINT), {num_hashes}),"
        f"  (acc, h) -> zip_with(acc, array({mixes}), (a, x) -> least(a, x))"
        f")"
    )


def with_minhash(
    df: DataFrame, text_col: str = "text", num_hashes: int = NUM_HASHES
) -> DataFrame:
    """Shingle + MinHash columns: adds ``sh`` (word 3-shingle HASHES —
    one md5 per token, arithmetic k-gram combination; the pipeline
    never builds shingle strings) and ``mhs`` (array<long> signature),
    computed per row with no shuffle.

    NOTE: downstream consumers that reference ``mhs`` more than once
    (signature column extraction, band keys, self-joins) should
    materialize first (``session.materialize``) — projection collapse
    otherwise inlines the signature computation into every consumer.
    At scale this materialization IS the persisted signature table of a
    real dedup pipeline."""
    return (
        df.withColumn("sh", hashed_shingles_expr(text_col))
        .withColumn("mhs", minhash_signature_expr(num_hashes))
    )


def lsh_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Explode MinHash signatures (``mhs`` array) into
    (id, band_idx, band_key) rows. band_key = md5 of the band's
    signature slice."""
    num_bands = num_hashes // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col("mhs")[b * rows_per_band + r].cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(num_bands)
        ]
    )
    return (
        df.select(F.col(id_col), F.explode(bands).alias("band"))
        .select(id_col, "band.band_idx", "band.band_key")
    )


def lsh_candidate_pairs(
    bands_df: DataFrame, id_col: str = "doc_id", num_salts: int = 1
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing at least one band
    bucket. The join shuffles on (band_idx, band_key) — bucket-local,
    never all-pairs.

    ``num_salts > 1`` splits each bucket's quadratic pair enumeration
    across that many tasks (see ``operators.skew``) — same output,
    bounded per-task work when boilerplate-heavy corpora collapse many
    documents into few buckets; with the default 1, AQE skew-join is
    the (runtime) mitigation."""
    from redis_lsm_timeseries_spark.operators.skew import salted_pair_sides

    a = bands_df.select(
        F.col(id_col).alias("a"), "band_idx", "band_key"
    )
    b = bands_df.select(
        F.col(id_col).alias("b"), "band_idx", "band_key"
    )
    a, b, keys = salted_pair_sides(
        a, b, ["band_idx", "band_key"], left_id_col="a", num_salts=num_salts
    )
    return (
        a.join(b, keys)
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def ngram_overlap_contamination(
    corpus: DataFrame,
    eval_grams: DataFrame,
    id_col: str = "doc_id",
    sh_col: str = "sh",
) -> DataFrame:
    """Benchmark decontamination: per-document n-gram overlap of a
    training corpus against a held-out eval set (the GPT-3-style
    contamination check, applied at the shingle-hash level).

    ``corpus`` carries hashed shingle arrays (``sh_col``, as produced
    by ``functions.portable.hashed_shingles_expr`` — the same
    signatures the MinHash pipeline runs on); ``eval_grams`` is a
    one-column relation of the eval set's distinct shingle hashes.

    Output, one row per corpus document (including zero-overlap docs):
    (id, n_shingles, n_eval_hits, contam_frac, is_contaminated) where
    ``n_eval_hits`` counts the doc's DISTINCT shingles present in the
    eval set and ``contam_frac`` = hits / distinct shingles.

    100 TB shape: eval sets are orders of magnitude smaller than the
    corpus (a benchmark is thousands of documents), so the distinct
    eval grams BROADCAST and the overlap test is a map-side broadcast
    semi-join on the exploded corpus shingles — the corpus never
    shuffles on gram. The only corpus-keyed exchange carries two ints
    per document (the hit-count groupBy and the join back to pick up
    zero-hit docs), both map-side combined; at scale the hits side of
    that join is contamination-bounded and AQE broadcasts it."""
    empty = "CAST(array() AS ARRAY<BIGINT>)"
    # base feeds TWO branches (the hit-count explode and the
    # n_shingles join-back); without materialization projection
    # collapse re-inlines the caller's shingle-hash expression into
    # both — the md5 pass over the corpus would run twice. At scale
    # this materialization is the persisted shingle table the MinHash
    # pipeline already maintains (see with_minhash's NOTE).
    base = materialize(
        corpus.select(
            F.col(id_col),
            F.coalesce(F.array_distinct(F.col(sh_col)), F.expr(empty)).alias("_dsh"),
        ),
        "dedup.contamination_shingles",
    )
    grams = eval_grams.select(
        F.col(eval_grams.columns[0]).alias("g")
    ).distinct()
    hits = (
        base.select(id_col, F.explode("_dsh").alias("g"))
        .join(F.broadcast(grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_eval_hits"))
    )
    return (
        base.select(
            id_col, F.size("_dsh").cast("long").alias("n_shingles")
        )
        .join(hits, [id_col], "left")
        .withColumn(
            "n_eval_hits",
            F.coalesce(F.col("n_eval_hits"), F.lit(0)).cast("long"),
        )
        .withColumn(
            "contam_frac",
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_eval_hits").cast("double") / F.col("n_shingles"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("is_contaminated", F.col("n_eval_hits") > 0)
    )


def with_simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash over the distinct token set: bit j of the fingerprint is
    the sign of the sum of (+1/-1) votes from each token's hash bit j.
    Returns (id_col, simhash) — join back on id_col if other columns
    are needed downstream.

    Plan shape: explode distinct tokens -> one groupBy(id) with the
    bit-count sums (partial-aggregated) -> bit recombination. The vote
    shuffle carries only (id, vote counters) — grouping by the id
    alone keeps the document text OFF the exchange, which at 100 TB is
    the dominant cost of the pipeline.

    Vote counters are BIT-PACKED two per long (r18, guide §2.3/§4):
    counter j accumulates ``ones_j + (ones_{j+30} << 32)``, halving
    both the per-row aggregate-update expressions (30 sums instead of
    60 — measured 2.4x less aggregate CPU, the entry's dominant cost
    at low core counts) and the bytes the partial-agg rows shuffle.
    Exactness: bit j of the fingerprint is set iff more tokens vote 1
    than -1, i.e. ``2 * ones_j > n`` — the same integer comparison the
    unpacked ``sum(+-1) > 0`` form encodes. Overflow-safe by
    construction: a document's distinct-token count n is < 2^30 (each
    token consumes >= 2 chars of a <= 2^31-byte string), so the high
    field's sum is <= 2^30 * 2^32 = 2^62 and the low field (<= 2^30)
    can never carry into bit 32."""
    half = SIMHASH_BITS // 2  # 30 packed counters for the 60 bits
    toks = (
        df.select(
            F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
        )
        .withColumn("th", hash64(F.col("tok")))
    )
    packed = [
        F.sum(
            F.shiftright(F.col("th"), j).bitwiseAND(F.lit(1))
            + F.shiftleft(
                F.shiftright(F.col("th"), j + half).bitwiseAND(F.lit(1)), 32
            )
        ).alias(f"p_{j}")
        for j in range(half)
    ]
    agg = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"), *packed)
    sim = None
    for j in range(half):
        lo = F.col(f"p_{j}").bitwiseAND(F.lit((1 << 32) - 1))
        hi = F.shiftright(F.col(f"p_{j}"), 32)
        pair = (
            F.when(lo * 2 > F.col("_n"), F.lit(1 << j).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            + F.when(
                hi * 2 > F.col("_n"), F.lit(1 << (j + half)).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        )
        sim = pair if sim is None else sim + pair
    return agg.select(id_col, sim.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b)).cast("long")


def incremental_exact_dedup(
    batch: DataFrame,
    corpus_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Daily-ingest admission: which rows of a NEW batch are novel
    against an existing corpus digest index, and which are duplicates
    (of the corpus, or of an earlier row in the same batch)?

    Output, one row per batch document:
      (id, digest, dup_of_corpus, dup_in_batch, admit)
    with ``admit`` = novel content AND first occurrence (min id) of
    that content within the batch — so re-running admission on the
    same batch is idempotent, the reference's write-path posture
    (``index.js:123``: content-keyed identity).

    100 TB shape: the batch is orders of magnitude smaller than the
    corpus, so the corpus index is SCANNED, never shuffled — the hit
    set comes from a left-semi join of the index against the
    BROADCAST batch digests, and the (tiny, contamination-bounded)
    hit set broadcasts back onto the batch. The corpus never moves.
    The in-batch first-occurrence winner goes through the skew-safe
    ``mark_first_occurrence`` (groupBy partial-min + join back), never
    a digest-keyed window: a "daily batch" here can itself be billions
    of rows, and a hot digest under ``Window.partitionBy(digest)``
    would be one straggler WindowExec task — the exact shape the
    content-rewrite passes already eliminated."""
    # Materialized ONCE (lazily): consumed three times
    # below — the broadcast probe-set distinct, the winner aggregate,
    # and the join probe of ``mark_first_occurrence`` — and without
    # materialization each consumer re-scans the batch and re-runs the
    # md5 digest. (id, digest) rows only; the text never persists.
    digests = materialize(
        batch.select(F.col(id_col), content_digest(text_col).alias("digest")),
        "dedup.batch_digests",
    )
    hits = (
        corpus_digests.select(
            F.col(corpus_digests.columns[0]).alias("digest")
        )
        .join(F.broadcast(digests.select("digest").distinct()), "digest",
              "left_semi")
        .distinct()
        .withColumn("_in_corpus", F.lit(True))
    )
    marked = mark_first_occurrence(
        digests.withColumn("_pos", F.col(id_col)),
        "digest",
        id_col,
        pos_col="_pos",
    )
    return (
        marked.join(F.broadcast(hits), "digest", "left")
        .withColumn(
            "dup_of_corpus", F.coalesce(F.col("_in_corpus"), F.lit(False))
        )
        .withColumn("dup_in_batch", ~F.col("_keep"))
        .withColumn(
            "admit", ~F.col("dup_of_corpus") & ~F.col("dup_in_batch")
        )
        .select(id_col, "digest", "dup_of_corpus", "dup_in_batch", "admit")
    )


def incremental_near_dup(
    batch: DataFrame,
    corpus_bands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """Near-duplicate admission for a new batch against an existing
    corpus: MinHash-band the batch, probe the corpus band table, and
    estimate similarity for every candidate by signature agreement.

    ``corpus_bands`` is the persisted band table a real pipeline
    maintains: (corpus_id, band_idx, band_key, mhs) — the exact output
    of ``lsh_bands`` joined with its signatures (see
    ``build_band_index``). Output, one row per batch doc:
      (id, n_candidates, best_est_jaccard, is_near_dup)
    where est_jaccard = fraction of agreeing signature positions with
    the closest corpus doc (the unbiased MinHash estimator), 0.0 for
    docs hitting no bucket.

    100 TB shape: the batch's band rows BROADCAST; the corpus band
    table is scanned map-side (at a real deployment, bucket-pruned:
    the band table is stored bucketed by (band_idx, band_key), so the
    probe touches only matching buckets). The only shuffled relation
    is the candidate set, bounded by bucket collisions, then one
    per-batch-doc aggregate."""
    # Materialize the batch signatures ONCE: the signature column is
    # consumed twice below (band keys + agreement scoring), and
    # projection collapse would otherwise re-inline the full
    # shingle+MinHash computation into both consumers (the
    # ``with_minhash`` docstring trap — measured ~15x on the bench
    # extras workload). The batch is small by definition, so the
    # checkpoint is cheap.
    b = materialize(
        with_minhash(batch.select(id_col, text_col), text_col, num_hashes)
        .select(F.col(id_col), F.col("mhs")),
        "dedup.batch_signatures",
    )
    b_bands = (
        lsh_bands(b, id_col, num_hashes)
        .join(b.select(F.col(id_col), F.col("mhs").alias("_bmhs")), id_col)
    )
    cand = corpus_bands.join(
        F.broadcast(
            b_bands.select(
                F.col(id_col).alias("_bid"), "band_idx", "band_key", "_bmhs"
            )
        ),
        ["band_idx", "band_key"],
    )
    # Guard the signature width: probing an index built with a
    # different num_hashes would null-pad zip_with and silently HALVE
    # the agreement estimate (near-dups admitted as novel) — fail
    # loudly instead.
    agree = F.when(
        F.size("mhs") != F.lit(num_hashes),
        F.raise_error(
            F.concat(
                F.lit(
                    f"incremental_near_dup: corpus_bands signatures have "
                    f"size "
                ),
                F.size("mhs").cast("string"),
                F.lit(f" but num_hashes={num_hashes} — rebuild the band "
                      f"index with the same num_hashes"),
            )
        ).cast("double"),
    ).otherwise(
        F.size(
            F.filter(
                F.zip_with("mhs", "_bmhs", lambda x, y: x == y),
                lambda e: e,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    scored = (
        cand.select(
            F.col("_bid").alias(id_col),
            F.col("corpus_id"),
            agree.alias("est_jaccard"),
        )
        .groupBy(id_col, "corpus_id")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.max("est_jaccard").alias("best_est_jaccard"),
        )
    )
    return (
        batch.select(id_col)
        .join(scored, id_col, "left")
        .withColumn(
            "n_candidates",
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("long"),
        )
        .withColumn(
            "best_est_jaccard",
            F.coalesce(F.col("best_est_jaccard"), F.lit(0.0)),
        )
        .withColumn(
            "is_near_dup", F.col("best_est_jaccard") >= F.lit(threshold)
        )
    )


def build_band_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """The persisted corpus band table ``incremental_near_dup`` probes:
    (corpus_id, band_idx, band_key, mhs). In production this is
    written once, bucketed by (band_idx, band_key), and appended per
    admitted batch — here it is derived on the fly for tests."""
    c = with_minhash(corpus.select(id_col, text_col), text_col, num_hashes)
    return lsh_bands(c, id_col, num_hashes).join(
        c.select(F.col(id_col), F.col("mhs")), id_col
    ).select(
        F.col(id_col).alias("corpus_id"), "band_idx", "band_key", "mhs"
    )


def in_batch_near_dup_losers(
    bands: DataFrame,
    id_col: str = "corpus_id",
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """Near-dup LOSERS within one band table: ids whose bands collide
    with a SMALLER id at signature agreement >= ``threshold`` — the
    first-occurrence-wins rule ``incremental_exact_dedup`` applies to
    exact in-batch dups, extended to near dups. Output: one column,
    the distinct loser ids.

    This closes the streaming-admission wart where two first-seen
    near-variants arriving in ONE micro-batch both admitted (each was
    novel against the persisted index; only the exact guard looked
    inside the batch). Deterministic given the batch content, so a
    replayed batch recomputes the same losers.

    Pairwise, not transitive: a chain a~b~c with a~c never banding
    drops b (pairs with a) and c (pairs with b) — a loser can eliminate
    a later doc, which over-drops relative to clustering but never
    under-drops; downstream batch-level clustering remains the
    backstop. Scale: the input is one micro-batch's band rows (small
    by definition), so the self-join broadcasts; band-key bucketing
    bounds the candidate pairs exactly as in the index probe."""
    left = bands.select(
        F.col(id_col).alias("_a"), "band_idx", "band_key",
        F.col("mhs").alias("_amhs"),
    )
    right = bands.select(
        F.col(id_col).alias("_b"), "band_idx", "band_key",
        F.col("mhs").alias("_bmhs"),
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("_amhs", "_bmhs", lambda x, y: x == y),
                lambda e: e,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return (
        left.join(F.broadcast(right), ["band_idx", "band_key"])
        .where(F.col("_a") < F.col("_b"))
        .where(est >= F.lit(threshold))
        .select(F.col("_b").alias(id_col))
        .distinct()
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 1,
) -> DataFrame:
    """Paragraph-level exact dedup with document reassembly (the
    Dolma / RefinedWeb pass): a paragraph appearing in multiple
    documents survives only in its FIRST occurrence — (min doc id,
    then min position within that doc) — and every other copy is cut
    out of its document; the remaining paragraphs rejoin in original
    order. Kills cross-document boilerplate (navigation, footers,
    license blocks) that document-level dedup cannot see.

    Paragraphs = newline-separated segments with > ``min_chars`` - 1
    characters after trimming; sub-threshold segments and blank lines
    are dropped from the reassembled text (the same normalization the
    repetition filters apply to lines).

    Output, one row per input document:
      (id, text_deduped, n_paragraphs, n_kept, was_modified)
    ``was_modified`` compares the reassembled text against the
    ORIGINAL, so it is true for normalization-only changes too (blank
    lines dropped, paragraphs trimmed, sub-``min_chars`` segments
    removed) — callers use it to decide whether a rewrite is needed,
    and a count-based flag would skip rewrites that do change bytes.
    Documents whose every paragraph was cut keep an empty string —
    the caller's length filter (already part of every curation
    pipeline here) removes them.

    100 TB shape: one explode to (digest, id, pos) rows — the winner
    pick is the skew-safe groupBy-min + join back of
    ``mark_first_occurrence`` (partial aggregation collapses hot
    digests map-side; a repeated boilerplate paragraph never funnels
    into one WindowExec task), and the groupBy that reassembles
    documents shuffles paragraph-sized payloads keyed by id, the same
    bytes a rewrite must move; nothing all-pairs, no driver state."""
    paras = materialize(
        df.select(
            F.col(id_col),
            F.posexplode(
                F.filter(
                    F.transform(
                        F.split(F.col(text_col), "\n"),
                        lambda p: F.trim(p),
                    ),
                    lambda p: F.length(p) >= int(min_chars),
                )
            ).alias("pos", "para"),
        )
        .withColumn("pdigest", F.md5(F.col("para"))),
        # Materialized ONCE (lazily): the winner pick
        # consumes this table twice (the groupBy-min aggregate and the
        # join probe), and without materialization projection collapse
        # re-inlines the split+trim+posexplode+md5 paragraph derivation
        # into both subtrees — the same double-consume
        # ``duplicate_substring_spans`` already materializes its
        # window-digest explode for. At deployment scale this IS the
        # persisted paragraph-digest table the pipeline maintains
        # alongside the window-digest index.
        "dedup.paragraph_digests",
    )
    kept = mark_first_occurrence(paras, "pdigest", id_col, "pos")
    reassembled = (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paragraphs"),
            F.sum(F.col("_keep").cast("long")).cast("long").alias("n_kept"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct("pos", "para"),
                            )
                        )
                    ),
                    lambda s: s["para"],
                ),
            ).alias("text_deduped"),
        )
    )
    return (
        df.select(id_col, F.col(text_col).alias("_orig"))
        .join(reassembled, id_col, "left")
        .withColumn(
            "n_paragraphs",
            F.coalesce(F.col("n_paragraphs"), F.lit(0)).cast("long"),
        )
        .withColumn(
            "n_kept", F.coalesce(F.col("n_kept"), F.lit(0)).cast("long")
        )
        .withColumn(
            "text_deduped", F.coalesce(F.col("text_deduped"), F.lit(""))
        )
        .withColumn(
            "was_modified",
            ~F.col("text_deduped").eqNullSafe(F.col("_orig")),
        )
        .drop("_orig")
    )


DEFAULT_SPAN_TOKENS = 20


def duplicate_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = DEFAULT_SPAN_TOKENS,
) -> DataFrame:
    """Substring-level exact-duplicate spans (the Lee et al. 2022
    "Deduplicating Training Data" pass, without suffix arrays): find
    every maximal run of tokens, >= ``span_tokens`` long, that already
    occurred earlier in the corpus — whether or not it aligns to a
    paragraph boundary. The non-paragraph-aligned complement of
    ``paragraph_dedup``.

    Mechanics: hash every stride-1 window of ``span_tokens`` NONEMPTY
    tokens (`functions.portable.hashed_windows_expr` — one md5 per
    token, arithmetic window combination); each window digest's FIRST
    occurrence (min (id, pos) struct) is the winner; every other
    occurrence is a duplicated window. A duplicated region of length
    L >= span_tokens yields L - span_tokens + 1 consecutive duplicated
    windows, which the per-document interval merge below folds into
    one span [start, start + L). Output, one row per merged span:
      (id, span_start, span_end, n_windows)   -- token offsets into
    the nonempty token stream, end-exclusive.

    100 TB shape: the explode emits ~n_tokens rows per document (same
    order as the MinHash shingle table); the winner pick is the
    skew-safe groupBy-min + join back of ``mark_first_occurrence``
    shuffling (digest, id, pos) triples — digests and ints, never
    text, and hot digests collapse to one row map-side — and the span
    merge shuffles only the DUPLICATED windows keyed by id. Nothing
    all-pairs; cost is linear in corpus tokens, the floor for any
    exact-substring method."""
    # Materialized ONCE (lazily): the winner pick
    # consumes this table twice (the groupBy-min aggregate and the
    # join probe), and without materialization projection collapse
    # re-inlines the per-token md5 window hashing into both subtrees —
    # measured ~1.7x on the full operator. Same posture as
    # ``ngram_overlap_contamination``'s shingle base: at deployment
    # scale this materialization IS the persisted window-digest index
    # the pipeline maintains alongside the MinHash shingle table —
    # (id, pos, digest) ints+digest, linear in corpus tokens, stored
    # once instead of recomputed per consumer.
    wins = materialize(
        df.select(
            F.col(id_col),
            F.posexplode(hashed_windows_expr(text_col, int(span_tokens))).alias("pos", "wdigest"),
        ),
        "dedup.window_digests",
    )
    dups = (
        mark_first_occurrence(wins, "wdigest", id_col, "pos")
        .where(~F.col("_keep"))
        .select(id_col, "pos")
    )
    return merge_flagged_windows(dups, id_col, span_tokens)


def merge_flagged_windows(
    flagged: DataFrame, id_col: str, span_tokens: int
) -> DataFrame:
    """Merge flagged stride-1 window starts into maximal spans: a run
    of window positions whose [pos, pos + k) coverage overlaps or
    abuts folds into one [start, end) interval per document. Input is
    (id, pos) rows; output one row per merged span
    (id, span_id, span_start, span_end, n_windows). The window here is
    keyed by the DOCUMENT id over only its flagged positions — small
    per-document groups, not a corpus-wide skew risk."""
    lw = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(lw)
    # windows cover [pos, pos + k): a gap opens only when the next
    # flagged window starts past the previous one's end
    new_span = F.when(
        prev.isNull() | (F.col("pos") > prev + F.lit(int(span_tokens))),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        flagged.withColumn("_new", new_span)
        .withColumn(
            "span_id",
            F.sum("_new")
            .over(lw.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .groupBy(id_col, "span_id")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(int(span_tokens)))
            .cast("long")
            .alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
    )


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = DEFAULT_SPAN_TOKENS,
) -> DataFrame:
    """Per-document substring-dedup verdict with text rewrite: cut
    every duplicated span (see ``duplicate_substring_spans`` — first
    corpus occurrence survives) out of the document's nonempty token
    stream and rejoin the remainder with single spaces.

    Output, one row per input document:
      (id, n_tokens, n_spans, n_dup_windows, dup_tokens, dup_frac,
       text_deduped)
    ``text_deduped`` is over the NORMALIZED token stream (lowercased,
    whitespace-collapsed) — the form a tokenizer-fed pipeline
    consumes.

    Scale: one spans aggregate per doc (small), broadcast-friendly
    join back onto the corpus; the rewrite slices each document's own
    token array with pure Column expressions — no shuffle beyond the
    span machinery's."""
    spans = duplicate_substring_spans(df, text_col, id_col, span_tokens)
    return cut_spans_rewrite(df, spans, text_col, id_col)


def cut_spans_rewrite(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut the given (id, span_start, span_end, n_windows) token spans
    out of each document's NONEMPTY token stream and rejoin the
    remainder with single spaces — the shared rewrite tail of
    ``substring_dedup`` and ``decontaminate_rewrite``. Documents with
    no spans pass through (normalized). Offsets are token indexes into
    the nonempty token stream, end-exclusive."""
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("n_windows").cast("long").alias("n_dup_windows"),
        F.sum(F.col("span_end") - F.col("span_start"))
        .cast("long")
        .alias("dup_tokens"),
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans"),
    )
    empty_spans = (
        "CAST(array() AS ARRAY<STRUCT<span_start: BIGINT, span_end: BIGINT>>)"
    )
    kept_text = F.expr(
        "concat_ws(' ', transform(filter("
        "  transform(_toks, (t, i) -> struct(t AS t, CAST(i AS BIGINT) AS i)),"
        "  s -> NOT exists(_spans, sp -> s.i >= sp.span_start"
        "                                AND s.i < sp.span_end)"
        "), s -> s.t))"
    )
    return (
        df.select(
            F.col(id_col),
            F.coalesce(
                F.filter(tokens(text_col), lambda t: t != F.lit("")),
                F.expr("CAST(array() AS ARRAY<STRING>)"),
            ).alias("_toks"),
        )
        .join(per_doc, id_col, "left")
        .withColumn("_spans", F.coalesce(F.col("_spans"), F.expr(empty_spans)))
        .withColumn("n_tokens", F.size("_toks").cast("long"))
        .withColumn(
            "n_spans", F.coalesce(F.col("n_spans"), F.lit(0)).cast("long")
        )
        .withColumn(
            "n_dup_windows",
            F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long"),
        )
        .withColumn(
            "dup_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long"),
        )
        .withColumn(
            "dup_frac",
            F.when(
                F.col("n_tokens") > 0,
                F.col("dup_tokens").cast("double") / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("text_deduped", kept_text)
        .select(
            id_col, "n_tokens", "n_spans", "n_dup_windows", "dup_tokens",
            "dup_frac", "text_deduped",
        )
    )


DECON_SPAN_TOKENS = 8


def contamination_spans(
    df: DataFrame,
    eval_df: DataFrame,
    span_tokens: int = DECON_SPAN_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
) -> DataFrame:
    """Token spans of corpus documents that reproduce any
    ``span_tokens``-gram of the evaluation texts — the span-level
    complement of document-level decontamination
    (``ngram_overlap_contamination`` flags/drops whole documents;
    this locates the exact contaminated regions so they can be CUT,
    keeping the rest of the document in the training set).

    Mechanics: both sides hash every stride-1 window of
    ``span_tokens`` nonempty tokens with the portable window digest;
    corpus windows that match ANY eval window are flagged and merged
    into maximal [start, end) spans per document
    (``merge_flagged_windows``). Output one row per span:
      (id, span_id, span_start, span_end, n_windows)

    100 TB shape: the eval side reduces to a distinct digest set —
    benchmarks are small, so it BROADCASTS — and the corpus explode
    is the same linear-in-tokens window table every other pass here
    uses; the only shuffle is the per-document span merge over
    FLAGGED windows (normally a tiny fraction)."""
    first = eval_text_col or text_col
    grams = (
        eval_df.select(
            F.explode(
                hashed_windows_expr(first, int(span_tokens))
            ).alias("wdigest")
        )
        .distinct()
    )
    wins = df.select(
        F.col(id_col),
        F.posexplode(
            hashed_windows_expr(text_col, int(span_tokens))
        ).alias("pos", "wdigest"),
    )
    hits = wins.join(F.broadcast(grams), "wdigest").select(id_col, "pos")
    return merge_flagged_windows(hits, id_col, span_tokens)


def decontaminate_rewrite(
    df: DataFrame,
    eval_df: DataFrame,
    span_tokens: int = DECON_SPAN_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
) -> DataFrame:
    """Span-level benchmark decontamination with text rewrite: cut
    every contaminated span (see ``contamination_spans``) out of each
    document's nonempty token stream instead of dropping the whole
    document — the redact-don't-discard policy large pipelines apply
    when a crawl page merely QUOTES a benchmark item (dropping the
    page loses good tokens; keeping it verbatim leaks the answer key).

    Output, one row per input document:
      (id, n_tokens, n_spans, n_contam_windows, contam_tokens,
       contam_frac, text_clean)
    ``text_clean`` is over the NORMALIZED token stream (lowercased,
    whitespace-collapsed), the same convention as ``substring_dedup``;
    a fully-contaminated document comes back empty for the caller's
    length filter to drop."""
    spans = contamination_spans(
        df, eval_df, span_tokens, text_col, id_col, eval_text_col
    )
    return cut_spans_rewrite(df, spans, text_col, id_col).select(
        F.col(id_col),
        "n_tokens",
        "n_spans",
        F.col("n_dup_windows").alias("n_contam_windows"),
        F.col("dup_tokens").alias("contam_tokens"),
        F.col("dup_frac").alias("contam_frac"),
        F.col("text_deduped").alias("text_clean"),
    )


def multi_eval_contamination(
    corpus: DataFrame,
    eval_grams: DataFrame,
    id_col: str = "doc_id",
    sh_col: str = "sh",
    set_col: str = "eval_set",
) -> DataFrame:
    """Benchmark decontamination against MANY eval sets at once, with
    per-set attribution — the shape a release pipeline actually runs
    (dozens of benchmarks, and the audit needs to know WHICH one a
    document overlaps, not just that something matched).

    ``eval_grams`` is a two-column relation (set_col, gram): each eval
    set's distinct shingle hashes, the same hashes
    ``ngram_overlap_contamination`` probes. Output, one row per
    (document, eval set) WITH AT LEAST ONE HIT — contamination-bounded,
    not |corpus| x |sets|:
      (id, eval_set, n_shingles, n_eval_hits, contam_frac)
    Zero-hit documents are clean by absence; join back against the
    corpus id list when a dense verdict is needed (the single-set
    operator already provides that shape).

    100 TB shape: identical to the single-set probe — all eval sets
    TOGETHER are still orders of magnitude smaller than the corpus, so
    the (set, gram) relation broadcasts once and the corpus explodes
    its distinct shingles exactly once regardless of how many
    benchmarks are checked; per-(doc, set) hit counts partial-aggregate
    map-side. Running the single-set operator N times would pay N
    corpus passes for the same answer."""
    empty = "CAST(array() AS ARRAY<BIGINT>)"
    base = materialize(
        corpus.select(
            F.col(id_col),
            F.coalesce(F.array_distinct(F.col(sh_col)), F.expr(empty)).alias("_dsh"),
        ),
        "dedup.multi_contamination_shingles",
    )
    grams = eval_grams.select(
        F.col(set_col).alias("_set"),
        F.col(
            [c for c in eval_grams.columns if c != set_col][0]
        ).alias("g"),
    ).distinct()
    hits = (
        base.select(id_col, F.size("_dsh").alias("_n"), F.explode("_dsh").alias("g"))
        .join(F.broadcast(grams), "g")
        .groupBy(id_col, "_set")
        .agg(
            F.max("_n").cast("long").alias("n_shingles"),
            F.count(F.lit(1)).cast("long").alias("n_eval_hits"),
        )
    )
    return hits.select(
        F.col(id_col),
        F.col("_set").alias(set_col),
        "n_shingles",
        "n_eval_hits",
        F.when(
            F.col("n_shingles") > 0,
            F.col("n_eval_hits").cast("double") / F.col("n_shingles"),
        )
        .otherwise(F.lit(0.0))
        .alias("contam_frac"),
    )
