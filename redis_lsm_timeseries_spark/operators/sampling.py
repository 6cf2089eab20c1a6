"""Stratified sampling / data mixing (north star): compose a training
mix from weighted per-source samples of a document corpus.

Two paths, both DETERMINISTIC — sampling decisions derive from the
portable md5-based ``hash64`` of the row key, not an RNG, so:

- re-running the pipeline reproduces the identical sample (the
  property the reference gets from its ``u`` uniquifier — a write is
  identified by content, not by when the job ran; ``index.js:123``);
- a DuckDB oracle recomputes the exact member set, making the mix
  differentially testable (``sampleBy``'s per-partition RNG cannot be
  replayed outside Spark).

1. ``hash_mod_sample`` — the 100 TB path: keep a row iff
   ``hash64(key) % denom < rate(stratum)``. A pure map-side filter:
   no shuffle, no window, no state; scales to any corpus size and
   pushes straight down onto the scan.
2. ``hash_split`` — the same hash as a deterministic train/val/test
   split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from redis_lsm_timeseries_spark.functions.portable import hash64

DENOM = 1000


def sample_bucket(key_col: str, denom: int = DENOM) -> Column:
    """Deterministic per-row bucket in [0, denom): hash64 of the key
    rendered as a string (CAST to string matches DuckDB's VARCHAR cast
    digit-for-digit, so md5 inputs agree). hash64 is non-negative
    (60-bit), so plain ``%`` and ``pmod`` coincide."""
    return F.pmod(
        hash64(F.col(key_col).cast("string")), F.lit(denom)
    ).cast("long")


def hash_mod_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, int] | Column,
    key_col: str,
    denom: int = DENOM,
) -> DataFrame:
    """Per-stratum Bernoulli-style sampling with deterministic
    hash-mod decisions: keep rows whose bucket falls below the
    stratum's rate (out of ``denom``).

    ``rates`` is either a dict {stratum value -> rate} (missing strata
    drop: rate 0) or a Column computing the rate per row — e.g. a
    rate derived from the stratum name itself, or joined in from a
    mix-recipe dimension table.

    Adds ``mix_bucket`` (the row's bucket) and ``rate_per_mille``
    (the stratum's rate) for auditability; map-only, no shuffle."""
    if isinstance(rates, dict):
        rate: Column = F.lit(0)
        for stratum, r in sorted(rates.items()):
            rate = F.when(F.col(strata_col) == stratum, F.lit(int(r))).otherwise(
                rate
            )
    else:
        rate = rates
    return (
        df.withColumn("mix_bucket", sample_bucket(key_col, denom))
        .withColumn("rate_per_mille", rate.cast("long"))
        .where(F.col("mix_bucket") < F.col("rate_per_mille"))
    )


def hash_split(
    df: DataFrame,
    fractions: dict[str, int],
    key_col: str,
    denom: int = DENOM,
) -> DataFrame:
    """Deterministic train/val/test splitting: label each row with the
    split its hash bucket falls in. ``fractions`` maps split name ->
    width out of ``denom``, consumed in sorted-name order (so the
    bucket->split mapping is a pure function of the dict, not of call
    order); widths must sum to <= denom. Rows whose bucket falls past
    the last width (widths summing below ``denom``) belong to no
    split and are dropped — a deliberate holdout mechanism.

    The split is STABLE under corpus growth: a document's split
    depends only on its own key, never on the rest of the corpus — the
    property random permutation splits lack and the reason leakage
    audits can run months later. Map-only, no shuffle; same bucket
    function as ``hash_mod_sample`` so a row's sample and split
    decisions compose (bucket < rate AND bucket in split range)."""
    total = sum(int(w) for w in fractions.values())
    if total > denom:
        raise ValueError(f"fractions sum {total} exceeds denom {denom}")
    bucket = sample_bucket(key_col, denom)
    label: Column = F.lit(None).cast("string")
    lo = 0
    for name, width in sorted(fractions.items()):
        hi = lo + int(width)
        label = F.when(
            (bucket >= F.lit(lo)) & (bucket < F.lit(hi)), F.lit(name)
        ).otherwise(label)
        lo = hi
    return (
        df.withColumn("mix_bucket", bucket)
        .withColumn("split", label)
        .where(F.col("split").isNotNull())
    )
