"""Model-based fuzz of deletion-vector mutation: random interleavings
of appends, keyed deletes (dv / rewrite / auto), merges
(both physical modes), compaction and vacuum — after EVERY op the
table must equal a plain dict model and ``fast_count`` must stay
exact (metadata-only, DV counts subtracted). The dict model is the
semantics; the physical strategy must be invisible to it."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from redis_lsm_timeseries_spark.commit import CommitHost, ManifestCommit
from redis_lsm_timeseries_spark.maintenance import (
    compact_small_files,
    fast_count,
)
from redis_lsm_timeseries_spark.operators.merge import (
    delete_rows,
    merge_into,
    replace_range,
)

SCHEMA = "k long, v long"


@pytest.mark.parametrize("seed", [11, 42])
def test_dv_mutation_tracks_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    host, commit = CommitHost(spark), ManifestCommit()
    path = str(tmp_path / f"t{seed}")
    model: dict[int, int] = {}
    next_key = 0

    def mk(rows, schema=SCHEMA):
        return spark.createDataFrame(rows, schema).coalesce(1)

    def do_append():
        nonlocal next_key
        rows = []
        for _ in range(rng.randint(2, 6)):
            k = next_key
            next_key += 1
            rows.append((k, k * 10))
            model[k] = k * 10
        commit.append_tables(host, path, {"": mk(rows)})

    def do_delete():
        if not model:
            return
        mode = rng.choice(["dv", "rewrite", "auto"])
        keys = rng.sample(
            sorted(model), k=min(len(model), rng.randint(1, 3))
        )
        # mix in an absent key: idempotence under every mode
        keys.append(next_key + 1000)
        delete_rows(
            host, path, mk([(k,) for k in keys], "k long"), ["k"],
            commit=commit, mode=mode,
        )
        for k in keys:
            model.pop(k, None)

    def do_merge():
        nonlocal next_key
        mode = rng.choice(["dv", "rewrite", "auto"])
        rows = []
        for k in rng.sample(
            sorted(model), k=min(len(model), rng.randint(0, 2))
        ):
            rows.append((k, model[k] + 1))
        k = next_key
        next_key += 1
        rows.append((k, k * 10))
        merge_into(
            host, path, mk(rows), ["k"], commit=commit, mode=mode
        )
        for k, v in rows:
            model[k] = v

    def do_replace():
        if not model:
            return
        lo = rng.choice(sorted(model))
        hi = lo + rng.randint(0, 6)
        new_rows = [
            (k, k * 100)
            for k in range(lo, hi + 1)
            if rng.random() < 0.5
        ]
        replace_range(
            host, path, mk(new_rows) if new_rows else mk([]), "k",
            lo=lo, hi=hi, commit=commit,
        )
        for k in [k for k in model if lo <= k <= hi]:
            del model[k]
        for k, v in new_rows:
            model[k] = v

    def do_compact():
        compact_small_files(
            host, path, target_rows=1_000, min_group=1, commit=commit
        )

    def do_vacuum():
        root, _ = commit._resolve(host, path)
        commit.vacuum(host, root, retain_versions=3, grace_s=0)

    do_append()
    ops = [do_append, do_delete, do_delete,
           do_merge, do_merge, do_replace, do_compact, do_vacuum]
    for i in range(18):
        op = rng.choice(ops)
        op()
        got = {
            r.k: r.v
            for r in commit.read_table(
                host, path, SCHEMA
            ).collect()
        }
        assert got == model, (
            f"seed {seed} step {i} ({op.__name__}): engine diverged "
            f"(+{sorted(set(got) - set(model))[:5]} "
            f"-{sorted(set(model) - set(got))[:5]})"
        )
        assert fast_count(host, path, commit=commit) == len(model), (
            f"seed {seed} step {i}: fast_count drifted"
        )
