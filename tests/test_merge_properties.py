"""Model-based fuzz of row-level MERGE / DELETE: a random sequence of
upserts and deletes against a manifest table must equal the same
sequence applied to a plain Python dict — whatever file layout,
pruning, or rewrite path the engine picked along the way."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from redis_lsm_timeseries_spark.commit import CommitHost, ManifestCommit
from redis_lsm_timeseries_spark.operators.merge import (
    delete_rows,
    merge_into,
)

SCHEMA = "k long, v string"

# an op is ("merge", {k: v}) | ("del", [k])
_keys = st.integers(min_value=0, max_value=40)
_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("merge"),
            st.dictionaries(_keys, st.text("abc", max_size=3),
                            min_size=1, max_size=6),
        ),
        st.tuples(
            st.just("del"),
            st.lists(_keys, min_size=1, max_size=5),
        ),
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(ops=_ops)
def test_merge_delete_sequence_matches_dict_model(
    spark, tmp_path_factory, ops
):
    host, commit = CommitHost(spark), ManifestCommit()
    path = str(tmp_path_factory.mktemp("fuzz") / "t")
    seed = {k: f"s{k}" for k in range(0, 30, 3)}
    df = spark.createDataFrame(sorted(seed.items()), SCHEMA)
    commit.rewrite_files(
        host, path, [],
        lambda tmp: df.repartitionByRange(3, "k")
        .sortWithinPartitions("k")
        .write.mode("overwrite")
        .parquet(tmp),
    )
    model = dict(seed)
    for op in ops:
        if op[0] == "merge":
            upserts = op[1]
            src = spark.createDataFrame(
                sorted(upserts.items()), SCHEMA
            )
            merge_into(host, path, src, ["k"], commit=commit)
            model.update(upserts)
        elif op[0] == "del":
            ks = sorted(set(op[1]))
            delete_rows(
                host, path,
                spark.createDataFrame([(k,) for k in ks], "k long"),
                ["k"], commit=commit,
            )
            for k in ks:
                model.pop(k, None)
        got = {
            r.k: r.v
            for r in commit.read_table(host, path, SCHEMA).collect()
        }
        assert got == model, f"diverged after {op}"
