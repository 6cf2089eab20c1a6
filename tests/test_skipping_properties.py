"""Property fuzz of the two primitives the round-11 tier leans on:
data skipping must be a SUPERSET guard under arbitrary data and
predicates (a pruned file may never contain a matching row), and the
Morton key must equal its pure-Python reference everywhere."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from redis_lsm_timeseries_spark.commit import CommitHost, ManifestCommit

_vals = st.one_of(
    st.none(),
    st.integers(min_value=-50, max_value=50),
)
_rows = st.lists(
    st.tuples(_vals, st.one_of(st.none(), st.text("abc", max_size=2))),
    min_size=1,
    max_size=30,
)
_pred = st.one_of(
    st.tuples(
        st.just("range"),
        st.one_of(st.none(), st.integers(-60, 60)),
        st.one_of(st.none(), st.integers(-60, 60)),
    ),
    st.tuples(
        st.just("set"),
        st.sets(st.integers(-60, 60), min_size=0, max_size=5),
    ),
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(rows=_rows, pred=_pred, n_files=st.integers(1, 4))
def test_pruning_is_always_a_superset(
    spark, tmp_path_factory, rows, pred, n_files
):
    host, commit = CommitHost(spark), ManifestCommit()
    path = str(tmp_path_factory.mktemp("skip") / "t")
    df = spark.createDataFrame(rows, "k long, v string")
    commit.rewrite_files(
        host, path, [],
        lambda tmp: df.repartition(n_files)
        .write.mode("overwrite")
        .parquet(tmp),
    )
    if pred[0] == "range":
        bound = (pred[1], pred[2])
    else:
        bound = set(pred[1])
    kept, total = commit.prune_files(host, path, {"k": bound})

    def matches(k):
        if k is None:
            return False
        if isinstance(bound, set):
            return k in bound
        lo, hi = bound
        return (lo is None or k >= lo) and (hi is None or k <= hi)

    # None-safe sort key: hypothesis generates rows where equal keys
    # carry None AND '' values, and Python tuple sort cannot compare
    # those — harness concern, not engine semantics
    key = lambda t: (t[0], t[1] is not None, t[1] or "")  # noqa: E731
    want = sorted(
        ((k, v) for k, v in rows if matches(k)), key=key
    )
    got_df = commit.read_table_pruned(
        host, path, "k long, v string", predicates={"k": bound}
    )
    got = sorted(
        ((r.k, r.v) for r in got_df.collect() if matches(r.k)), key=key
    )
    assert got == want, (bound, kept, total)


_EPOCH = __import__("datetime").datetime(2024, 1, 1)


def _dt(hours):
    import datetime

    return _EPOCH + datetime.timedelta(hours=int(hours))


_ts_vals = st.one_of(
    st.none(), st.integers(-500, 500).map(_dt)
)
_ts_rows = st.lists(
    st.tuples(st.integers(0, 10**6), _ts_vals),
    min_size=1,
    max_size=30,
)
_ts_pred = st.one_of(
    st.tuples(
        st.just("range"),
        st.one_of(st.none(), st.integers(-600, 600).map(_dt)),
        st.one_of(st.none(), st.integers(-600, 600).map(_dt)),
    ),
    st.tuples(
        st.just("set"),
        st.sets(st.integers(-600, 600).map(_dt), max_size=5),
    ),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(rows=_ts_rows, pred=_ts_pred, n_files=st.integers(1, 4))
def test_timestamp_pruning_is_always_a_superset(
    spark, tmp_path_factory, rows, pred, n_files
):
    """r12: type-tagged timestamp stats obey the same superset law as
    numeric stats — a pruned file never held a matching row, NULLs and
    cross-file bands included."""
    host, commit = CommitHost(spark), ManifestCommit()
    path = str(tmp_path_factory.mktemp("tskip") / "t")
    schema = "k long, ev timestamp_ntz"
    df = spark.createDataFrame(rows, schema)
    commit.rewrite_files(
        host, path, [],
        lambda tmp: df.repartition(n_files)
        .write.mode("overwrite")
        .parquet(tmp),
    )
    if pred[0] == "range":
        bound = (pred[1], pred[2])
    else:
        bound = set(pred[1])
    kept, total = commit.prune_files(host, path, {"ev": bound})

    def matches(ev):
        if ev is None:
            return False
        if isinstance(bound, set):
            return ev in bound
        lo, hi = bound
        return (lo is None or ev >= lo) and (hi is None or ev <= hi)

    want = sorted((k, ev) for k, ev in rows if matches(ev))
    got_df = commit.read_table_pruned(
        host, path, schema, predicates={"ev": bound}
    )
    got = sorted(
        (r.k, r.ev) for r in got_df.collect() if matches(r.ev)
    )
    assert got == want, (bound, kept, total)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(
    xs=st.lists(
        st.tuples(st.integers(-1000, 1000), st.integers(-1000, 1000)),
        min_size=1,
        max_size=20,
    ),
    lo=st.integers(-1000, 0),
    hi=st.integers(1, 1000),
    bits=st.integers(2, 12),
)
def test_zorder_key_matches_reference_everywhere(
    spark, xs, lo, hi, bits
):
    from test_zorder import _py_morton

    from redis_lsm_timeseries_spark.operators.zorder import zorder_key

    b = {"x": (lo, hi), "y": (lo, hi)}
    df = spark.createDataFrame(xs, "x long, y long")
    got = df.select(
        "x", "y", zorder_key(["x", "y"], b, bits=bits).alias("z")
    ).collect()
    for r in got:
        assert r.z == _py_morton(
            {"x": r.x, "y": r.y}, b, bits, ["x", "y"]
        ), (r.x, r.y, lo, hi, bits)
