"""``scripts/job_trace.py``: ``wrap`` keeps a wrapped method's kind: a
static method is still called without an instance, a class method with
its class, and an instance method with its instance, whether called
through the class or through an instance; and ``_install`` lists no
name the package no longer defines."""

from __future__ import annotations

import importlib.util
import os

import pytest

_SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "job_trace.py"
)


@pytest.fixture()
def job_trace():
    spec = importlib.util.spec_from_file_location("job_trace_under_test", _SCRIPT)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class _Toy:
    base = 10

    def __init__(self, n):
        self.n = n

    @staticmethod
    def double(x):
        return 2 * x

    @classmethod
    def shifted(cls, x):
        return cls.base + x

    def plus(self, x):
        return self.n + x


def test_wrap_keeps_static_class_and_instance_methods(job_trace):
    class Toy(_Toy):
        pass

    jobs = iter(range(100))
    for name in ("double", "shifted", "plus", "missing"):
        job_trace.wrap(Toy, name, f"toy.{name}", lambda: next(jobs))

    assert not hasattr(Toy, "missing")
    toy = Toy(1)
    assert (Toy.double(3), toy.double(3)) == (6, 6)
    assert (Toy.shifted(3), toy.shifted(3)) == (13, 13)
    assert (Toy.plus(toy, 3), toy.plus(3)) == (4, 4)
    # each call is recorded once, at depth 0, with the counter's delta
    assert [(d, label, n) for d, label, n, _ in job_trace._events] == [
        (0, f"toy.{name}", 1)
        for name in ("double", "double", "shifted", "shifted", "plus", "plus")
    ]
    # the wrapped attributes keep their kinds
    assert isinstance(Toy.__dict__["double"], staticmethod)
    assert isinstance(Toy.__dict__["shifted"], classmethod)
    assert Toy.double.__name__ == "double"


def test_install_names_only_live_chokepoints(job_trace, spark, monkeypatch):
    """Every name ``_install`` lists exists (a deleted or renamed
    function would otherwise drop out of the trace unnoticed), and a
    missing one raises with its name."""
    wrapped = []
    monkeypatch.setattr(job_trace, "wrap", lambda obj, name, label, njid: wrapped.append(label))
    job_trace._install(spark)
    assert {"tiering.purge_scan", "tiering._compact_batch", "store._list_files"} <= set(wrapped)

    from redis_lsm_timeseries_spark import tiering

    monkeypatch.delattr(tiering, "_evict")
    with pytest.raises(AttributeError, match=r"tiering\._evict is gone"):
        job_trace._install(spark)


def test_seam_is_traced_under_its_label(job_trace, spark, monkeypatch):
    """``_wrap_seam`` replaces ``session.materialize`` in every package
    module that imports it by name, and records each call under its
    own label, an eager one marked."""
    import importlib
    import pkgutil
    import sys

    import redis_lsm_timeseries_spark as pkg
    from redis_lsm_timeseries_spark import session

    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        importlib.import_module(info.name)
    seam = session.materialize
    holders = {
        name: module for name, module in sys.modules.items()
        if name.startswith(pkg.__name__ + ".") and getattr(module, "materialize", None) is seam
    }
    for module in holders.values():
        monkeypatch.setattr(module, "materialize", seam)  # restored after the test
    assert {
        "redis_lsm_timeseries_spark.session",
        "redis_lsm_timeseries_spark.operators.components",
        "redis_lsm_timeseries_spark.plans.llm_queries",
        "redis_lsm_timeseries_spark.plans.lifecycle_queries",
    } <= set(holders)

    jobs = iter(range(100))
    job_trace._wrap_seam(lambda: next(jobs))
    assert all(module.materialize is not seam for module in holders.values())
    components = holders["redis_lsm_timeseries_spark.operators.components"]
    out = components.materialize(spark.range(3), "test.traced", eager=True)
    holders["redis_lsm_timeseries_spark.plans.llm_queries"].materialize(out, "test.lazy")
    assert [(d, label, n) for d, label, n, _ in job_trace._events] == [
        (0, "materialize[test.traced, eager]", 1),
        (0, "materialize[test.lazy]", 1),
    ]
    assert sorted(r.id for r in out.collect()) == [0, 1, 2]


def test_trace_session_hides_the_console_progress_bar(job_trace, monkeypatch):
    """The trace session starts with ``spark.ui.showConsoleProgress``
    off (a setting read only when the context starts), ahead of any
    submit arguments already set, so a report whose stdout and stderr
    share one file keeps one entry per line."""
    import os

    from redis_lsm_timeseries_spark import session

    class Started(Exception):
        pass

    def fake_get_spark(*args, **kwargs):
        raise Started(os.environ["PYSPARK_SUBMIT_ARGS"])

    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--driver-memory 1g pyspark-shell")
    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    with pytest.raises(Started) as started:
        job_trace.main(["--all"])
    assert str(started.value) == (
        "--conf spark.ui.showConsoleProgress=false --driver-memory 1g pyspark-shell"
    )
