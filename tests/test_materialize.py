"""``session.materialize``, the package's one materialization seam: a
local master takes ``localCheckpoint`` (lazily unless ``eager``), a
cluster takes a reliable ``checkpoint`` and is refused without
``spark.checkpoint.dir``, and no other module in the package calls a
checkpoint, ``persist`` or ``cache`` itself."""

from __future__ import annotations

import ast
import pathlib

import pytest

from redis_lsm_timeseries_spark import session
from redis_lsm_timeseries_spark.session import materialize

PACKAGE = pathlib.Path(session.__file__).parent
MATERIALIZING = {"localCheckpoint", "checkpoint", "persist", "cache"}


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _calls(spark, monkeypatch, name):
    """Record each ``<name>`` call's ``eager`` argument on the session's
    DataFrame class."""
    cls = type(spark.range(1))
    calls = []
    real = getattr(cls, name)

    def spy(self, eager=True):
        calls.append(eager)
        return real(self, eager) if name == "localCheckpoint" else self

    monkeypatch.setattr(cls, name, spy)
    return calls


def test_no_materialization_outside_the_seam():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        seam = {
            id(node)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and path.name == "session.py"
            and fn.name == "materialize"
            for node in ast.walk(fn)
        }
        found += [
            f"{path.relative_to(PACKAGE)}:{node.lineno} .{node.func.attr}("
            for node in ast.walk(tree)
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr in MATERIALIZING and id(node) not in seam
        ]
    assert found == [], "materialize through session.materialize instead"


@pytest.mark.parametrize("eager", [False, True], ids=["lazy", "eager"])
def test_local_master_takes_local_checkpoint(spark, monkeypatch, eager):
    assert session._deployment(spark)[0].startswith("local")
    calls = _calls(spark, monkeypatch, "localCheckpoint")
    reliable = _calls(spark, monkeypatch, "checkpoint")
    df = spark.range(5)
    j0 = _next_job_id(spark)
    out = materialize(df, "test.local", eager=eager) if eager else materialize(df, "test.local")
    assert (_next_job_id(spark) - j0 > 0) == eager
    assert (calls, reliable) == ([eager], [])
    assert sorted(r.id for r in out.collect()) == list(range(5))
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", "local-cluster[2,1,1024]"])
def test_cluster_without_checkpoint_dir_is_refused(spark, monkeypatch, master):
    monkeypatch.setattr(session, "_deployment", lambda s: (master, None))
    local = _calls(spark, monkeypatch, "localCheckpoint")
    reliable = _calls(spark, monkeypatch, "checkpoint")
    with pytest.raises(RuntimeError, match=r"materialize 'test\.cluster'.*spark\.checkpoint\.dir"):
        materialize(spark.range(3), "test.cluster")
    assert (local, reliable) == ([], [])


@pytest.mark.parametrize("eager", [False, True], ids=["lazy", "eager"])
def test_cluster_takes_reliable_checkpoint(spark, monkeypatch, eager):
    monkeypatch.setattr(session, "_deployment", lambda s: ("spark://host:7077", "/ckpt"))
    local = _calls(spark, monkeypatch, "localCheckpoint")
    reliable = _calls(spark, monkeypatch, "checkpoint")
    materialize(spark.range(3), "test.cluster", eager=eager)
    assert (local, reliable) == ([], [eager])
