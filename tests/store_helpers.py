"""Test doubles and fixture data shared by the store test modules: a
``StorageFilesystem`` that dies at its k-th mutating call (the
crash-point sweeps), and the ``layered`` store — rows spread over L1,
L0 and a crashed flush's staging dir, with ties, tombstones and tags
whose directory names Spark escapes."""

from __future__ import annotations

import os

from redis_lsm_timeseries_spark.config import EngineConfig
from redis_lsm_timeseries_spark.fs import StorageFilesystem
from redis_lsm_timeseries_spark.store import TimeseriesStore

WIDTH = 10
#: tags whose hive directory names need escaping, or hold a glob
#: character Spark leaves unescaped (``}``), a space, or non-ASCII text
TAGS = ["a:b", "c%d", "x=y", "p/q", "sp ace", "ü", "a}b", "plain"]


class Crash(BaseException):
    """A process dying mid-call: no ``except Exception`` cleanup runs."""


#: the ``StorageFilesystem`` calls that change storage
MUTATING = ("makedirs", "rename", "write_text", "remove_file", "remove_tree", "rmdir_if_empty")


class CrashAtCall(StorageFilesystem):
    """Records every mutating call; from the ``crash_at``-th on (1-based,
    0 = never), each raises ``Crash``: the process died, so nothing
    after that point lands, its own cleanup included."""

    def __init__(self, crash_at=0):
        self.crash_at = crash_at
        self.ops = []

    def _call(self, op, *args):
        self.ops.append(op)
        if self.crash_at and len(self.ops) >= self.crash_at:
            raise Crash(f"{op}{args}")
        return getattr(super(), op)(*args)

    def makedirs(self, path):
        self._call("makedirs", path)

    def rename(self, src, dst):
        self._call("rename", src, dst)

    def write_text(self, path, text):
        self._call("write_text", path, text)

    def remove_file(self, path):
        self._call("remove_file", path)

    def remove_tree(self, path):
        self._call("remove_tree", path)

    def rmdir_if_empty(self, path):
        return self._call("rmdir_if_empty", path)


def build_layered(spark, root, commit=None) -> TimeseriesStore:
    """Rows in L1 (bulk load and a flushed write), in L0, and in an
    uncommitted staging dir; duplicate keys split across the tiers,
    tombstones, negative ``ts``, and duplicate keys of tag ``tie``
    whose ``(ingest_ts, writer_id, seq)`` are equal, so the value
    decides (a tombstone lowest)."""
    s = TimeseriesStore(
        spark, EngineConfig(root=str(root), partition_width=WIDTH), commit=commit
    )
    s.initialize()
    base = [(t, ts, f"{t}@{ts}") for t in TAGS for ts in range(-35, 36, 7)]
    s.write_df(
        spark.createDataFrame(base, "tag string, ts long, value string"),
        ingest_ts=100,
    )
    # flushed into L1: overwrites one key per tag and adds new ones
    s.write([(t, ts, f"flushed {t}@{ts}") for t in TAGS for ts in (-35, 40)], ingest_ts=200)
    writer_id, s.writer_id = s.writer_id, "tie"
    s.write([("tie", 1, "b"), ("tie", 2, "a"), ("tie", 3, None), ("tie", 4, "a")], ingest_ts=600)
    s.flush_l0()
    # in L0 below: the same (ingest_ts, writer_id, seq) per key
    s.write([("tie", 1, "a"), ("tie", 2, None), ("tie", 3, "a"), ("tie", 4, "a")], ingest_ts=600)
    s.writer_id = writer_id
    # uncommitted staging: a flush that crashed after its L0 move
    s.write([(t, -28, f"staged {t}") for t in TAGS], ingest_ts=300)
    stage = f"{s.config.l0_staging_path}/crashed"
    os.makedirs(stage)
    for name in os.listdir(s.config.l0_path):
        os.rename(f"{s.config.l0_path}/{name}", f"{stage}/{name}")
    # L0: newer duplicates of L1 keys, and tombstones over L1 and L0 keys
    s.write([(t, -21, f"l0 {t}") for t in TAGS] + [(t, 41, "new") for t in TAGS], ingest_ts=400)
    s.write([(t, 0, None) for t in TAGS] + [(t, 41, None) for t in TAGS[:3]], ingest_ts=500)
    return s
