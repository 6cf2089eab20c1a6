"""Caller-attributed Spark-job trace for one catalog entry.

Runs a declared query under monkeypatched chokepoints (store writes,
commit seam operations, maintenance jobs) and prints, per call, the
Spark JOB COUNT delta (DAGScheduler.nextJobId — monotonic across all
driver threads) and wall clock, indented by call depth. Job counts are
drift-free: they tell you exactly which protocol step pays how many of
the entry's jobs, on any host, at any load.

With ``--all`` it runs every registered entry once instead, in name
order, each after ``clear_query_caches()`` and into the noop sink, and
prints each entry's job count, the eager materializations it paid
(``session.materialize`` calls with ``eager=True``, by label) and the
catalog total.

Spark runs on ``local[N]``, N the host's usable cores, with the console
progress bar off, so a report whose stdout and stderr share one file
keeps one entry per line.

Usage:
    python scripts/job_trace.py <entry_name> [sf_dir]
    python scripts/job_trace.py --all [sf_dir]
"""

from __future__ import annotations

import argparse
import functools
import inspect
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_SF_DIR = "/root/testdata/sf0.01"

_depth = 0
_events: list[tuple[int, str, int, float]] = []


def wrap(obj, name, label, njid):
    """Replace ``obj.name`` with a wrapper that records the call's depth,
    Spark job delta (``njid()`` before and after) and wall time under
    ``label``, or under ``label(*args, **kwargs)`` when it is callable.
    A static or class method is re-wrapped as one, so it is still called
    without (or with its class as) the first argument."""
    attr = inspect.getattr_static(obj, name, None)
    if attr is None:
        return
    fn = attr.__func__ if isinstance(attr, (staticmethod, classmethod)) else attr

    @functools.wraps(fn)
    def inner(*a, **kw):
        global _depth
        d = _depth
        _depth += 1
        j0, t0 = njid(), time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            _depth = d
            tag = label(*a, **kw) if callable(label) else label
            _events.append((d, tag, njid() - j0, time.perf_counter() - t0))

    if isinstance(attr, (staticmethod, classmethod)):
        inner = type(attr)(inner)
    setattr(obj, name, inner)


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _seam_label(df, label, eager=False) -> str:
    return f"materialize[{label}{', eager' if eager else ''}]"


def _wrap_seam(njid) -> None:
    """Wrap ``session.materialize`` in every package module that holds
    it, each call recorded under its own label (``_seam_label``). The
    call sites import the seam by name, so every module is imported
    first and its reference replaced."""
    import importlib
    import pkgutil

    import redis_lsm_timeseries_spark as pkg
    from redis_lsm_timeseries_spark import session

    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        importlib.import_module(info.name)
    seam = session.materialize
    for module in [m for n, m in sys.modules.items() if n.startswith(pkg.__name__ + ".")]:
        if getattr(module, "materialize", None) is seam:
            wrap(module, "materialize", _seam_label, njid)


def _install(spark) -> None:
    """Wrap every listed chokepoint. A listed name the code no longer
    defines raises ``AttributeError`` naming it, so a rename cannot
    silently drop its attribution; the commit classes wrap only the
    names each class defines itself."""
    njid = functools.partial(_next_job_id, spark)
    _wrap_seam(njid)

    def traced(obj, name, label):
        if inspect.getattr_static(obj, name, None) is None:
            raise AttributeError(f"job_trace: {obj.__name__}.{name} is gone")
        wrap(obj, name, label, njid)

    from redis_lsm_timeseries_spark import commit as C
    from redis_lsm_timeseries_spark import rollup as R
    from redis_lsm_timeseries_spark import store as S
    from redis_lsm_timeseries_spark import tiering as T
    from redis_lsm_timeseries_spark.operators import merge as M

    for name in (
        "write_df", "_collect_load", "_publish_l1_runs", "write", "flush_l0",
        "_fold_staged", "_fold_on_driver", "initialize", "_recover_staging",
        "_list_files", "_driver_members", "read_all",
    ):
        traced(S.TimeseriesStore, name, f"store.{name}")
    for name in (
        "purge_scan", "purge_ack_many", "compact", "compact_purge_log",
        "_vacuum_locked", "_append_log", "apply_retention", "_read_table",
        "_write_snapshots", "_coldest", "_partition_activity", "_log_states",
        "_evict", "_compact_batch", "_compact_on_tasks", "_publish_compacted",
    ):
        traced(T, name, f"tiering.{name}")
    for cls in (C.ParquetLeaseCommit, C.ManifestCommit):
        for name in (
            "append_rows", "append_partitioned", "overwrite_partitions",
            "snapshot_rewrite", "vacuum", "drop_partition_dir",
            "append_tables", "replace_tables", "_commit", "_stage_in",
            "_write_checkpoint", "rewrite_files", "stage_dv",
            "dv_positions", "scan_member_subset", "prune_files",
            "read_table", "driver_table_files",
        ):
            if name in cls.__dict__:
                wrap(cls, name, f"{cls.__name__}.{name}", njid)
    for name in (
        "merge_into", "delete_rows", "_resolve_source_counted",
        "_apply_dv_delete",
    ):
        traced(M, name, f"merge.{name}")
    # the refresh, its data steps and their I/O
    for name in (
        "refresh_rollup", "_refresh_locked", "read_rollup", "_new_members",
        "_seam_cold", "_bucket_stats", "_distinct_at", "_select", "_rewrite",
        "_batches", "_recompute", "_rollup_files", "_old_rows",
        "_stage", "_publish", "_aggregate_arrow", "_spark_select",
    ):
        traced(R, name, f"rollup.{name}")
    # the query plans import these BY NAME, so the module-level wraps
    # above don't intercept their calls — wrap the plan modules' own
    # references too (labels marked @plan)
    from redis_lsm_timeseries_spark.plans import lifecycle_queries as LQ

    for name in ("purge_scan", "purge_ack", "purge_ack_many", "compact"):
        if hasattr(LQ, name):
            wrap(LQ, name, f"{name}@plan", njid)


def _run(spark, spec, sf_dir) -> tuple[int, float]:
    """Run one entry into the noop sink; its Spark jobs and wall time."""
    j0, t0 = _next_job_id(spark), time.perf_counter()
    spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return _next_job_id(spark) - j0, time.perf_counter() - t0


def _trace_all(spark, sf_dir) -> None:
    from redis_lsm_timeseries_spark.plans import REGISTRY, clear_query_caches

    _wrap_seam(functools.partial(_next_job_id, spark))
    total = eager = 0
    for name in sorted(REGISTRY):
        clear_query_caches()
        _events.clear()
        jobs, wall = _run(spark, REGISTRY[name], sf_dir)
        total += jobs
        print(f"{name:<44} jobs={jobs:<3} wall={wall:.2f}s", flush=True)
        for _, label, n, _ in _events:
            if label.endswith(", eager]"):
                eager += n
                print(f"    {label:<40} jobs={n}")
    print(f"== {len(REGISTRY)} entries @ {sf_dir}: {total} jobs, "
          f"{eager} in eager materializations ==")


def _trace_one(spark, entry, sf_dir) -> None:
    from redis_lsm_timeseries_spark.plans import REGISTRY

    _install(spark)
    total_jobs, total_wall = _run(spark, REGISTRY[entry], sf_dir)
    # events were appended on EXIT (post-order); print in call order
    print(f"== {entry} @ {sf_dir}: {total_jobs} jobs, {total_wall:.2f}s ==")
    for d, lbl, jobs, wall in _events:
        print(f"{'  ' * d}{lbl:<44} jobs={jobs:<3} wall={wall:.2f}s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "args", nargs="*", metavar="entry [sf_dir]",
        help=f"entry to trace (omitted with --all), then the test data "
        f"directory (default {DEFAULT_SF_DIR})",
    )
    ap.add_argument(
        "--all", action="store_true",
        help="count every registered entry's jobs instead of tracing one",
    )
    args = ap.parse_args(argv)
    rest = args.args if args.all else args.args[1:]
    if len(rest) > 1 or not (args.all or args.args):
        ap.error("expected <entry> [sf_dir] or --all [sf_dir]")
    sf_dir = rest[0] if rest else DEFAULT_SF_DIR

    from redis_lsm_timeseries_spark.session import get_spark

    # read only when the context starts: no carriage-returned
    # "[Stage N: ...]" bar between the report's lines
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false " + (
        os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    )
    spark = get_spark("rlts-job-trace", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    if args.all:
        _trace_all(spark, sf_dir)
    else:
        _trace_one(spark, args.args[0], sf_dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
