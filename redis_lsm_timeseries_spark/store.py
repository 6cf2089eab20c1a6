"""TimeseriesStore — the engine core (reference operators O1-O7).

Reproduces the ``SortedStore`` lifecycle (``index.js:20-359``) on
partitioned Parquet:

- ``initialize``  namespace EPOCH + table paths (O1, ``index.js:46-62``)
- ``write``       validated, partition-assigned LSM append (O2/O3,
                  ``index.js:64-147``) — appends only, never updates
- ``read_index``  partition pruning metadata query, newest-first (O4,
                  ``index.js:157-231``)
- ``read_page``   single-partition scan + residual range filter (O5,
                  ``index.js:233-266``)
- ``read_range``  the canonical composed read: prune + scan + LWW merge
                  (O6/O7, ``index.js:278-288`` +
                  ``test/consumer-test.js:1135-1162``)

Physical layout — a two-level LSM:

- L1 ``{root}/{settings-hash}/hot``: Parquet partitioned by
  ``(tag, part_start)`` — Catalyst's directory-level partition pruning
  performs the same metadata-only page selection as the reference's
  per-tag index ZSET, with no index table to maintain. Where the
  reference fetches a whole partition and filters client-side
  (``index.js:262-263``), the Parquet scan gets the residual ``ts``
  predicate pushed to row-group min/max — strictly better (SURVEY.md
  §4 P9). Bulk loads (``write_df``) land here directly: a bounded
  one is collected to the driver and written by ``flush_l0``'s run
  writer, one file per ``(tag, part_start)``; a larger one, or one of
  unknown size, is a Spark write clustered by ``repartition``.
- L0 ``{root}/{settings-hash}/hot_l0``: flat Parquet segments, ONE
  file per row-batch ``write()``, written on the driver with pyarrow
  and published by rename, so a ``write()`` starts no Spark job. The
  memtable-flush analog of the reference's append-first LSM posture
  (``recipe:19-20``); ``flush_l0`` (called by ack/compact
  maintenance) folds segments into L1, also on the driver with
  pyarrow — one file per ``(tag, part_start)`` per flush, no Spark
  job.

Reads union both tiers. Range reads (``read_range``, ``read_index``,
``read_page``) plan over only the requested tags' partition
directories, listed on the driver (``hot_pruned``), so a ``write()``
costs the next read no re-listing of L1. A ``read_range`` (with or
without the cold tier) or ``read_all`` (likewise) whose candidate
files are small (``MAX_DRIVER_READ_BYTES``) is answered on the driver
with pyarrow and starts no Spark job; every other read is a Spark
plan. ``hot()`` caches the table handle per store instance (mutators
invalidate), so repeated full Spark reads skip the file listing.

Every listing of the hot tier runs in the order rows move between its
parts — L0, then the uncommitted staging dirs, then L1 — so a
``flush_l0`` running beside a read cannot move a row out of a part the
read has yet to list into one it has listed already.
"""

from __future__ import annotations

import json
import time
import uuid
from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from redis_lsm_timeseries_spark.config import (
    MAX_DRIVER_READ_BYTES,
    MAX_PAGE_NAME_LENGTH,
    MAX_SAMPLES_PER_WRITE,
    MAX_TAG_NAME_LENGTH,
    MAX_TAGS_PER_READ,
    PARTITION_COLS,
    VERSION,
    EngineConfig,
)
from redis_lsm_timeseries_spark.fs import LOCAL_FS, StorageFilesystem
from redis_lsm_timeseries_spark.errors import (
    BatchTooLargeError,
    InvalidRangeError,
    KeyTooLongError,
    NotInitializedError,
    SinkManagedHotTierError,
    TooManyTagsError,
    ValidationError,
)
from redis_lsm_timeseries_spark.operators.lww import lww_latest, lww_latest_arrow
from redis_lsm_timeseries_spark.schema import (
    MEMBER_IDENTITY_COLS,
    SAMPLE_SCHEMA,
)
from redis_lsm_timeseries_spark.session import local_frame

#: ``read_range``'s result schema, the same on both of its paths (a
#: Parquet scan reads every column as nullable)
RANGE_RESULT_SCHEMA = T.StructType(
    [
        T.StructField(f.name, f.dataType, True)
        for f in SAMPLE_SCHEMA.fields
        if f.name in ("tag", "ts", "value")
    ]
)

#: the columns a partition file of the hot or cold tier stores; ``tag``
#: and ``part_start`` are its hive directory names
DATA_COLS = [f.name for f in SAMPLE_SCHEMA.fields if f.name not in PARTITION_COLS]

#: times ``read_range`` re-plans a driver-side read whose listed files
#: a concurrent flush moved before they were read
_DRIVER_READ_ATTEMPTS = 5


def _visible(names) -> list[str]:
    """The data entries of a directory listing: Spark and the engine
    skip ``_``- and ``.``-prefixed names (markers, sidecars, in-flight
    temp files)."""
    return sorted(n for n in names if not n.startswith(("_", ".")))


def tag_dir(root: str, tag: str) -> str:
    """The hive directory of ``tag`` under ``root``, named with Spark's
    own escaping (a tag ``a:b`` lives in ``tag=a%3Ab``)."""
    from redis_lsm_timeseries_spark.commit import ManifestCommit

    return f"{root}/tag={ManifestCommit._escape_partition_value(tag)}"


def partition_dir(root: str, tag: str, part_start: int) -> str:
    """The hive directory of one ``(tag, part_start)`` partition under
    ``root`` (``tag_dir``'s escaping)."""
    return f"{tag_dir(root, tag)}/part_start={part_start}"


def partition_key(part_dir: str) -> tuple[str, int]:
    """The ``(tag, part_start)`` that the hive directory ``part_dir``
    (``partition_dir``'s form) names."""
    from redis_lsm_timeseries_spark.commit import ManifestCommit

    tag_name, part_name = part_dir.rsplit("/", 2)[1:]
    return (
        ManifestCommit._unescape_partition(tag_name.partition("=")[2]),
        int(part_name.partition("=")[2]),
    )


@dataclass(frozen=True)
class PartitionFilter:
    """The partitions a driver-side read takes: those of ``tags``
    (every tag when None) that ``keep(tag, part_start)`` accepts."""

    tags: frozenset | None
    keep: Callable[[str, int], bool]

    @classmethod
    def of(cls, partitions) -> PartitionFilter:
        """``partitions`` in any of its forms: a ``PartitionFilter``; a
        ``_range_file_predicates`` mapping (each requested tag's
        partitions inside the inclusive ``part_start`` bounds); a set
        of ``(tag, part_start)`` pairs; None (every partition)."""
        if partitions is None:
            return cls(None, lambda tag, part_start: True)
        if isinstance(partitions, PartitionFilter):
            return partitions
        if isinstance(partitions, Mapping):
            lo, hi = partitions["part_start"]
            return cls(frozenset(partitions["tag"]), lambda tag, part_start: lo <= part_start <= hi)
        return cls(
            frozenset(tag for tag, _ in partitions),
            lambda tag, part_start: (tag, part_start) in partitions,
        )


def footer_max(path: str, column: str = "ingest_ts") -> tuple[int, object]:
    """``(rows, max(column))`` of the Parquet file ``path`` from its
    footer: the column statistics of every row group, or a read of the
    one column when a row group has none (None for an empty file)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    if meta.num_rows == 0:
        return 0, None
    col = meta.schema.names.index(column)
    stats = [meta.row_group(i).column(col).statistics for i in range(meta.num_row_groups)]
    if all(s is not None and s.has_min_max for s in stats):
        return meta.num_rows, max(s.max for s in stats)
    return meta.num_rows, pc.max(pq.read_table(path, columns=[column])[column]).as_py()


@dataclass(frozen=True)
class DriverFiles:
    """Data files as a driver-side read lists them, in row-movement
    order: the L0 and uncommitted staging segments, then the L1
    partition files, then any cold snapshot files. ``partitions[i]`` is
    the ``(tag, part_start)`` a partition file's directory names give
    it, and None for a segment, whose rows carry both columns."""

    paths: list[str]
    partitions: list[tuple[str, int] | None]

    def l1(self) -> dict[tuple[str, int], list[str]]:
        """The L1 files of each listed partition, for a hot-only
        listing."""
        out: dict[tuple[str, int], list[str]] = {}
        for path, key in zip(self.paths, self.partitions):
            if key is not None:
                out.setdefault(key, []).append(path)
        return out

    def read(self, filter=None):
        """The raw members of these files as an Arrow table of
        ``SAMPLE_SCHEMA``'s columns, ``filter`` pushed down; an L1 file
        takes ``tag`` and ``part_start`` from its directory names."""
        return read_members(self.paths, self.partitions, filter)

    def batches(self, keys) -> list[set[tuple[str, int]]]:
        """The partitions ``keys`` in batches whose listed L1 files
        total at most ``MAX_DRIVER_READ_BYTES`` (``size_batches``), in
        partition order. Raises ``FileNotFoundError`` when a listed
        file is gone."""
        sizes = dict.fromkeys(sorted(keys), 0)
        for key, size in zip(self.partitions, _file_sizes(self.paths)):
            if key in sizes:
                sizes[key] += size
        return [set(batch) for batch in size_batches(sizes)]

    def since(self, w: int | None) -> tuple[DriverFiles, int | None]:
        """``(files, last)``: these files whose footer
        ``max(ingest_ts)`` (``footer_max``) is at or past ``w`` (every
        file holding rows when None), with no byte cap, and the largest
        of those maxes (None when no file is kept)."""
        kept, last = [], None
        for i, path in enumerate(self.paths):
            top = footer_max(path)[1]
            if top is not None and (w is None or top >= w):
                kept.append(i)
                last = top if last is None else max(last, top)
        return DriverFiles([self.paths[i] for i in kept], [self.partitions[i] for i in kept]), last


def size_batches(sizes: dict) -> list[list]:
    """The keys of ``sizes`` (``{key: bytes}``), in its order, in
    batches whose sizes total at most ``MAX_DRIVER_READ_BYTES``; a key
    over the cap is a batch of its own."""
    out, nbytes = [], 0
    for key, size in sizes.items():
        if not out or nbytes + size > MAX_DRIVER_READ_BYTES:
            out.append([])
            nbytes = 0
        out[-1].append(key)
        nbytes += size
    return out


def driver_read_bytes(paths: list[str]) -> int | None:
    """The total size of the local files ``paths``, or None when it is
    over ``MAX_DRIVER_READ_BYTES``: the rule for what a driver-side
    read (``read_range``'s, and the maintenance steps') may take on.
    Raises ``FileNotFoundError`` when one of them is gone."""
    nbytes = sum(_file_sizes(paths))
    return None if nbytes > MAX_DRIVER_READ_BYTES else nbytes


def _file_sizes(paths: list[str]) -> list[int]:
    """The sizes of the local files ``paths``. Raises
    ``FileNotFoundError`` when one of them is gone."""
    from pyarrow import fs as pafs

    infos = pafs.LocalFileSystem().get_file_info(paths)
    if any(i.type == pafs.FileType.NotFound for i in infos):
        raise FileNotFoundError("a listed file moved")
    return [i.size for i in infos]


def read_members(paths: list[str], partitions: list, filter=None, columns=None):
    """Read ``SAMPLE_SCHEMA`` rows (``columns`` of them, or all) from
    local Parquet files with pyarrow (``member_dataset``)."""
    return member_dataset(paths, partitions).to_table(columns=columns, filter=filter)


def member_dataset(paths: list[str], partitions: list):
    """The local Parquet files ``paths`` as a pyarrow dataset of
    ``SAMPLE_SCHEMA``'s columns. ``partitions[i]`` is the
    ``(tag, part_start)`` that file ``i`` holds but does not store (a
    hive partition file), or None when the file stores both columns."""
    import pyarrow.dataset as ds
    from pyarrow import fs as pafs

    from redis_lsm_timeseries_spark.commit import _driver_arrow_schema

    exprs = [
        ds.scalar(True)
        if key is None
        else (ds.field("tag") == key[0]) & (ds.field("part_start") == key[1])
        for key in partitions
    ]
    return ds.FileSystemDataset.from_paths(
        paths, schema=_driver_arrow_schema(SAMPLE_SCHEMA),
        format=ds.ParquetFileFormat(), filesystem=pafs.LocalFileSystem(),
        partitions=exprs,
    )


@dataclass(frozen=True)
class WriteMetrics:
    """Returned by ``write``. The reference returns Redis ``used_memory``
    as a back-pressure hint (``index.js:91-93``); rows/partitions are the
    meaningful analog for a columnar store (SURVEY.md §2.2.8)."""

    rows_written: int
    partitions_touched: int


def _now_ms() -> int:
    return int(time.time() * 1000)


class TimeseriesStore:
    """Partitioned LSM-style time-series store on Parquet."""

    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig,
        fs: StorageFilesystem | None = None,
        commit=None,
    ):
        self.spark = spark
        self.config = config
        # Every side-channel metadata operation (existence probes, meta
        # JSON, L0 segment moves, partition drops) routes through this
        # seam — see fs.py for what a non-local deployment implements.
        self.fs = fs if fs is not None else LOCAL_FS
        # Atomic-commit seam for the maintenance jobs (lease, dynamic
        # partition overwrite, snapshot swap) — see commit.py for the
        # Delta/Iceberg drop-in mapping.
        if commit is None:
            from redis_lsm_timeseries_spark.commit import DEFAULT_COMMIT

            commit = DEFAULT_COMMIT
        # The hot tier is always a plain directory layout. A version log
        # at its root was left by the retired manifest-managed hot tier,
        # whose superseded files a directory scan would read as live:
        # refuse to open it rather than switch modes silently.
        from redis_lsm_timeseries_spark.commit import LOG_DIR

        if self.fs.is_dir(f"{config.hot_path}/{LOG_DIR}"):
            raise ValidationError(
                f"{config.hot_path}/{LOG_DIR} exists: this hot tier was "
                "written by the retired manifest-managed hot tier. Read "
                "its rows with ManifestCommit.read_table and load them "
                "into a store at a new root with write_df"
            )
        self.commit = commit
        self._epoch: int | None = None
        # Instance id: the reference derives a shortid per store instance
        # (index.js:58) used in the member uniquifier.
        self.writer_id = uuid.uuid4().hex[:8]
        # In-process hot-table handle cache: re-listing the partitioned
        # table is the dominant cost of a full-table read (range reads
        # list only their own partitions, see hot_pruned). Every mutator
        # in this module and tiering.py invalidates it explicitly, and
        # the cache self-validates against a layout mtime token (hot
        # root, its _spark_metadata streaming-commit dir, L0 root), so
        # any Spark writer — including an external streaming sink on
        # hot_path — is picked up on the next read, as is another store
        # instance's flush_l0 (it replaces hot/_SUCCESS). Residual
        # caveat: any other tool dropping a bare file into an EXISTING
        # partition subdirectory bumps none of the watched mtimes; call
        # invalidate_hot_cache() after such writes.
        self._hot_cache: tuple[tuple, DataFrame] | None = None
        # In-process lease primitives, created EAGERLY so the first
        # concurrent maintenance_lock acquisitions never race a lazy
        # check-then-set (commit.py keeps a module-lock fallback for
        # hosts that skip this).
        import threading

        self._lease_tls = threading.local()
        self._lease_plock = threading.Lock()

    def _shuffle_partitions(self) -> int:
        """The session's current ``spark.sql.shuffle.partitions``,
        capped at defaultParallelism — the explicit task count for
        clustering shuffles that must not be AQE-coalesced to one task
        (partitioned writes serialize their directory IO in a single
        task otherwise). A ``pinned_shuffle_partitions`` context or
        any other pin is respected only up to the cap: it can lower
        the count below the core count, never raise it (r18, ADVICE
        r17: an UNPINNED session still carrying the vanilla conf
        default, 200, must not shuffle a hot append into 200 tiny
        tasks/files). Since bounded ``write_df`` loads run on the
        driver, the appends it sizes are those over
        ``MAX_DRIVER_READ_BYTES`` or of unknown size (an RDD-backed
        input). A conf value that is not an integer falls back to
        defaultParallelism."""
        par = max(1, int(self.spark.sparkContext.defaultParallelism))
        try:
            return min(
                int(self.spark.conf.get("spark.sql.shuffle.partitions")), par
            )
        except ValueError:
            return par

    def invalidate_hot_cache(self) -> None:
        """Drop the cached hot-table handle so the next read re-lists
        the table. Called by every in-module mutator; call it manually
        after writing hot/L0 files outside the Spark writer paths."""
        self._hot_cache = None

    def _require_l1_batch_writable(self) -> None:
        """Refuse batch mutation of an L1 layout owned by a streaming
        file sink. When ``start_hot_ingest``'s parquet sink has written
        ``_spark_metadata`` under the hot root, Spark's batch reads of
        that directory list files from the SINK's commit log — a file
        appended by any other writer is committed-but-invisible
        (verified: a plain append after a sink batch reads back zero
        rows), and a compaction rewrite would physically delete
        log-referenced files. So in file-sink mode the sink is the
        exclusive L1 committer; ``write()`` is still fine (L0 is a
        separate directory, unioned by ``hot()``), and the
        maintenance-compatible streaming mode is
        ``start_hot_ingest_with_maintenance`` (foreachBatch ->
        ``write_df``), which leaves no sink log."""
        if self.fs.exists(f"{self.config.hot_path}/_spark_metadata"):
            raise SinkManagedHotTierError(
                f"{self.config.hot_path} is managed by a streaming "
                "file sink (_spark_metadata present): batch L1 writes "
                "would be invisible to readers and rewrites would "
                "orphan the sink's commit log. Stop the sink and "
                "migrate, or use start_hot_ingest_with_maintenance."
            )

    def _layout_token(self) -> tuple:
        """Cheap staleness token for the hot layout.

        Per watched root (hot table root, its _spark_metadata
        streaming-commit dir, L0, L0 staging): the directory mtime PLUS
        a hash of the directory listing — mtime alone is only as fine
        as filesystem timestamp granularity, so a write landing within
        the same tick as the cached token would be served stale. The
        listing hash catches any add/remove of a top-level entry
        (partition dir, L0 segment, streaming commit file) regardless
        of timestamp resolution.

        Appends into an EXISTING partition subdirectory change neither
        the root mtime nor its listing; those are caught by the
        _SUCCESS marker's (mtime, inode) — FileOutputCommitter recreates
        it on every batch job, and ``flush_l0``'s driver-side fold
        replaces it by rename after every fold, so the inode changes
        even when mtime granularity doesn't. CAVEAT: committers
        configured with
        ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false``
        never rewrite _SUCCESS; external batch appends into existing
        partition dirs then go undetected — call
        ``invalidate_hot_cache()`` after such writes (or keep the
        marker enabled, the default)."""
        token = []
        for path in (
            self.config.hot_path,
            f"{self.config.hot_path}/_spark_metadata",
            self.config.l0_path,
            self.config.l0_staging_path,
        ):
            sig = self.fs.stat_signature(path)
            if sig is None:
                token.append(None)
            else:
                try:
                    listing = hash(tuple(sorted(self.fs.listdir(path))))
                except OSError:
                    listing = None
                token.append((sig[0], listing))
        token.append(self.fs.stat_signature(f"{self.config.hot_path}/_SUCCESS"))
        return tuple(token)

    # ------------------------------------------------------------------ O1
    def initialize(self) -> int:
        """Create or load the namespace EPOCH (reference ``SET NX`` then
        ``GET``, ``index.js:50-52``). The epoch made Redis float64 scores
        small (``recipe:7-10``); int64 columns don't need it, but we keep
        it as the namespace creation stamp so multiple store instances
        agree the namespace exists."""
        self.fs.makedirs(self.config.base_path)
        meta_path = self.config.meta_path
        if self.fs.exists(meta_path):
            meta = json.loads(self.fs.read_text(meta_path))
            if not isinstance(meta.get("epoch"), int):
                raise ValidationError(f"corrupted engine meta at {meta_path}")
        else:
            meta = {"epoch": _now_ms(), "version": VERSION}
            self.fs.write_text(meta_path, json.dumps(meta))
        self._epoch = meta["epoch"]
        return self._epoch

    def _require_init(self) -> None:
        if self._epoch is None:
            raise NotInitializedError(
                "store not initialized; call initialize() first"
            )

    # -------------------------------------------------------------- O2/O3
    def write(
        self,
        key_value_pairs: Mapping[str, Mapping[int, str]] | Iterable[tuple],
        ingest_ts: int | None = None,
    ) -> WriteMetrics:
        """Validated LSM append (reference ``write`` +
        ``_validateTransformParameters``, ``index.js:64-147``).

        Accepts the reference's map-of-maps shape
        ``{tag: {sort_key: value}}`` or an iterable of
        ``(tag, ts, value)`` tuples (tuple order = batch order, which
        matters for intra-batch last-entry-wins, SURVEY.md §2.2.3).

        Appends only — duplicates of existing (tag, ts) keys become new
        members resolved at read time by LWW, exactly the reference's
        LSM posture (``recipe:19-20``).

        The batch (at most ``MAX_SAMPLES_PER_WRITE`` rows) lands as one
        L0 segment written on the driver with pyarrow, with no Spark
        job. It is written under a hidden temp name and renamed into
        place (``commit._driver_parquet_append``), so a reader or a
        concurrent ``flush_l0`` sees the whole segment or none of it.
        """
        self._require_init()
        rows = self._validate_batch(key_value_pairs)
        if ingest_ts is None:
            ingest_ts = _now_ms()

        w = self.config.partition_width
        # Intra-batch duplicate sort keys collapse to the LAST batch entry
        # before storage — the reference gets this from JS Map insertion
        # semantics (index.js:107, test/consumer-test.js:746-752). `seq`
        # is the batch position, so max-seq == last entry.
        collapsed: dict[tuple, tuple] = {}
        for seq, (tag, ts, value) in enumerate(rows):
            collapsed[(tag, ts)] = (tag, ts, value, ingest_ts, self.writer_id, seq)
        data = [
            (tag, ts, value, its, wid, seq, ts - (ts % w))
            for (tag, ts, value, its, wid, seq) in collapsed.values()
        ]
        # Row-batch writes land in the L0 staging tier as ONE flat file
        # per batch (LSM memtable flush): a 2,000-row batch spread over
        # 200 tags touches 200+ partition directories, and writing the
        # partitioned layout per batch costs >1 s in file/commit
        # overhead alone (measured; it is why the reference's LSM
        # appends first and sorts later, recipe:19-20). flush_l0/compact
        # fold the segments into the partitioned layout.
        from redis_lsm_timeseries_spark.commit import (
            _driver_arrow_table,
            _driver_parquet_append,
        )

        _driver_parquet_append(
            self.fs, _driver_arrow_table(data, SAMPLE_SCHEMA), self.config.l0_path
        )
        self.invalidate_hot_cache()
        partitions = len({(t, ps) for (t, _, _, _, _, _, ps) in data})
        return WriteMetrics(rows_written=len(data), partitions_touched=partitions)

    def write_df(
        self,
        df: DataFrame,
        ingest_ts: int | None = None,
        cluster_by_partition: bool = True,
    ) -> None:
        """Bulk ingest path for DataFrame-shaped input (columns
        ``tag, ts, value`` at minimum; ``ingest_ts/writer_id/seq`` kept
        if present). No batch-size cap — the 2,000-sample cap is client
        admission control (``index.js:12``), meaningless for a
        distributed bulk load. Validation is the schema shape plus the
        reference's two keys: a null or empty ``tag``, or a null
        ``ts``, fails the load with nothing written (``index.js:102-119``).

        A bounded load lands on the driver: when the projected plan's
        Catalyst size estimate (no job) is at most
        ``MAX_DRIVER_READ_BYTES`` and its column types are
        ``SAMPLE_SCHEMA``'s, the projection is collected once (a local
        relation by ``collect()``, with no job; any other plan by
        ``toArrow()``) and published through the L1 run writer that
        ``flush_l0`` uses (``_publish_l1_runs``): one file per
        ``(tag, part_start)`` run, so ``cluster_by_partition`` has
        nothing to do. An input over the estimate, or of unknown size
        (an RDD-backed ``createDataFrame(list)`` reports none), is a
        Spark write.

        On the Spark write, ``cluster_by_partition`` (default) shuffles
        rows onto their (tag, part_start) key before the partitioned
        write, so each partition directory gets ONE file per batch
        instead of one per input task — without it a 32-task batch over
        P partitions emits up to 32*P small files, and small-file
        explosion is what kills partitioned stores at scale. Disable for
        pre-clustered input.

        Multi-writer posture: the append, on either path, runs under the
        maintenance lease. A direct L1 append racing a compaction/retention
        partition overwrite is the one lost-update window the hot
        tier has (the overwrite's committer replaces
        the partition's contents, wiping an append that landed after
        the rewrite's scan) — serializing bulk loads against
        maintenance closes it, at the cost of
        ``ConcurrentMaintenanceError`` under contention (retry, or
        schedule bulk loads off the maintenance window). A load longer
        than the lease TTL is covered by the lock's heartbeat (the
        holder re-extends expires_ms while alive, so a crashed load
        still frees the namespace within one TTL); if the lease is
        stolen anyway, the lock's exit raises rather than succeeding
        silently. The chatty ``write()`` path needs no lease: it lands
        in L0, which maintenance folds via the rename protocol, never
        overwrites."""
        self._require_init()
        self._require_l1_batch_writable()
        cols = set(df.columns)
        if not {"tag", "ts", "value"} <= cols:
            raise ValidationError("write_df needs columns tag, ts, value")
        if ingest_ts is None:
            ingest_ts = _now_ms()
        if "ingest_ts" not in cols:
            df = df.withColumn("ingest_ts", F.lit(ingest_ts).cast("long"))
        if "writer_id" not in cols:
            df = df.withColumn("writer_id", F.lit(self.writer_id))
        if "seq" not in cols:
            df = df.withColumn(
                "seq", F.monotonically_increasing_id().cast("long")
            )
        part_start = (
            F.col("ts") - F.pmod(F.col("ts"), F.lit(self.config.partition_width))
        ).cast("long")
        out = df.withColumn("part_start", part_start).select(
            *[f.name for f in SAMPLE_SCHEMA.fields]
        )
        if self._loads_on_driver(out):
            with self.commit.maintenance_lock(self):
                self._publish_l1_runs([self._collect_load(out)])
                self.invalidate_hot_cache()
            return
        # The key guard rides in the partition column, which every row
        # of the write evaluates: a bad key fails the write job before
        # its commit, and starts no job of its own.
        out = out.withColumn(
            "part_start",
            F.when(
                F.col("tag").isNull()
                | (F.length("tag") == 0)
                | F.col("ts").isNull(),
                F.raise_error(
                    F.lit("write_df: every row needs a non-empty tag and a non-null ts")
                ),
            ).otherwise(part_start),
        )
        if cluster_by_partition:
            # Explicit partition count: with the count left implicit,
            # AQE coalesces a small clustering shuffle into ONE task
            # that then writes every partition directory serially.
            # Sized from the SESSION's shuffle-partition conf, not
            # defaultParallelism (r17): a caller that pinned the conf
            # to its data (the temp-store lifecycle jobs, guide §2.2)
            # gets that many write tasks instead of one per core, and
            # a production session sized to cluster cores behaves as
            # before.
            out = out.repartition(
                self._shuffle_partitions(), "tag", "part_start"
            )
        with self.commit.maintenance_lock(self):
            (
                out.write.mode("append")
                .partitionBy(*PARTITION_COLS)
                .parquet(self.config.hot_path)
            )
            self.invalidate_hot_cache()

    def _loads_on_driver(self, out: DataFrame) -> bool:
        """Whether ``write_df`` lands the projected load ``out`` on the
        driver: its optimized plan's size estimate, which Catalyst
        computes without a job, is within ``read_range``'s rule, and its
        column types are ``SAMPLE_SCHEMA``'s, which the driver writer
        reproduces exactly."""
        size = int(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        return size <= MAX_DRIVER_READ_BYTES and [
            f.dataType for f in out.schema.fields
        ] == [f.dataType for f in SAMPLE_SCHEMA.fields]

    def _collect_load(self, out: DataFrame):
        """The projected load ``out`` as one Arrow table, collected once
        and typed as the driver writer writes it. Raises
        ``ValidationError``, with nothing written, on a null or empty
        ``tag`` or a null ``ts``."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from redis_lsm_timeseries_spark.commit import _driver_arrow_schema

        schema = _driver_arrow_schema(SAMPLE_SCHEMA)
        if out._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == "LocalRelation":
            # the rows are on the driver already: collect() takes them
            # with no job, where toArrow() starts one
            rows = out.collect()
            table = pa.table({
                f.name: pa.array([r[i] for r in rows], f.type) for i, f in enumerate(schema)
            })
        else:
            table = out.toArrow()
        tags = table["tag"]
        if tags.null_count or table["ts"].null_count or pc.any(
            pc.equal(pc.utf8_length(tags), 0)
        ).as_py():
            raise ValidationError(
                "write_df: every row needs a non-empty tag and a non-null ts"
            )
        return table.cast(schema)

    def flush_l0(self) -> bool:
        """Fold the L0 staging segments into the partitioned L1 layout
        (the LSM memtable -> sorted-run flush). Returns True if
        anything was folded or recovered.

        Idempotent under crashes via a staged two-phase fold:

        1. every L0 segment is MOVED (atomic local rename) into a fresh
           ``hot_l0_staging/<id>/`` dir — new ``write()`` batches
           landing mid-flush are untouched. Entries starting with ``_``
           or ``.`` are left in place: ``.<name>.inprogress`` is a
           concurrent ``write()``'s IN-FLIGHT segment (moving it would
           strand that batch's rows in staging, where ``_fold_staged``
           skips hidden names, and then delete them with the staging
           dir — a silent data loss + failed write); ``_SUCCESS``/
           ``.crc`` are inert markers/sidecars of older layouts;
        2. the staged segments are appended to L1 on the driver
           (``_fold_on_driver``): they are read with pyarrow in chunks
           of at most ``MAX_DRIVER_READ_BYTES``, sorted by
           (tag, part_start, ts), and each (tag, part_start) run is
           published by rename as one file in its partition directory,
           so the flush starts no Spark job;
        3. a ``_COMMITTED`` marker is written in the staging dir, then
           the dir is removed.

        Recovery (run first on every flush): a leftover staging dir
        WITHOUT the marker crashed before its L1 append — fold it now
        (its rows stayed readable throughout: ``hot()`` unions
        uncommitted staging dirs); one WITH the marker crashed after
        the append — its rows are already in L1, just delete it. The
        only re-append window left is the marker write itself (one
        local file create), vs. the previous design's whole
        many-file L0 tree removal; LWW hides any duplicates from that
        residual window and ``compact`` removes them physically.

        Runs under the maintenance lease (reentrant when ``compact``
        already holds it): the fold's L1 append must not race a
        concurrent partition overwrite — see ``write_df``'s posture
        note. A no-op flush (nothing staged, no segments) returns
        without touching the lease.
        """
        self._require_init()
        staging = self.config.l0_staging_path
        pending_staging = self.fs.exists(staging) and any(
            self.fs.is_dir(f"{staging}/{n}")
            for n in self.fs.listdir(staging)
        )
        pending_l0 = self.fs.exists(self.config.l0_path) and bool(
            _visible(self.fs.listdir(self.config.l0_path))
        )
        if not (pending_staging or pending_l0):
            return False
        self._require_l1_batch_writable()
        with self.commit.maintenance_lock(self):
            return self._flush_l0_locked()

    def _flush_l0_locked(self) -> bool:
        did = self._recover_staging()
        if not self.fs.exists(self.config.l0_path):
            return did
        entries = _visible(self.fs.listdir(self.config.l0_path))
        if not entries:
            return did
        stage_dir = f"{self.config.l0_staging_path}/{uuid.uuid4().hex[:12]}"
        self.fs.makedirs(stage_dir)
        for name in entries:
            self.fs.rename(f"{self.config.l0_path}/{name}", f"{stage_dir}/{name}")
            # A moved segment's checksum sidecar travels with it; left
            # behind it would be an orphan that pins the L0 dir forever.
            crc = f".{name}.crc"
            if self.fs.exists(f"{self.config.l0_path}/{crc}"):
                self.fs.rename(
                    f"{self.config.l0_path}/{crc}", f"{stage_dir}/{crc}"
                )
        # The _SUCCESS marker (and its sidecar) describe batches that
        # were ALL just moved out — inert now, and they'd block the
        # rmdir below. L0 writes are driver-side and never create the
        # marker, so this removal only tidies legacy layouts. An
        # in-flight write's .inprogress temp file is never touched: it
        # keeps the dir alive, as it must.
        for marker in ("_SUCCESS", "._SUCCESS.crc"):
            if self.fs.exists(f"{self.config.l0_path}/{marker}"):
                self.fs.remove_file(f"{self.config.l0_path}/{marker}")
        # if-empty (not recursive): refuses if a new batch landed a
        # segment mid-flush — that batch stays for the next flush.
        self.fs.rmdir_if_empty(self.config.l0_path)
        self.invalidate_hot_cache()
        self._fold_staged(stage_dir)
        return True

    def _fold_staged(self, stage_dir: str) -> None:
        """Phase 2+3 of ``flush_l0``: append one staging dir's segments
        to L1, mark committed, remove. Every reader skips the
        ``_``-prefixed marker and ``.``-prefixed temp files and
        sidecars, so re-reading a staging dir is safe. The append runs
        on the driver (``_fold_on_driver``)."""
        segments = _visible(self.fs.listdir(stage_dir))
        if segments:
            self._fold_on_driver(stage_dir, segments)
        self.fs.write_text(f"{stage_dir}/_COMMITTED", "")
        self.fs.remove_tree(stage_dir)
        self.invalidate_hot_cache()

    def _fold_on_driver(self, stage_dir: str, segments: list[str]) -> None:
        """Append staged L0 segments to L1 with pyarrow, starting no
        Spark job. The segments are read in chunks of at most
        ``MAX_DRIVER_READ_BYTES`` Parquet bytes (one segment over the
        cap is a chunk of its own), and each chunk is published by the
        L1 run writer (``_publish_l1_runs``)."""
        import pyarrow.dataset as ds
        from pyarrow import fs as pafs

        from redis_lsm_timeseries_spark.commit import _driver_arrow_schema

        schema = _driver_arrow_schema(SAMPLE_SCHEMA)
        local = pafs.LocalFileSystem()
        paths = [f"{stage_dir}/{n}" for n in segments]
        chunks, size = [[]], 0
        for info in local.get_file_info(paths):
            if chunks[-1] and size + info.size > MAX_DRIVER_READ_BYTES:
                chunks.append([])
                size = 0
            chunks[-1].append(info.path)
            size += info.size
        self._publish_l1_runs(
            ds.dataset(chunk, schema=schema, format="parquet", filesystem=local).to_table()
            for chunk in chunks
        )

    def _publish_l1_runs(self, tables: Iterable) -> None:
        """The driver-side L1 writer of ``flush_l0`` and ``write_df``:
        each Arrow table of ``SAMPLE_SCHEMA``'s columns is sorted by
        ``(tag, part_start, ts)``, and each ``(tag, part_start)`` run
        written as one file of the non-partition columns into its hive
        directory, named with Spark's escaping. Files are published by
        rename (``commit._driver_parquet_append``), so a reader sees a
        run whole or not at all.

        Then, if any row was written, ``_SUCCESS`` at the L1 root is
        replaced (``_mark_l1_changed``)."""
        import itertools

        from redis_lsm_timeseries_spark.commit import _driver_parquet_append

        written = 0
        for table in tables:
            table = table.sort_by(
                [("tag", "ascending"), ("part_start", "ascending"), ("ts", "ascending")]
            )
            keys = zip(table["tag"].to_pylist(), table["part_start"].to_pylist())
            offset = 0
            for (tag, part_start), run in itertools.groupby(keys):
                n = sum(1 for _ in run)
                _driver_parquet_append(
                    self.fs,
                    table.slice(offset, n).select(DATA_COLS),
                    partition_dir(self.config.hot_path, tag, part_start),
                )
                offset += n
            written += offset
        if written:
            self._mark_l1_changed()

    def _mark_l1_changed(self) -> None:
        """Replace ``_SUCCESS`` at the L1 root with a new file, written
        under a hidden name and renamed into place. A driver-side
        writer calls it after changing files inside existing partition
        directories: ``_layout_token`` watches the marker's inode,
        which is how other store instances' cached ``hot()`` handles
        see the change."""
        hot = self.config.hot_path
        self.fs.write_text(f"{hot}/._SUCCESS.inprogress", "")
        self.fs.rename(f"{hot}/._SUCCESS.inprogress", f"{hot}/_SUCCESS")

    def _recover_staging(self) -> bool:
        """Fold or garbage-collect staging dirs a crashed flush left
        behind (see ``flush_l0``). Returns True if anything was done."""
        root = self.config.l0_staging_path
        if not self.fs.exists(root):
            return False
        did = False
        for name in sorted(self.fs.listdir(root)):
            stage_dir = f"{root}/{name}"
            if not self.fs.is_dir(stage_dir):
                continue
            did = True
            if self.fs.exists(f"{stage_dir}/_COMMITTED"):
                # Crashed after the L1 append: rows are in L1 already.
                self.fs.remove_tree(stage_dir)
                self.invalidate_hot_cache()
            else:
                self._fold_staged(stage_dir)
        return did

    def _validate_batch(self, key_value_pairs) -> list[tuple]:
        """Reference admission control (``index.js:102-119``)."""
        if key_value_pairs is None:
            raise ValidationError("input batch is required")
        if isinstance(key_value_pairs, Mapping):
            # Validate the per-tag shape BEFORE iterating .items() — a
            # non-mapping series must raise ValidationError, not
            # AttributeError.
            for tag, series in key_value_pairs.items():
                if not isinstance(series, Mapping):
                    raise ValidationError(
                        f"value for tag {tag!r} must be a mapping of ts -> value"
                    )
            rows = [
                (tag, ts, value)
                for tag, series in key_value_pairs.items()
                for ts, value in series.items()
            ]
        else:
            try:
                rows = [(t, ts, v) for (t, ts, v) in key_value_pairs]
            except (TypeError, ValueError) as exc:
                raise ValidationError(
                    "batch must be {tag: {ts: value}} or iterable of (tag, ts, value)"
                ) from exc
        if not rows:
            raise ValidationError("empty batch")
        if len(rows) > MAX_SAMPLES_PER_WRITE:
            raise BatchTooLargeError(
                f"batch of {len(rows)} exceeds cap "
                f"{MAX_SAMPLES_PER_WRITE} (reference index.js:12)"
            )
        out = []
        for tag, ts, value in rows:
            if not isinstance(tag, str) or not tag:
                raise ValidationError(f"tag must be a non-empty string, got {tag!r}")
            if len(tag) > MAX_TAG_NAME_LENGTH:
                raise KeyTooLongError(
                    f"tag longer than {MAX_TAG_NAME_LENGTH} chars"
                )
            if isinstance(ts, bool) or not isinstance(ts, int):
                # The reference coerces to BigInt and rejects floats
                # (index.js:120, test/consumer-test.js:734).
                raise InvalidRangeError(f"sort key must be an integer, got {ts!r}")
            out.append((tag, int(ts), None if value is None else str(value)))
        return out

    # ------------------------------------------------------------------ hot
    def hot(self) -> DataFrame:
        """The hot table as a DataFrame: the partitioned L1 layout
        unioned with any unflushed L0 row-batch segments (both carry
        the full sample schema, L0 with ``part_start`` as a data
        column). A never-written store reads as empty (no path exists
        yet); any OTHER failure — corrupt files, permissions —
        propagates instead of masquerading as an empty store. (The
        existence check routes through the injected
        ``StorageFilesystem`` — see fs.py; a lakehouse deployment
        replaces it with a catalog lookup.)

        The returned handle is cached on the instance — repeated reads
        skip the per-query file listing — and every mutator
        invalidates it (see ``invalidate_hot_cache``)."""
        self._require_init()
        token = self._layout_token()
        if self._hot_cache is not None and self._hot_cache[0] == token:
            return self._hot_cache[1]
        field_names = [f.name for f in SAMPLE_SCHEMA.fields]
        # L0 before L1: see _unflushed_dirs
        l0_tiers = self._l0_tiers(field_names)
        tiers = []
        if self.fs.exists(self.config.hot_path):
            tiers.append(
                self.spark.read.schema(SAMPLE_SCHEMA)
                .parquet(self.config.hot_path)
                .select(*field_names)
            )
        df = self._union(tiers + l0_tiers)
        self._hot_cache = (token, df)
        return df

    def _union(self, tiers: list[DataFrame]) -> DataFrame:
        """``tiers`` unioned in order; no tiers read as an empty store."""
        if not tiers:
            return self.spark.createDataFrame([], SAMPLE_SCHEMA)
        df = tiers[0]
        for t in tiers[1:]:
            df = df.unionByName(t)
        return df

    def _unflushed_dirs(self):
        """Yield ``(dir, data file names)`` for each directory holding
        unflushed rows: the L0 root, then every UNCOMMITTED staging dir
        (a flush crashed — or is running — between the L0 move and the
        L1 append; those rows live only in staging, so reads must
        include them). COMMITTED dirs are already in L1 and skipped
        (including them would double-read).

        The order is the order rows move: L0 -> staging -> L1. A reader
        that takes each directory before the generator lists the next,
        and lists L1 last, sees every row at least once however a
        concurrent ``flush_l0`` moves it (a row caught in two places is
        the same member twice, which LWW collapses). A directory that
        vanishes before it is listed was emptied into the next one."""

        def candidates():
            if self.fs.exists(self.config.l0_path):
                yield self.config.l0_path
            staging = self.config.l0_staging_path
            if not self.fs.exists(staging):
                return
            for name in sorted(self.fs.listdir(staging)):
                stage_dir = f"{staging}/{name}"
                if self.fs.is_dir(stage_dir) and not self.fs.exists(
                    f"{stage_dir}/_COMMITTED"
                ):
                    yield stage_dir

        for d in candidates():
            try:
                names = _visible(self.fs.listdir(d))
            except FileNotFoundError:
                continue
            if names:
                yield d, names

    def _l0_tiers(self, field_names) -> list[DataFrame]:
        """One scan per ``_unflushed_dirs`` directory, each created —
        and so listed by Spark — before the next directory is probed."""
        return [
            self.spark.read.schema(SAMPLE_SCHEMA)
            .parquet(d)
            .select(*field_names)
            for d, _names in self._unflushed_dirs()
        ]

    def hot_pruned(self, predicates: Mapping | None) -> DataFrame:
        """``hot()`` planned over only what ``predicates`` (same shape
        as ``ManifestCommit.prune_files``, with a ``tag`` set and
        ``part_start`` bounds) can touch, so a narrow range read stops
        listing the world at plan time. Superset guard: callers keep
        their row predicates.

        The L1 scan plans over the ``tag=``/``part_start=`` directories
        of the requested tags (``_hot_partition_dirs``), listed on the
        driver. A ``write()`` changes only L0, so the read after it
        lists no L1 directory it does not need. A sink-managed L1
        (``_spark_metadata``) reads the full, cached ``hot()``.

        The L0 tiers are listed first and unioned after L1, as in
        ``hot()``. Not cached — the pruned plan is query-specific."""
        self._require_init()
        if not predicates:
            return self.hot()
        field_names = [f.name for f in SAMPLE_SCHEMA.fields]
        l0_tiers = self._l0_tiers(field_names)
        dirs = self._hot_partition_dirs(predicates)
        if dirs is None:
            return self.hot()
        tiers = []
        if dirs:
            tiers.append(
                self.spark.read.schema(SAMPLE_SCHEMA)
                .option("basePath", self.config.hot_path)
                .parquet(*dirs)
                .select(*field_names)
            )
        return self._union(tiers + l0_tiers)

    def _hot_partition_dirs(self, partitions) -> list[str] | None:
        """The L1 partition directories that ``partitions`` (any
        ``PartitionFilter.of`` form) selects, listed through ``self.fs``.
        A requested tag's directory is named with Spark's own escaping
        (``tag_dir``). None means "read the full ``hot()``": a
        streaming file sink owns L1, and its ``_spark_metadata`` log,
        not its directories, defines what is committed."""
        from redis_lsm_timeseries_spark.commit import ManifestCommit

        hot = self.config.hot_path
        if self.fs.exists(f"{hot}/_spark_metadata"):
            return None
        selection = PartitionFilter.of(partitions)
        if selection.tags is None:
            names = _visible(self.fs.listdir(hot)) if self.fs.exists(hot) else []
            tags = [
                ManifestCommit._unescape_partition(n[len("tag="):])
                for n in names
                if n.startswith("tag=")
            ]
        else:
            tags = sorted(selection.tags)
        dirs = []
        for tag in tags:
            tag_path = tag_dir(hot, tag)
            if not self.fs.exists(tag_path):
                continue
            for name in sorted(self.fs.listdir(tag_path)):
                key, _, value = name.partition("=")
                if key != "part_start":
                    continue
                try:
                    part_start = int(value)
                except ValueError:
                    # the hive NULL sentinel: no range matches NULL
                    continue
                if selection.keep(tag, part_start):
                    dirs.append(f"{tag_path}/{name}")
        return dirs

    def cold(self, predicates: Mapping | None = None) -> DataFrame:
        """The cold tier. ``predicates`` ({col: (lo, hi)} inclusive
        bounds) enables manifest-stats data skipping on transactional
        backends: at 100 TB the cold tier holds every snapshot ever
        evicted, and a range read should PLAN over only the files
        whose (tag, part_start) stats overlap the request — file
        pruning from the log entry, before any storage IO. Pruning is
        a superset guard; callers apply the real row filter as
        always (directory backends return the full snapshot)."""
        self._require_init()
        # Seam-routed snapshot read: the commit backend resolves what
        # is visible (directory scan vs manifest file list); a
        # never-written or retention-emptied table reads as empty.
        from redis_lsm_timeseries_spark.schema import COLD_SNAPSHOT_SCHEMA

        df = self.commit.read_table_pruned(
            self,
            self.config.cold_path,
            COLD_SNAPSHOT_SCHEMA,
            predicates=dict(predicates) if predicates else None,
        )
        return df.select(*[f.name for f in SAMPLE_SCHEMA.fields])

    # ------------------------------------------------------------------ O4
    def read_index(self, ranges: Mapping[str, tuple] | Mapping[str, Mapping]) -> DataFrame:
        """Partition-pruning metadata query (reference ``readIndex``,
        ``index.js:157-231``): which (tag, part_start) partitions overlap
        each requested range, **newest-first** with ascending
        ``sort_weight`` (``test/consumer-test.js:345-384``).

        Only the range start is floored to a partition boundary; the end
        is not (``index.js:176-186``, SURVEY.md §2.2.2) — reproduced by
        the ``part_start >= floor(start)`` / ``part_start <= end`` pair.

        Reads only the partition columns, so the scan materializes no
        column data — the Spark analog of the ZRANGEBYSCORE index lookup.
        """
        self._require_init()
        parsed = self._validate_ranges(ranges)
        pred = self._prune_predicate(parsed)
        from pyspark.sql.window import Window

        meta = (
            self.hot_pruned(self._range_file_predicates(parsed))
            .select("tag", "part_start")
            .where(pred)
            .distinct()
        )
        w = Window.partitionBy("tag").orderBy(F.col("part_start").desc())
        return (
            meta.withColumn("sort_weight", F.row_number().over(w))
            .orderBy("tag", F.col("part_start").desc())
        )

    # ------------------------------------------------------------------ O5
    def read_page(self, page_name: str, start: int, end: int) -> DataFrame:
        """Single-partition scan + residual range filter (reference
        ``readPage``, ``index.js:233-266``). The reference fetches the
        whole ZSET then filters client-side; here the residual ``ts``
        predicate is pushed into the Parquet scan (SURVEY.md §4 P9).

        ``page_name`` is ``{tag}-{part_start}`` (``index.js:121-122``);
        parsed from the right so tags containing ``-`` work
        (``index.js:268-276``)."""
        self._require_init()
        if not isinstance(page_name, str) or len(page_name) > MAX_PAGE_NAME_LENGTH:
            raise KeyTooLongError(
                f"page name must be a string of <= {MAX_PAGE_NAME_LENGTH} chars"
            )
        tag, _, part = page_name.rpartition("-")
        if not tag or not part.lstrip("+").isdigit():
            raise ValidationError(f"malformed page name {page_name!r}")
        self._check_range_bounds(tag, start, end)
        part_start = int(part)
        return (
            self.hot_pruned(
                {
                    "tag": {tag},
                    "part_start": (part_start, part_start),
                    "ts": (int(start), int(end)),
                }
            )
            .where(
                (F.col("tag") == tag)
                & (F.col("part_start") == part_start)
                & F.col("ts").between(int(start), int(end))
            )
            .select("tag", "ts", "value", "ingest_ts", "writer_id", "seq")
        )

    # -------------------------------------------------------------- O6/O7
    def read_range(
        self,
        ranges: Mapping[str, tuple],
        include_cold: bool = False,
        with_tombstones: bool = False,
    ) -> DataFrame:
        """The canonical composed read (reference ``readData``,
        ``test/consumer-test.js:1135-1162``): prune partitions, scan,
        apply the residual range predicate, then last-write-wins merge.

        One declarative plan — Catalyst turns it into partition-pruned
        parallel scans (the reference's page fan-out) and the LWW merge
        is a partially-aggregated ``max_by`` (operators/lww.py).

        ``include_cold=True`` unions the cold tier; exact duplicates (the
        same member snapshotted to cold but not yet acked out of hot) are
        dropped by identity before LWW, mirroring mark-then-ack
        at-least-once semantics (SURVEY.md §2.2.6).

        Deletes: the reference sketches tombstones but never implements
        them (``recipe:22-23``). We define value ``NULL`` as a tombstone:
        it participates in LWW (a newer NULL beats an older value) and is
        filtered from results unless ``with_tombstones``.

        A small read — no streaming sink log, candidate files
        totalling at most ``MAX_DRIVER_READ_BYTES`` and, with
        ``include_cold``, a cold tier the backend keeps as plain files
        (``TableCommit.driver_table_files``) — is computed on the
        driver instead (``_read_range_on_driver``) and returned as a
        ``session.local_frame`` holding the result's Arrow table:
        its ``collect()`` answers on the driver with no JVM call,
        ``toPandas()`` and ``toArrow()`` with no Spark job, and any
        other use builds the JVM local relation once. Both paths
        return the same rows under the same schema
        (``RANGE_RESULT_SCHEMA``). A driver-path result is a snapshot
        taken at call time; the Spark path freezes its file list at
        plan time, also inside this call.
        """
        self._require_init()
        parsed = self._validate_ranges(ranges)
        out = self._read_range_on_driver(parsed, with_tombstones, include_cold)
        if out is not None:
            return out
        pred = self._prune_predicate(parsed)
        residual = self._residual_predicate(parsed)

        df = self.hot_pruned(self._range_file_predicates(parsed))
        if include_cold:
            df = df.unionByName(
                self.cold(predicates=self._range_file_predicates(parsed))
            ).dropDuplicates(MEMBER_IDENTITY_COLS)
        out = lww_latest(df.where(pred & residual))
        if not with_tombstones:
            out = out.where(F.col("value").isNotNull())
        return out.select("tag", "ts", "value")

    def _read_range_on_driver(
        self, parsed: list[tuple], with_tombstones: bool, include_cold: bool
    ) -> DataFrame | None:
        """``read_range`` computed with pyarrow, or None when the
        request needs the Spark plan: the requested members
        (``_driver_members``, with the ``tag``/``ts``/``part_start``
        predicate pushed down), merged by ``lww_latest_arrow``."""
        import pyarrow.dataset as ds

        w = self.config.partition_width
        predicate = ds.scalar(False)
        for tag, start, end in parsed:
            predicate = predicate | (
                (ds.field("tag") == tag)
                & (ds.field("ts") >= start)
                & (ds.field("ts") <= end)
                & (ds.field("part_start") >= start - (start % w))
                & (ds.field("part_start") <= end)
            )
        got = self._driver_members(
            self._range_file_predicates(parsed), predicate, cold=include_cold
        )
        return None if got is None else self._driver_result(got[1], with_tombstones)

    def _driver_result(self, members, with_tombstones: bool) -> DataFrame:
        """The LWW winners of the Arrow table ``members`` as a
        ``local_frame`` of ``RANGE_RESULT_SCHEMA``, tombstones dropped
        unless ``with_tombstones``. Exact duplicates (a member snapshotted to
        cold and not yet acked out of hot) are equal in every column,
        so ``lww_latest_arrow`` picks the same winner with or without
        them, as the Spark path's identity dedup before ``lww_latest``
        does."""
        out = lww_latest_arrow(members)
        if not with_tombstones:
            out = out.filter(out["value"].is_valid())
        return local_frame(self.spark, out, RANGE_RESULT_SCHEMA)

    def _list_files(
        self, partitions, unflushed: bool = True, cold: bool | list[str] = False
    ) -> DriverFiles | None:
        """List the files that hold ``partitions``' members (any
        ``PartitionFilter.of`` form) for a driver-side reader, or None
        when their listing is not the table's content: a sink-managed
        L1, or a cold tier the backend does not keep as plain files
        (``TableCommit.driver_table_files``).

        The listing runs in row-movement order: L0 and the uncommitted
        staging dirs first (see ``_unflushed_dirs``), unless
        ``unflushed`` is False, then the L1 partition directories, then,
        with ``cold``, the cold snapshot files, whose ``purge_id=/tag=/
        part_start=`` directory names key them. A purge snapshots a
        partition into cold before its ack removes it from hot, so a
        member moving during the listing is listed at least once.
        ``cold=True`` lists the snapshots here, after hot; a caller
        holding the maintenance lease, under which no snapshot moves,
        may pass the list of them it already made instead. Raises
        ``FileNotFoundError`` when a listed directory is gone before
        the listing ends (a concurrent flush or drop moved it)."""
        selection = PartitionFilter.of(partitions)
        paths, keys = [], []
        if unflushed:
            for d, names in self._unflushed_dirs():
                paths += [f"{d}/{n}" for n in names]
                keys += [None] * len(names)
        dirs = self._hot_partition_dirs(selection)
        if dirs is None:
            return None
        for d in dirs:
            names = _visible(self.fs.listdir(d))
            paths += [f"{d}/{n}" for n in names]
            keys += [partition_key(d)] * len(names)
        if cold is True:
            cold = self.commit.driver_table_files(self, self.config.cold_path)
            if cold is None:
                return None
        for path in cold or []:
            key = partition_key(path.rsplit("/", 1)[0])
            if (selection.tags is None or key[0] in selection.tags) and selection.keep(*key):
                paths.append(path)
                keys.append(key)
        return DriverFiles(paths, keys)

    def _driver_files(
        self,
        partitions,
        unflushed: bool = True,
        cold: bool | list[str] = False,
    ) -> DriverFiles | None:
        """``_list_files``, or None also when the listed files total
        more than ``MAX_DRIVER_READ_BYTES``: the read needs Spark.
        Raises ``FileNotFoundError`` when a listed directory or file is
        gone before the listing ends (a concurrent flush or drop moved
        it)."""
        files = self._list_files(partitions, unflushed, cold)
        if files is None or driver_read_bytes(files.paths) is None:
            return None
        return files

    def _driver_members(
        self, partitions, filter=None, unflushed: bool = True,
        cold: bool | list[str] = False,
    ) -> tuple[DriverFiles, object] | None:
        """The driver-side member reader: ``(files, members)`` for
        ``partitions`` (``_driver_files``' arguments), where
        ``members`` is the Arrow table of their raw rows, ``filter``
        pushed down — or None when ``_driver_files`` hands the work to
        Spark. A listed file that a concurrent flush moves before it
        is read re-plans the read (up to ``_DRIVER_READ_ATTEMPTS``
        times, then None); any other read error (a corrupt file)
        raises."""
        import pyarrow as pa
        from pyarrow import fs as pafs

        local = pafs.LocalFileSystem()
        for _ in range(_DRIVER_READ_ATTEMPTS):
            try:
                files = self._driver_files(partitions, unflushed, cold)
            except FileNotFoundError:
                continue  # a flush or drop moved a listed file: re-plan
            if files is None:
                return None
            try:
                return files, files.read(filter)
            except (OSError, pa.ArrowException):
                if all(
                    i.type == pafs.FileType.File
                    for i in local.get_file_info(files.paths)
                ):
                    raise
        return None  # files kept moving under the read: plan it in Spark

    def read_all(
        self,
        include_cold: bool = False,
        with_tombstones: bool = False,
    ) -> DataFrame:
        """Full-table read: every tag, the whole time range, LWW-merged
        — ``read_range`` without the pruning predicate. The reference
        has no all-tags read (its API is range-per-tag), but maintenance
        and analytics need one, and going through ``read_range`` would
        force the caller to first enumerate tags (an extra job) only to
        build a disjunctive predicate that matches everything anyway.

        Computed on the driver under ``read_range``'s rule, with or
        without ``include_cold``, and returned as a
        ``session.local_frame`` (collected with no JVM call); over the
        rule, a Spark plan over the cached ``hot()`` handle."""
        self._require_init()
        got = self._driver_members(None, cold=include_cold)
        if got is not None:
            return self._driver_result(got[1], with_tombstones)
        df = self.hot()
        if include_cold:
            df = df.unionByName(self.cold()).dropDuplicates(MEMBER_IDENTITY_COLS)
        out = lww_latest(df)
        if not with_tombstones:
            out = out.where(F.col("value").isNotNull())
        return out.select("tag", "ts", "value")

    # ------------------------------------------------------------ helpers
    def _validate_ranges(self, ranges) -> list[tuple]:
        if not isinstance(ranges, Mapping) or not ranges:
            raise ValidationError("ranges must be a non-empty mapping tag -> (start, end)")
        if len(ranges) > MAX_TAGS_PER_READ:
            raise TooManyTagsError(
                f"{len(ranges)} tags exceeds cap {MAX_TAGS_PER_READ} "
                "(reference index.js:13)"
            )
        parsed = []
        for tag, rng in ranges.items():
            if isinstance(rng, Mapping):
                start, end = rng.get("start"), rng.get("end")
            else:
                try:
                    start, end = rng
                except (TypeError, ValueError) as exc:
                    raise InvalidRangeError(
                        f"range for {tag!r} must be (start, end)"
                    ) from exc
            self._check_range_bounds(tag, start, end)
            parsed.append((tag, int(start), int(end)))
        return parsed

    def _check_range_bounds(self, tag, start, end) -> None:
        if not isinstance(tag, str) or not tag:
            raise ValidationError(f"tag must be a non-empty string, got {tag!r}")
        if len(tag) > MAX_TAG_NAME_LENGTH:
            raise KeyTooLongError(
                f"tag longer than {MAX_TAG_NAME_LENGTH} chars"
            )
        for bound, name in ((start, "start"), (end, "end")):
            if bound is None:
                raise InvalidRangeError(f"missing {name} for tag {tag!r}")
            if isinstance(bound, bool) or not isinstance(bound, int):
                raise InvalidRangeError(
                    f"{name} for tag {tag!r} must be an integer, got {bound!r}"
                )
        if start > end:
            raise InvalidRangeError(
                f"inverted range for tag {tag!r}: {start} > {end} (index.js:196-199)"
            )

    def _range_file_predicates(self, parsed: list[tuple]) -> dict:
        """File-skipping bounds covering the UNION of the requested
        ranges — a safe superset (per-range exactness belongs to the
        row predicate): tag by EXACT set membership (cold files are
        hive-partitioned by tag, so their min==max stats make the
        membership check exact — a sparse tag set skips every
        unrequested tag's files, where a lexical range would keep
        everything between the extremes), part_start within
        [min floored start, max end] (same flooring rule as
        ``_prune_predicate``)."""
        w = self.config.partition_width
        lo = min(s - (s % w) for _, s, _ in parsed)
        hi = max(e for _, _, e in parsed)
        return {
            "tag": {t for t, _, _ in parsed},
            "part_start": (lo, hi),
        }

    def _prune_predicate(self, parsed: list[tuple]):
        """Partition-pruning predicate over the partition columns only.

        Start floored to a partition boundary, end not (reference
        ``index.js:176-186``): partitions with
        ``floor(start) <= part_start <= end`` overlap the range."""
        w = self.config.partition_width
        pred = F.lit(False)
        for tag, start, end in parsed:
            floored = start - (start % w)
            pred = pred | (
                (F.col("tag") == tag)
                & F.col("part_start").between(floored, end)
            )
        return pred

    def _residual_predicate(self, parsed: list[tuple]):
        """Row-level range predicate (reference ``index.js:263``)."""
        pred = F.lit(False)
        for tag, start, end in parsed:
            pred = pred | (
                (F.col("tag") == tag) & F.col("ts").between(start, end)
            )
        return pred
