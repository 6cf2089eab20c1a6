"""Engine configuration.

Mirrors the reference's settings surface (reference ``index.js:46-62``):
a partition width on the sort-key axis, a purge queue name, and a
SHA-256 settings hash used to namespace physically-incompatible
configurations (``index.js:149-155``). The hard limits reproduce the
reference's admission control (``index.js:12-15``).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

# Reference admission-control constants (index.js:12-15).
MAX_SAMPLES_PER_WRITE = 2_000
MAX_TAGS_PER_READ = 100
MAX_TAG_NAME_LENGTH = 200
MAX_PAGE_NAME_LENGTH = 400

#: Driver-memory bound for a range read answered on the driver
#: (``TimeseriesStore.read_range``): the most Parquet bytes its
#: candidate files may total. Not a tuning option. A serve-shaped L0
#: segment (2,000 rows, 200 tags, short JSON values) measures 40 KB as
#: snappy Parquet and 141 KB as an Arrow table, 3.5x (serve's small L1
#: partition files measure 1.0x, their footers dominate); so 16 MiB of
#: candidates decode to at most about 56 MB of Arrow before the row
#: filter, and the last-write-wins sort copies no more than that once.
#: A request over the cap is planned as a Spark job instead.
MAX_DRIVER_READ_BYTES = 16 << 20

# Reference default partition width: 120,000 ms (index.js:46).
DEFAULT_PARTITION_WIDTH = 120_000

VERSION = 1

# Physical Parquet layout of the hot and cold tiers: directory-level
# pruning on both the tag and the time range — the metadata-only
# partition selection the reference's per-tag index ZSET performs
# (index.js:157-231).
PARTITION_COLS = ("tag", "part_start")


@dataclass(frozen=True)
class EngineConfig:
    """Immutable engine settings.

    ``root`` is the storage root; hot/cold/purge-log tables live under
    ``{root}/{namespace}/``. ``partition_width`` is the fixed width of a
    time partition in sort-key units (ms in practice) — the Spark analog
    of the reference's page width (``index.js:121-122``).
    """

    root: str
    partition_width: int = DEFAULT_PARTITION_WIDTH
    purge_queue_name: str = "Purge"

    def __post_init__(self) -> None:
        # The store's table probes (hot/cold/purge-log existence checks)
        # and maintenance deletes use the LOCAL filesystem. On a remote
        # root (s3://, hdfs://) the probes would always answer "absent"
        # and every table would silently read as empty — the exact
        # data-loss mode the probes exist to prevent. Fail loudly at
        # config time; a lakehouse deployment swaps the probes for a
        # catalog lookup (see store.hot docstring).
        #
        # file:// roots are NORMALIZED to the bare local path: Spark
        # accepts both spellings, but os.path/shutil do not understand
        # the URI form — left raw, Spark would write to /data while the
        # probes checked a literal './file:/data' relative path and
        # every table would read as empty after successful writes.
        scheme, sep, rest = self.root.partition("://")
        if sep:
            if scheme != "file":
                raise ValueError(
                    f"EngineConfig.root {self.root!r} uses scheme {scheme!r}: "
                    "this build's filesystem probes are local-only (file:// "
                    "or bare paths); use a catalog-backed deployment for "
                    "object storage"
                )
            if not rest.startswith("/"):
                raise ValueError(
                    f"EngineConfig.root {self.root!r}: file:// roots must "
                    "be absolute (file:///path); authority or relative "
                    "forms are not supported"
                )
            object.__setattr__(self, "root", rest)

    @property
    def namespace(self) -> str:
        """SHA-256 hash of the physical-compatibility settings.

        Reference: ``_settingsHash`` over ``{version, partitionWidth,
        purgeQueName}`` (``index.js:149-155``); two configs that disagree
        on any of these cannot share a physical layout, so they get
        distinct table prefixes.
        """
        payload = json.dumps(
            {
                "version": VERSION,
                "partitionWidth": self.partition_width,
                "purgeQueName": self.purge_queue_name,
            },
            sort_keys=True,
        )
        return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:16]

    @property
    def base_path(self) -> str:
        return f"{self.root}/{self.namespace}"

    @property
    def hot_path(self) -> str:
        return f"{self.base_path}/hot"

    @property
    def l0_path(self) -> str:
        """Row-batch staging tier (LSM L0): flat Parquet segments, one
        file per ``write()`` batch, folded into the partitioned hot
        layout (L1) by ``flush_l0``/``compact``. The memtable-flush
        analog of the reference's in-Redis LSM posture (recipe:19-20)."""
        return f"{self.base_path}/hot_l0"

    @property
    def l0_staging_path(self) -> str:
        """Per-flush staging area for ``flush_l0``: segments are moved
        (atomic local rename) into a staging subdir before the L1
        append, and a ``_COMMITTED`` marker records the append landing,
        so a crashed flush is recoverable without re-appending the same
        segments (see ``TimeseriesStore.flush_l0``)."""
        return f"{self.base_path}/hot_l0_staging"

    @property
    def cold_path(self) -> str:
        return f"{self.base_path}/cold"

    @property
    def purge_log_path(self) -> str:
        return f"{self.base_path}/purge_log"

    @property
    def meta_path(self) -> str:
        return f"{self.base_path}/_engine_meta.json"

    def part_start_of(self, sort_key: int) -> int:
        """Partition assignment: ``sortKey - sortKey % width``
        (reference ``index.js:121``). Floor-mod, so negative keys land in
        the partition that contains them."""
        return sort_key - (sort_key % self.partition_width)
