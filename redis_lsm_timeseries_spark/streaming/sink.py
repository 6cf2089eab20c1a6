"""Generic exactly-once streaming sink into a manifest table.

Structured Streaming's ``foreachBatch`` contract is at-least-once: a
crash after the batch's side effects but before the checkpoint commit
re-delivers the SAME (batch_df, batch_id). The standard fix — and the
one Delta's streaming sink implements via its ``txn`` action — is to
make the sink transactional on (application id, batch id): the rows
and the latest-committed batch id land in ONE atomic commit, and a
re-delivered batch whose id is at or below the recorded cursor is
skipped before any write.

The engine's ``app`` metadata map gives this for free on ANY manifest
table: ``manifest_sink(path)`` returns a ``foreachBatch`` callable
whose every commit is ``append_table_with_meta(rows, {cursor:
batch_id})`` — for plain append pipelines: metrics streams, event
mirrors, curated-output shards.

Cursor semantics: batch ids are per-CHECKPOINT monotonic. A fresh
checkpoint restarts ids at 0, so pair every new checkpoint with a new
``app_id`` (or delete the destination) — the same rule Delta documents
for ``txn.appId``. Batches arriving out of order (impossible under one
query, possible if two queries share an app_id) are rejected loudly
rather than silently skipped."""

from __future__ import annotations

from redis_lsm_timeseries_spark.commit import CommitHost, ManifestCommit
from redis_lsm_timeseries_spark.errors import ValidationError


def _cursor_key(app_id: str) -> str:
    return f"sink:{app_id}"


def manifest_sink(
    path: str,
    app_id: str = "stream",
    transform=None,
    fs=None,
):
    """A ``foreachBatch`` function appending each micro-batch to the
    manifest table at ``path`` exactly once. ``transform`` (optional,
    deterministic) maps the batch DataFrame before the write. An
    EMPTY batch still advances the cursor (metadata-only entry), so
    replay detection never regresses.

    Use::

        q = (stream.writeStream
             .foreachBatch(manifest_sink(out_path, app_id="metrics"))
             .option("checkpointLocation", ckpt)
             .start())
    """

    def process(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        host = CommitHost(spark, fs)
        commit = ManifestCommit()
        cur = commit.read_app_meta(host, path).get(_cursor_key(app_id))
        bid = int(batch_id)
        if cur is not None:
            if bid <= int(cur) - 1:
                raise ValidationError(
                    f"manifest_sink[{app_id}]: batch {bid} arrived "
                    f"after cursor {cur} — two queries are sharing "
                    "this app_id or a checkpoint was reused; give "
                    "each query its own app_id"
                )
            if bid <= int(cur):
                return  # exact replay of the committed batch: skip
        out = transform(batch_df) if transform is not None else batch_df
        n = out.count()
        # CAS on the cursor still holding the value read above: two
        # queries sharing an app_id cannot both land the same batch —
        # the loser raises instead of double-appending.
        commit.append_table_with_meta(
            host, path,
            out if n else None,
            {_cursor_key(app_id): bid},
            expected_app={_cursor_key(app_id): cur},
        )

    process.path = path
    process.app_id = app_id
    return process


def sink_cursor(spark, path: str, app_id: str = "stream", fs=None):
    """The last committed batch id for ``app_id`` at ``path``; None if
    the sink never committed."""
    cur = ManifestCommit().read_app_meta(
        CommitHost(spark, fs), path
    ).get(_cursor_key(app_id))
    return None if cur is None else int(cur)
