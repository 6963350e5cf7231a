"""The commit protocol shared by the streaming sinks.

The file-source checkpoint tracks which batches were consumed, but a
``foreachBatch`` body that dies after touching its state is replayed on
restart. A sink whose merge is not idempotent under replay (counts
would double, a corpus would pair with itself) therefore records the
last applied (checkpoint id, batch id) in a marker file inside its
state directory, and skips a replay of an already-applied batch — the
transactional-sink dance that a table format's commit log would
otherwise provide. Two failure modes are handled explicitly:

- Crash-safe swap (``staged_swap``): the new state is staged, its
  marker written last (so marker presence == staging complete), the old
  state renamed ASIDE (never deleted first), the staging promoted, and
  only then the old copy removed. ``_recover_state`` runs before every
  batch and promotes a complete staging snapshot or restores the
  set-aside copy, so no crash window can lose the state dir. Deleting
  first would: a replay after a crash between delete and promote
  silently rebuilds the state from empty.
- Checkpoint identity (``guard_replay``): batch ids restart at 0 if the
  checkpoint dir is deleted or relocated while the state survives; a
  bare ``applied >= batch_id`` check would then silently drop genuinely
  new batches. The marker therefore records the checkpoint's stream id
  alongside the batch id, and a mismatch FAILS the batch loudly instead
  of skipping.

Append-only stores (near-dedup signatures, semdedup survivors) write
one ``batch=<id>`` partition per batch and commit it with the marker
alone; they exclude any partial partition of the batch being replayed
from their corpus (``batch_partitions(below=...)``) and use the swap
only to compact. A latest-wins snapshot (CDC) is idempotent under
replay, so it uses recovery and the swap but not the identity guard.

The plain-parquet directory swap is the local/posix form; on an object
store the same batch bodies would target a table format with atomic
commit, and only this module would change.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

# Underscore prefix => ignored by Spark's parquet reader, so the marker
# can live inside the state dir without polluting the table scan.
_APPLIED_MARKER = "_applied_batch_id"

_BATCH_DIR = re.compile(r"^batch=(-?\d+)$")


def _read_marker(path: str) -> tuple[int, str | None]:
    """(applied batch id, checkpoint id) from a snapshot dir; (-1, None)
    if absent OR unparseable. A torn/partial marker must read as
    'staging incomplete', never raise: the marker certifies completeness,
    so garbage CONTENT means the write did not finish — raising on it
    would make the recovery path itself unrecoverable.

    IO failures are a different matter: an EXISTING marker that cannot
    be READ (EACCES/EIO — not torn, merely unreadable) must raise, not
    read as 'never applied'. Swallowing it would return -1 for an
    already-merged state dir, so a replayed batch re-merges
    (non-idempotent: counts double) and the foreign-checkpoint identity
    guard is bypassed. Only a delete race (FileNotFound between the
    exists check and the open) reads as absent."""
    marker = os.path.join(path, _APPLIED_MARKER)
    if not os.path.exists(marker):
        return -1, None
    try:
        with open(marker) as fh:
            raw = fh.read().strip()
    except FileNotFoundError:
        return -1, None
    try:
        payload = json.loads(raw)
        return int(payload["batch_id"]), payload.get("checkpoint_id")
    except (TypeError, KeyError, ValueError):
        try:
            return int(raw), None  # legacy plain-int marker
        except ValueError:
            return -1, None  # torn/garbage content == incomplete staging


def _write_marker(path: str, *, batch_id: int, checkpoint_id: str | None) -> None:
    """Atomically publish the completeness marker: write to a temp name,
    fsync, then rename into place. A crash mid-write leaves no marker
    (staging reads incomplete and is discarded) — never a torn one."""
    marker = os.path.join(path, _APPLIED_MARKER)
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(json.dumps({"batch_id": batch_id, "checkpoint_id": checkpoint_id}))
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, marker)


def _checkpoint_identity(checkpoint_path: str) -> str | None:
    """The stream id Spark writes to ``<checkpoint>/metadata`` — stable
    across restarts of the same checkpoint, different for a fresh or
    relocated one."""
    meta = os.path.join(checkpoint_path, "metadata")
    if not os.path.exists(meta):
        return None
    try:
        with open(meta) as fh:
            return json.loads(fh.read()).get("id")
    except (ValueError, OSError):  # pragma: no cover - unreadable metadata
        return None


def _recover_state(state_path: str) -> None:
    """Roll the swap protocol forward after a crash: promote the newest
    COMPLETE staging snapshot (its marker is written last, so marker
    presence == complete) if the state dir is missing, else restore the
    set-aside previous state; then clear leftovers."""
    parent = os.path.dirname(state_path) or "."
    base = os.path.basename(state_path)
    old = state_path + ".old"
    staging = []
    if os.path.isdir(parent):
        staging = [
            os.path.join(parent, d)
            for d in os.listdir(parent)
            if d.startswith(base + ".staging-")
        ]
    if not os.path.exists(state_path):
        complete = [p for p in staging if _read_marker(p)[0] >= 0]
        if complete:
            newest = max(complete, key=lambda p: _read_marker(p)[0])
            os.rename(newest, state_path)
            staging.remove(newest)
        elif os.path.exists(old):
            os.rename(old, state_path)
    for p in staging:
        shutil.rmtree(p, ignore_errors=True)
    if os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)


def guard_replay(
    state_path: str, checkpoint_path: str, batch_id: int
) -> tuple[bool, str | None]:
    """Recover the state dir, then decide the batch: (True, id) if it
    was already applied under this checkpoint (skip it), (False, id) if
    it is new, where id is the checkpoint identity to commit under.
    Raises if the state was written under a different checkpoint."""
    _recover_state(state_path)
    ckpt_id = _checkpoint_identity(checkpoint_path)
    applied, applied_ckpt = _read_marker(state_path)
    if applied >= 0 and applied_ckpt and ckpt_id and applied_ckpt != ckpt_id:
        raise RuntimeError(
            f"state at {state_path} was written under checkpoint "
            f"{applied_ckpt} but this stream runs under {ckpt_id}; "
            "batch ids are not comparable across checkpoints — "
            "refusing to merge (delete the state dir to rebuild, or "
            "restore the original checkpoint)."
        )
    return applied >= batch_id, ckpt_id


def staged_swap(
    df: DataFrame,
    state_path: str,
    *,
    batch_id: int,
    checkpoint_id: str | None,
    partition: str = "",
) -> None:
    """Replace ``state_path`` with ``df`` (written under ``partition``,
    if given): stage, marker last, set the old state aside, promote,
    remove the old copy."""
    staging = f"{state_path}.staging-{batch_id}"
    df.write.mode("overwrite").parquet(os.path.join(staging, partition))
    _write_marker(staging, batch_id=batch_id, checkpoint_id=checkpoint_id)
    old = state_path + ".old"
    if os.path.exists(state_path):
        os.rename(state_path, old)
    os.rename(staging, state_path)
    shutil.rmtree(old, ignore_errors=True)


def batch_partitions(state_path: str, *, below: int | None = None) -> list[str]:
    """The store's committed ``batch=<id>`` partitions that hold data (a
    batch with no rows writes only _SUCCESS and must not break schema
    inference), in flat or ``centroid_id=*`` cell layout, limited to ids
    strictly below ``below``: a replayed batch must never see its own
    partial write as corpus."""
    if not os.path.isdir(state_path):
        return []
    out = []
    for name in sorted(os.listdir(state_path)):
        m = _BATCH_DIR.match(name)
        if not m or (below is not None and int(m.group(1)) >= below):
            continue
        d = os.path.join(state_path, name)
        if glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
            out.append(d)
    return out


def commit_partition(
    spark: SparkSession,
    state_path: str,
    read,
    *,
    batch_id: int,
    checkpoint_id: str | None,
    compact_every: int | None,
) -> None:
    """Commit an append-only store's ``batch=<id>`` partition by writing
    its marker. Every ``compact_every`` partitions, fold the store (read
    back with ``read(spark, state_path)``) into a single ``batch=<id>``
    through the staged swap; the staged marker equals the committed
    batch id, so a replay after compaction is still skipped."""
    _write_marker(state_path, batch_id=batch_id, checkpoint_id=checkpoint_id)
    if compact_every and len(batch_partitions(state_path)) >= compact_every:
        staged_swap(
            read(spark, state_path),
            state_path,
            batch_id=batch_id,
            checkpoint_id=checkpoint_id,
            partition=f"batch={batch_id}",
        )


def _migrate_flat_store(state_path: str) -> bool:
    """Upgrade a pre-batch-partition store in place. The near-dedup and
    semdedup sinks once wrote one flat directory (rewritten whole via
    the swap protocol) instead of append-only ``batch=<id>``
    partitions; a flat store promoted by an older run is invisible to
    ``batch_partitions``, so it would silently read as an EMPTY corpus —
    new batches admitted without dedup against it — and its rows
    unreachable to the store readers. Detect root-level data (parquet
    part files, or ``centroid_id=*`` cell dirs from the semdedup swap
    layout) and move it into a ``batch=-1`` partition, which every later
    batch's strictly-``below`` corpus filter includes.

    Idempotent and crash-safe: each entry is a same-filesystem
    ``os.rename``; a crash mid-migration leaves the remaining root
    entries for the next call to move. Returns True if anything moved.
    Bookkeeping names (``_*``, ``.*``, ``batch=*``) are left alone."""
    if not os.path.isdir(state_path):
        return False
    flat = []
    for name in os.listdir(state_path):
        if name.startswith(("_", ".", "batch=")):
            continue
        full = os.path.join(state_path, name)
        if name.endswith(".parquet") or (
            os.path.isdir(full) and name.startswith("centroid_id=")
        ):
            flat.append(name)
    if not flat:
        return False
    dest = os.path.join(state_path, "batch=-1")
    os.makedirs(dest, exist_ok=True)
    for name in flat:
        os.rename(os.path.join(state_path, name), os.path.join(dest, name))
    return True


def read_updates(spark: SparkSession, updates_path: str, schema: T.StructType) -> DataFrame:
    """The file source every sink consumes: parquet files landing
    anywhere under ``updates_path``."""
    return (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(updates_path)
    )


def start_stream(source: DataFrame, checkpoint_path: str, apply_batch) -> StreamingQuery:
    """Run ``apply_batch(batch_df, batch_id)`` over everything ``source``
    has not yet consumed under ``checkpoint_path``, then stop."""
    return (
        source.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
