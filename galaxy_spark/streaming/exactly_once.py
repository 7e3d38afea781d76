"""Exactly-once foreachBatch sink: an epoch-keyed partial store.

Structured Streaming's foreachBatch is AT-LEAST-once: after a crash
between sink write and checkpoint commit, the restarted query
REPLAYS the last epoch with the SAME ``epoch_id``. The reference
gets exactly-once by skipping already-applied positions on replay
(``internal/scheduler/concurrently_manager/
concurrently_task_manager.go:97-120`` — tasks behind the saved
position are dropped). The Spark-side equivalent: key the sink
write by ``epoch_id`` and make applying an epoch idempotent.

``EpochKeyedRollupStore`` persists each micro-batch's PARTIAL
aggregate as one parquet directory ``epoch=<lineage>.<id>`` claimed
with an atomic rename — a replayed epoch finds its directory
already present and is dropped, so merged totals never double-count.
The same pattern backs any idempotent keyed sink (Delta MERGE keyed
on (epoch, key), Kafka transactional producer with the epoch in the
transaction id); parquet-on-POSIX keeps it dependency-free here.

Epoch ids alone are NOT a global key: Spark numbers epochs from 0
PER CHECKPOINT, so a fresh checkpoint (recovery_v2, or a new query
pointed at an old store) legitimately re-issues epoch 0 with new
data. The reference's replay-skip key — binlog position — is
likewise scoped to one stream lineage. We therefore scope every
epoch directory by the checkpoint's stable query id (the
``lineage``), and ``start_exactly_once_rollup`` refuses to write
into a store holding epochs from a different lineage rather than
silently dropping live batches as "replays".

Durability of the claim: the parquet file and its directory are
fsynced BEFORE the claiming rename (else a power loss could publish
a claimed-but-torn epoch that replay then skips forever), and
orphaned ``*.tmp-*`` directories from a crash inside ``merge`` are
swept on construction.

Scale shape: the distributed plan aggregates the batch down to
O(#buckets) partial rows BEFORE the store sees it; the store itself
only ever handles pre-aggregated partials, so a 100 TB stream costs
the store the same bytes as a toy one (buckets, not events).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from galaxy_spark.streaming.rollup import GRAINS, _partial_rollup


def _fsync_path(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


class EpochKeyedRollupStore:
    """(grain, bucket_start, event_type) -> [n_events, total_value],
    durably, exactly once per (checkpoint lineage, epoch)."""

    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(path, exist_ok=True)
        # A crash between the tmp-dir write and the claiming rename
        # leaves an unclaimed epoch=<id>.tmp-<uuid> dir; nothing ever
        # reads one (epochs()/snapshot() skip them), so sweep on
        # restart instead of leaking them forever.
        for d in os.listdir(path):
            if ".tmp-" in d:
                shutil.rmtree(os.path.join(path, d), ignore_errors=True)

    def _epoch_dir(self, epoch_id: int, lineage: str | None = None) -> str:
        key = f"{lineage}.{epoch_id}" if lineage else str(epoch_id)
        return os.path.join(self.path, f"epoch={key}")

    def _keys(self) -> list[str]:
        keys = [d.split("=", 1)[1] for d in os.listdir(self.path)
                if d.startswith("epoch=") and ".tmp-" not in d]
        return sorted(keys, key=lambda k: (k.rsplit(".", 1)[0] if "." in k
                                           else "",
                                           int(k.rsplit(".", 1)[-1])))

    def epochs(self) -> list[str]:
        """Applied epoch keys, ``<lineage>.<id>`` (or bare ``<id>``
        for lineage-less direct merges), ordered by (lineage, id)."""
        return self._keys()

    def lineages(self) -> set[str]:
        """Distinct checkpoint lineages present in the store
        (lineage-less epochs appear as ``""``)."""
        return {k.rsplit(".", 1)[0] if "." in k else ""
                for k in self._keys()}

    def merge(self, pdf, epoch_id: int, lineage: str | None = None) -> bool:
        """Apply one epoch's partial aggregate; returns False when
        the epoch was already applied (replay after restart).

        The claim is an atomic directory rename: concurrent/replayed
        writers race on ``os.rename`` and exactly one wins; losers
        (and any later replay) see the directory present and drop
        the batch — the foreachBatch twin of the reference's
        position replay-skip."""
        dest = self._epoch_dir(epoch_id, lineage)
        if os.path.exists(dest):
            return False
        import pyarrow as pa
        import pyarrow.parquet as pq

        tmp = f"{dest}.tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp)
        part = os.path.join(tmp, "part-0.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       part)
        # The rename PUBLISHES the epoch as applied; fsync contents
        # first so power loss can never leave a claimed dir holding a
        # torn file that snapshot() fails on while replay skips it.
        _fsync_path(part)
        _fsync_path(tmp)
        try:
            os.rename(tmp, dest)
        except OSError:
            # benign ONLY if a racer actually claimed the epoch
            # (dest exists). Any other failure — ENOSPC, a second
            # store handle's constructor sweeping this in-flight
            # tmp dir — must RAISE so Spark retries the batch;
            # reporting it as a replay-skip (the old behavior)
            # silently dropped a live epoch's aggregate.
            shutil.rmtree(tmp, ignore_errors=True)
            if os.path.exists(dest):
                return False
            raise
        _fsync_path(self.path)  # persist the rename itself
        return True

    def snapshot(self) -> list[tuple]:
        """Merged totals across all applied epochs (same shape as
        rollup.RollupStore.snapshot)."""
        import pyarrow.parquet as pq

        rows: dict[tuple, list] = {}
        for key in self._keys():
            t = pq.read_table(os.path.join(self.path, f"epoch={key}",
                                           "part-0.parquet"))
            for r in t.to_pylist():
                k = (r["grain"], r["bucket_start"], r["event_type"])
                cur = rows.setdefault(k, [0, 0.0])
                cur[0] += int(r["n_events"])
                cur[1] += float(r["total_value"])
        return sorted((g, b, t, n, round(v, 2))
                      for (g, b, t), (n, v) in rows.items())


def _checkpoint_lineage(checkpoint_dir: str) -> str:
    """The stable query id Spark writes to ``<ckpt>/metadata`` at
    first start. Restarts from the same checkpoint keep it; a fresh
    checkpoint mints a new one — exactly the scope of Spark's epoch
    numbering, and so the scope our replay-skip key needs."""
    with open(os.path.join(checkpoint_dir, "metadata")) as f:
        return json.load(f)["id"][:8]


def _require_lineage(checkpoint_dir: str, stores) -> str:
    """The checkpoint lineage, refusing any store that holds state
    from a DIFFERENT lineage: epoch ids restart at 0 per checkpoint,
    so continuing into a foreign-lineage store would drop live
    batches as replays — data loss masquerading as exactly-once.
    ONE copy of the guard for every lineage-keyed foreachBatch sink,
    however many stores it merges."""
    lin = _checkpoint_lineage(checkpoint_dir)
    for store in stores:
        foreign = store.lineages() - {lin}
        if foreign:
            raise ValueError(
                f"store {store.path!r} holds state from other "
                f"checkpoint lineage(s) {sorted(foreign)}; epoch ids "
                "restart at 0 per checkpoint, so reusing the store "
                "would drop new batches as replays. Use a fresh "
                "store (or checkpoint) per lineage.")
    return lin


def start_exactly_once_rollup(stream: DataFrame,
                              store: EpochKeyedRollupStore,
                              checkpoint_dir: str) -> StreamingQuery:
    """Multi-grain rollup (GRAINS per rollup.py) maintained with
    exactly-once semantics: per-batch distributed partial agg ->
    epoch-keyed idempotent merge, scoped to the checkpoint lineage.

    Fails loudly (killing the query) when ``store`` already holds
    epochs from a DIFFERENT checkpoint lineage (``_require_lineage``)."""
    # resolved and checked once, at the first batch
    lineage = functools.cache(
        lambda: _require_lineage(checkpoint_dir, (store,)))

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        lin = lineage()
        store.merge(_partial_rollup(batch_df).toPandas(), epoch_id,
                    lineage=lin)

    return (stream.writeStream
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(handle).start())
