"""The ``cdc_backfill`` workload: one long-running CDC task fed chunks
of rotated binlog segments.

It drives the public chain ``binlog_envelope_factory`` ->
``start_pipeline`` (TaskFilter + per-table schema registry + DLQ) ->
``galaxy_topic_files`` sink, and checks every published message
against the generator's expectation.
"""

from __future__ import annotations

import os
import statistics
import time
from types import SimpleNamespace

from common import (CORES, Result, fresh_dir, peak_rss_mb, session,
                    timed_setup)
from gen import DB, EXCLUDED, TASK, BinlogStream, read_published, registry_rows

#: (segments, transactions per segment) of one bulk chunk
BACKFILL = {"full": (4, 300), "smoke": (2, 15)}
#: bulk chunks drained per run at least; throughput is their median
MIN_CHUNKS = 3
#: transactions per warm-up segment (one segment per core)
WARM_TXNS = 5
#: (segments, transactions per segment) of a small batch: one segment
#: of about 800 row-changes, as a tailing task sees them; its wall is
#: mostly per-trigger work
SMALL = (1, 20)
#: small batches per run; batch_latency_s is their median
SMALL_BATCHES = 3


def start_chain(spark, seg_dir: str, out_dir: str):
    """One CDC task over ``seg_dir`` publishing to ``out_dir``."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from galaxy_spark.cdc.filters import TaskFilter
    from galaxy_spark.sinks_topic import TopicFilesDataSource
    from galaxy_spark.sources.binlog_source import binlog_envelope_factory
    from galaxy_spark.streaming.pipeline import SinkConfig, start_pipeline

    spark.dataSource.register(TopicFilesDataSource)
    schema = StructType([StructField("database", StringType()),
                         StructField("table", StringType()),
                         StructField("columns", ArrayType(StringType()))])
    registry = spark.createDataFrame(registry_rows(), schema)
    env = binlog_envelope_factory(seg_dir)(
        spark, SimpleNamespace(checkpoint_epoch=0))
    return start_pipeline(
        env, TASK, TaskFilter(databases=(DB,), exclude_tables=EXCLUDED),
        registry,
        SinkConfig("topic_files", {"path": os.path.join(out_dir, "topics")}),
        os.path.join(out_dir, "ck"))


# One long-running task; each measured step generates the stream's
# next chunk of rotated segments, drops it into the binlog directory
# at once and waits until the task has published all of it. Query
# start and the warm-up belong to set-up. Bulk chunks give the
# throughput; small batches after them give the latency a small
# transaction batch sees, which is mostly per-trigger work.

class Backfill:
    """The task, its binlog directory and the one seeded stream that
    writes every segment: the warm-up first, then each chunk, with
    row ids and GTIDs running on across chunks."""

    def __init__(self, spark, seed: int, scale: str) -> None:
        self.shape = BACKFILL[scale]
        self.stream = BinlogStream(seed)
        self.seg_dir = fresh_dir("backfill", "binlogs")
        self.stage = fresh_dir("backfill", "stage")
        self.out = fresh_dir("backfill", "out")
        # one warm-up segment per core gives every core a scan task, so
        # every Python worker a later batch uses is already started
        self.stream.write_segments(self.seg_dir, CORES, WARM_TXNS)
        self.n_segments = CORES
        self.q = start_chain(spark, self.seg_dir, self.out)
        self.q.processAllAvailable()
        self.bulk: list[tuple[int, float]] = []     # (row-changes, wall)
        self.small: list[float] = []                # walls
        self.batches: list[list] = []     # each feed's micro-batch progress

    def feed(self, segments: int, txns: int) -> tuple[int, float]:
        """Generate the stream's next ``segments`` segments, then time
        them from the moment they are in place until the task has
        published all of them. Returns (row-changes, seconds)."""
        before = self.stream.n_changes
        names = self.stream.write_segments(self.stage, segments, txns,
                                           first=self.n_segments + 1)
        self.n_segments += len(names)
        seen = len(self.q.recentProgress)
        t0 = time.perf_counter()
        for name in names:
            os.replace(os.path.join(self.stage, name),
                       os.path.join(self.seg_dir, name))
        self.q.processAllAvailable()
        wall = time.perf_counter() - t0
        self.batches.append([p for p in self.q.recentProgress[seen:]
                             if p["numInputRows"] > 0])
        return self.stream.n_changes - before, wall

    def measure(self, seconds: float) -> None:
        """Bulk chunks for ``seconds`` and at least MIN_CHUNKS, then
        SMALL_BATCHES small batches."""
        t_end = time.perf_counter() + seconds
        while len(self.bulk) < MIN_CHUNKS or time.perf_counter() < t_end:
            self.bulk.append(self.feed(*self.shape))
        self.small = [self.feed(*SMALL)[1] for _ in range(SMALL_BATCHES)]

    def events_per_s(self) -> float:
        """Median over bulk chunks of row-changes published per second."""
        return statistics.median(r / w for r, w in self.bulk)

    def stop(self) -> None:
        self.q.stop()

    def check(self, res: Result) -> None:
        """Every generated message published as often as generated and
        nothing else, no topic for an excluded table, and the expected
        dead-letter count. Counts toward ``res.attempted``."""
        got, n_dlq, topics = read_published(os.path.join(self.out, "topics"))
        want = self.stream.expected
        res.attempted += self.stream.n_changes
        missing = sum((want - got).values())
        extra = sum((got - want).values())
        res.fail(missing, f"{missing} expected messages not published")
        res.fail(extra, f"{extra} messages published more than once or unexpected")
        leaked = [t for t in topics if any(t.endswith(x) for x in EXCLUDED)]
        res.fail(len(leaked), f"excluded tables published: {leaked}")
        res.fail(abs(n_dlq - self.stream.n_dlq),
                 f"dead-letter rows {n_dlq}, expected {self.stream.n_dlq}")


def backfill_setup(seed: int, scale: str, first: bool, prev: list):
    spark = session(first)
    if prev:
        prev.pop().stop()
    prev.append(Backfill(spark, seed, scale))
    return spark, prev[0]


def run_backfill(seed: int, seconds: float, scale: str = "full") -> Result:
    res = Result()
    prev: list = []
    setup_s, (spark, bf) = timed_setup(
        lambda first: backfill_setup(seed, scale, first, prev))
    res.e2e["setup_s"] = statistics.median(setup_s)
    res.detail["setup_reps_s"] = setup_s
    bf.measure(seconds)
    bf.stop()
    bf.check(res)
    res.e2e["throughput_per_s"] = bf.events_per_s()
    res.e2e["batch_latency_s"] = statistics.median(bf.small)
    res.detail.update(backfill_events_per_s=res.e2e["throughput_per_s"],
                      chunk_rows=[r for r, _w in bf.bulk],
                      chunk_walls_s=[w for _r, w in bf.bulk],
                      small_batch_walls_s=bf.small,
                      peak_rss_mb=peak_rss_mb(spark))
    spark.stop()
    return res
