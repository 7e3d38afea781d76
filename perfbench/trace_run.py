"""The traced run: one layer sweep that fills every per-layer metric.

It runs with the Spark event log on (uncompressed), keeps every
streaming query's progress, and wraps calls into galaxy_spark's
public functions from this file only (nothing inside the package is
instrumented). Every traced invocation measures every layer:

1. CDC layer probes on the seed's backfill stream: wire decode,
   source read replay (plus the read-cost-vs-segment-position
   series), projection and routing on a static envelope frame, and
   direct topic-sink writes and commits.
2. The ``cdc_backfill`` steps (bulk chunks, then small batches):
   progress phases of the small batches, event-log task counts, the
   source scans per planned partition, and the share of a bulk
   chunk's wall that its per-row layer work fills.
3. One traced ``dedup_stream`` drain with every store MERGE, the LSH
   probe and ``create_task`` wrapped.
4. The single-thread baseline: one bulk backfill chunk on
   ``local[1]``.

The workload named on the command line runs at the requested scale
and the other at smoke scale; the named one's end-to-end figures are
compared with its latest untraced run (the tracing overhead, in the
sidecar).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

import cdc
import dedup
from common import (CORES, WORK, Result, batch_seconds, event_log_conf,
                    fresh_dir, start_spark)
from gen import DB, EXCLUDED, TASK, BinlogStream, read_segments

STORES = ("lsh", "doc", "pair", "cluster", "redirect")
#: (segments, transactions per segment) the CDC layer probes read
PROBE_SHAPE = {"full": (2, 200), "smoke": cdc.BACKFILL["smoke"]}
#: transactions per slice and slices in the read-vs-position probe
TAIL_SLICE_TXNS, TAIL_SLICES = 40, 12


def _median_time(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


# -- CDC layer probes ---------------------------------------------------

def probe_decode(seg_dir: str) -> tuple[float, int]:
    from galaxy_spark.cdc.binlog import decode_binlog

    blobs = [blob for _name, blob in read_segments(seg_dir)]
    rows = 0
    t0 = time.perf_counter()
    for b in blobs:
        for ev in decode_binlog(b):
            if ev.kind in ("insert", "update", "delete"):
                rows += len(ev.rows)
    return (time.perf_counter() - t0) / rows * 1e6, rows


def _read_all(reader, parts) -> int:
    return sum(1 for p in parts for _ in reader.read(p))


def probe_read(seg_dir: str) -> float:
    """Planned partitions for the whole directory, read single-thread."""
    from galaxy_spark.sources.binlog_source import BinlogStreamReader

    r = BinlogStreamReader({"path": seg_dir})
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    t0 = time.perf_counter()
    rows = _read_all(r, parts)
    return (time.perf_counter() - t0) / rows * 1e6


def probe_tail_position(seed: int) -> list[dict]:
    """One growing segment read slice by slice, as a tailing query's
    micro-batches read it: cost per row against the slice's end
    position (decoding restarts at byte 0 of the segment)."""
    from galaxy_spark.sources.binlog_source import BinlogStreamReader
    from tests.fixtures.binlog_wire_encoder import BinlogWriter

    seg_dir = fresh_dir("trace", "tail")
    stream = BinlogStream(seed + 1)
    w = BinlogWriter()
    w.format_description()
    path = os.path.join(seg_dir, "binlog.000001.bin")
    bounds = [len(w.out)]
    for _ in range(TAIL_SLICES):
        for _ in range(TAIL_SLICE_TXNS):
            stream.txn(w)
        bounds.append(len(w.out))
    with open(path, "wb") as f:
        f.write(w.bytes())
    r = BinlogStreamReader({"path": seg_dir})
    series = []
    for a, b in zip(bounds, bounds[1:]):
        parts = r.partitions({"file": "binlog.000001.bin", "pos": a},
                             {"file": "binlog.000001.bin", "pos": b})
        t0 = time.perf_counter()
        rows = _read_all(r, parts)
        series.append({"end_pos": b, "rows": rows,
                       "read_s_per_mrow": (time.perf_counter() - t0) / rows * 1e6})
    return series


def _envelope_frame(spark, seg_dir: str):
    from pyspark.sql import functions as F

    from galaxy_spark.cdc.binlog import decode_binlog
    from galaxy_spark.sources.binlog_source import SCHEMA

    rows = []
    for name, blob in read_segments(seg_dir):
        for ev in decode_binlog(blob):
            if ev.kind in ("insert", "update", "delete"):
                rows += [(ev.database, ev.table, ev.kind, r, ev.timestamp,
                          ev.log_pos, name) for r in ev.rows]
    raw = spark.createDataFrame(rows, SCHEMA).cache()
    raw.count()
    env = raw.select("database", "table", "action", "org_row",
                     F.struct(F.col("ts_sec").alias("timestamp"),
                              F.col("log_pos").alias("log_pos"))
                     .alias("event_header"))
    return env, len(rows)


def probe_project_route(spark, seg_dir: str) -> tuple[float, float]:
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from galaxy_spark.cdc.filters import TaskFilter
    from galaxy_spark.streaming.pipeline import (dead_letter_messages,
                                                 routed_messages,
                                                 transform_envelope)
    from gen import registry_rows

    env, n = _envelope_frame(spark, seg_dir)
    schema = StructType([StructField("database", StringType()),
                         StructField("table", StringType()),
                         StructField("columns", ArrayType(StringType()))])
    registry = spark.createDataFrame(registry_rows(), schema)
    tf = TaskFilter(databases=(DB,), exclude_tables=EXCLUDED)

    def project():
        transform_envelope(env, tf, registry).write.format("noop") \
            .mode("overwrite").save()
    project()
    projected = transform_envelope(env, tf, registry).cache()
    projected.count()

    def route():
        good = projected.filter(~F.col("quarantined"))
        routed_messages(good, TASK).unionByName(
            dead_letter_messages(projected, TASK)) \
            .write.format("noop").mode("overwrite").save()
    route()
    out = (_median_time(project) / n * 1e6, _median_time(route) / n * 1e6)
    projected.unpersist()
    return out


def probe_sink(stream: BinlogStream) -> tuple[float, float]:
    from pyspark.sql import Row

    from galaxy_spark.sinks_topic import TopicFilesStreamWriter

    rows = []
    for (topic, action, before, after), k in stream.expected.items():
        value = json.dumps({"database": DB, "table": topic.split(".")[-1],
                            "action": action,
                            "before": dict(before) if before else None,
                            "after": dict(after) if after else None})
        rows += [Row(topic=topic, key=topic.split(".", 1)[1], value=value)] * k
    w = TopicFilesStreamWriter({"path": fresh_dir("trace", "sink")})
    t0 = time.perf_counter()
    staged = w.write(iter(rows))
    write_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    w.commit([staged], 0)
    return write_s / len(rows) * 1e6, (time.perf_counter() - t0) * 1e3


# -- store wrappers (dedup drain) ---------------------------------------

def _tree(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            try:
                out[full] = os.path.getsize(full)
            except OSError:
                pass
    return out


class StoreTrace:
    """Wraps ``KeyedParquetStore.merge`` and ``lsh_probe_pairs`` for
    the duration of a ``with`` block; the probe's result is
    checkpointed inside the wrapper so its execution is timed there
    instead of inside the pair-store MERGE that consumes it."""

    def __enter__(self):
        from galaxy_spark.streaming import state_store as ss

        self.ss = ss
        self.merge_s = defaultdict(float)
        self.bytes = defaultdict(int)
        self.buckets = defaultdict(int)
        self.probe_s = 0.0
        self.roots: dict[str, str] = {}
        self._merge, self._probe = ss.KeyedParquetStore.merge, ss.lsh_probe_pairs
        trace = self

        def merge(store, partial, epoch_key):
            name = os.path.basename(store.path)
            trace.roots[name] = store.path
            before = _tree(store.path)
            t0 = time.perf_counter()
            trace._merge(store, partial, epoch_key)
            trace.merge_s[name] += time.perf_counter() - t0
            new = {p: s for p, s in _tree(store.path).items() if p not in before}
            trace.bytes[name] += sum(new.values())
            trace.buckets[name] += len({os.path.relpath(p, store.path).split(os.sep)[0]
                                        for p in new})

        def probe(*a, **k):
            t0 = time.perf_counter()
            out = trace._probe(*a, **k).localCheckpoint(eager=True)
            trace.probe_s += time.perf_counter() - t0
            return out

        ss.KeyedParquetStore.merge = merge
        ss.lsh_probe_pairs = probe
        return self

    def __exit__(self, *exc):
        self.ss.KeyedParquetStore.merge = self._merge
        self.ss.lsh_probe_pairs = self._probe

    def live_bytes(self) -> int:
        return sum(sum(_tree(p).values()) for p in self.roots.values())


# -- event log ----------------------------------------------------------

def event_log_stats(log_dir: str, groups: dict[str, str]) -> dict[str, dict]:
    """Per job group (label -> spark.jobGroup.id): jobs, tasks,
    executor run seconds, GC seconds, shuffle-write and spill MB, and
    the source-scan tasks (partitions of DataSourceRDDs)."""
    events = []
    for f in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                              recursive=True)):
        with open(f) as fh:
            events += [json.loads(line) for line in fh]
    stage_group, out = {}, {}
    by_id = {v: k for k, v in groups.items()}
    for label in groups:
        out[label] = dict(jobs=0, tasks=0, run_s=0.0, gc_s=0.0,
                          shuffle_write_mb=0.0, spill_mb=0.0, scan_tasks=0)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            label = by_id.get(e.get("Properties", {}).get("spark.jobGroup.id"))
            if label:
                out[label]["jobs"] += 1
                for s in e["Stage IDs"]:
                    stage_group[s] = label
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            label = stage_group.get(info["Stage ID"])
            if label:
                out[label]["scan_tasks"] += sum(
                    r.get("Number of Partitions", 0) for r in info["RDD Info"]
                    if r["Name"] == "DataSourceRDD")
        elif kind == "SparkListenerTaskEnd":
            label = stage_group.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if label and m:
                o = out[label]
                o["tasks"] += 1
                o["run_s"] += m["Executor Run Time"] / 1e3
                o["gc_s"] += m["JVM GC Time"] / 1e3
                o["shuffle_write_mb"] += \
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
                o["spill_mb"] += (m["Memory Bytes Spilled"]
                                  + m["Disk Bytes Spilled"]) / 2**20
    return out


def _phases(batches) -> dict[str, float]:
    """Median progress phases (ms) over the given micro-batches."""
    def med(k):
        return statistics.median(p["durationMs"].get(k, 0) for p in batches)
    return {"trigger_ms": med("triggerExecution"), "add_batch_ms": med("addBatch"),
            "query_planning_ms": med("queryPlanning"),
            "wal_commit_ms": med("walCommit"),
            "commit_offsets_ms": med("commitOffsets"),
            "latest_offset_ms": med("latestOffset")}


def _untraced(workload: str, seed: int) -> dict | None:
    """Latest untraced result for this workload (same seed first)."""
    res_dir = os.path.join(WORK, "results")
    paths = sorted(glob.glob(os.path.join(res_dir, f"{workload}-s*-t0.json")),
                   key=os.path.getmtime)
    same = os.path.join(res_dir, f"{workload}-s{seed}-t0.json")
    for p in ([same] if os.path.exists(same) else []) + paths[::-1]:
        with open(p) as fh:
            return json.load(fh)
    return None


def run_traced(workload: str, seed: int, seconds: float, scale: str) -> Result:
    res = Result()
    # the named workload runs at its own scale, the other one at smoke
    # scale, which keeps a traced run within a few untraced ones
    cdc_scale = scale if workload == "cdc_backfill" else "smoke"
    dedup_scale = scale if workload == "dedup_stream" else "smoke"
    L = {}                                       # metric -> (value, unit)

    # 1. CDC probes (no streaming query) on the seed's stream
    log_dir = fresh_dir("trace", "eventlog")
    spark = start_spark(extra=event_log_conf(log_dir))
    seg_dir = fresh_dir("trace", "binlogs")
    stream = BinlogStream(seed)
    stream.write_segments(seg_dir, *PROBE_SHAPE[cdc_scale])
    decode, _ = probe_decode(seg_dir)
    L["cdc.binlog.decode_s_per_mrow"] = (decode, "s/Mrow")
    L["sources.binlog_source.read_s_per_mrow"] = (probe_read(seg_dir), "s/Mrow")
    series = probe_tail_position(seed)
    L["sources.binlog_source.tail_reread_ratio"] = (
        series[-1]["read_s_per_mrow"] / series[0]["read_s_per_mrow"], "ratio")
    project, route = probe_project_route(spark, seg_dir)
    L["cdc.projections.project_s_per_mrow"] = (project, "s/Mrow")
    L["streaming.pipeline.route_s_per_mrow"] = (route, "s/Mrow")
    sink_write, sink_commit = probe_sink(stream)
    L["sinks_topic.write_s_per_mrow"] = (sink_write, "s/Mrow")
    L["sinks_topic.commit_ms"] = (sink_commit, "ms")

    # 2. traced backfill: the untraced workload's steps, set up once
    bf = cdc.Backfill(spark, seed, cdc_scale)
    bf.measure(0)
    cdc_group = bf.q.runId
    bf.stop()
    bf.check(res)
    n_bulk = len(bf.bulk)
    data = [p for batches in bf.batches for p in batches]
    files = [f for f in glob.glob(os.path.join(bf.out, "topics", "*", "batch-*"))
             if not os.path.basename(f).startswith("batch-0-")]   # warm-up batch
    L["sinks_topic.files_per_batch"] = (len(files) / len(data), "count")
    # phases of the small batches, the ones batch_latency_s times
    small = [p for batches in bf.batches[n_bulk:] for p in batches]
    for k, v in _phases(small).items():
        L[("sources.binlog_source." if k == "latest_offset_ms"
           else "streaming.pipeline.") + k] = (v, "ms")
    traced_e2e = {"cdc_backfill": {
        "throughput_per_s": bf.events_per_s(),
        "batch_latency_s": statistics.median(bf.small)}}

    # 3. traced dedup drain
    n_docs, per_shard = dedup.CORPUS[dedup_scale]
    corpus = dedup.make_corpus(seed, n_docs, per_shard, "corpus")
    warm = dedup.make_corpus(seed + 7919, dedup.WARM_DOCS, dedup.WARM_DOCS, "warm")
    dedup.index_once(spark, warm, "warm")
    with StoreTrace() as st:
        dwall, create_s, tm, tid, dprog = dedup.index_once(spark, corpus, "traced")
    res.attempted += n_docs
    dedup.check_assignments(res, spark, tm, tid, corpus)
    L["control.tasks.create_task_s"] = (create_s, "s")
    L["streaming.state_store.probe_s"] = (st.probe_s, "s")
    for name in STORES:
        L[f"streaming.state_store.{name}.merge_s"] = (st.merge_s[name], "s")
        L[f"streaming.state_store.{name}.bytes_written_mb"] = (st.bytes[name] / 2**20, "MB")
        L[f"streaming.state_store.{name}.touched_buckets"] = (st.buckets[name], "count")
    # the stores start empty, so their final size is the growth
    written = sum(st.bytes.values())
    L["streaming.state_store.write_amp"] = (written / max(st.live_bytes(), 1), "ratio")
    L["streaming.state_store.batch_ms"] = (
        statistics.median(batch_seconds(dprog)) * 1e3, "ms")
    traced_e2e["dedup_stream"] = {"throughput_per_s": n_docs / dwall,
                                  "batch_latency_s": statistics.median(
                                      batch_seconds(dprog))}
    dedup_group = dprog[0]["runId"]
    spark.stop()

    stats = event_log_stats(log_dir, {"cdc": cdc_group, "dedup": dedup_group})
    planned = bf.n_segments           # one partition per segment file
    scans = stats["cdc"]["scan_tasks"] / max(planned, 1)
    L["sources.binlog_source.scans_per_partition"] = (scans, "ratio")
    # share of a bulk chunk's wall that its per-row layer work (source
    # read, once per scan, projection, routing, sink write) fills when
    # spread evenly over the cores; the rest is per-trigger and per-task work
    per_row_s = (L["sources.binlog_source.read_s_per_mrow"][0] * scans
                 + project + route + sink_write) / 1e6
    bulk_share = (per_row_s * statistics.median(r for r, _w in bf.bulk)
                  / CORES / statistics.median(w for _r, w in bf.bulk))
    for label, prefix in (("cdc", "streaming.pipeline"),
                          ("dedup", "streaming.state_store")):
        s = stats[label]
        L[f"{prefix}.jobs"] = (s["jobs"], "count")
        L[f"{prefix}.tasks"] = (s["tasks"], "count")
        L[f"{prefix}.executor_run_s"] = (s["run_s"], "s")
        L[f"{prefix}.gc_s"] = (s["gc_s"], "s")
        L[f"{prefix}.shuffle_write_mb"] = (s["shuffle_write_mb"], "MB")
        L[f"{prefix}.spill_mb"] = (s["spill_mb"], "MB")

    # 4. single-thread baseline: one bulk chunk on local[1]
    spark1 = start_spark(cores=1)
    bf1 = cdc.Backfill(spark1, seed, cdc_scale)
    bf1.bulk.append(bf1.feed(*bf1.shape))
    bf1.stop()
    bf1.check(res)
    L["baseline.local1_events_per_s"] = (bf1.events_per_s(), "1/s")
    spark1.stop()

    res.layers = L
    untraced = _untraced(workload, seed)
    mine = traced_e2e[workload]
    res.detail.update(
        traced_e2e=mine,
        untraced_e2e=(untraced or {}).get("e2e"),
        tracing_overhead=({k: mine[k] - untraced["e2e"][k] for k in mine}
                          if untraced else "no untraced run recorded"),
        bulk_share_of_chunk_wall=bulk_share,
        tail_read_series=series, planned_partitions=planned,
        event_log=stats)
    return res
