"""Task lifecycle control plane (T1) + durability/recovery (T2).

Reference surface (``internal/scheduler/api.go:13-27`` +
``post_task.go``/``update_task.go``/``scheduler.go``):

- create task (db/table filters + sink config), returns position info
- stop: ``stop`` | ``recovery_v1`` (resume saved position) |
  ``recovery_v2`` (jump to latest)
- live filter update, delete, restore
- durability goroutine persists task JSON on every change; boot
  recovery re-launches all non-stopped tasks.

Spark mapping: each task is one StreamingQuery. ``stop`` =
``query.stop()`` + flag; recovery_v1 = restart with the SAME
checkpointLocation (offset log resumes); recovery_v2 = restart with
a FRESH checkpoint + ``startingOffsets=latest``; filter update: for
``live=True`` tasks the predicate is swapped into a per-batch
filter cell — NO restart, same runId (reference parity with the
RWMutex map swap; see ``streaming.pipeline.LiveFilterRef``) — while
static tasks restart with the new predicate compiled into the plan
(the streaming checkpoint explicitly supports a changed plan). Task
metadata persists as JSON next to the checkpoints; boot recovery
iterates it and restarts non-stopped tasks — the analog of
``taskRecovery`` (``scheduler.go:69-116``).

This module is deliberately framework-free; the HTTP layer serving
the reference's gin routes lives in ``galaxy_spark.control.api``
(stdlib http.server) as a thin shim over TaskManager — the engine
itself is the StreamingQuery management.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession

from galaxy_spark.cdc.filters import TaskFilter
from galaxy_spark.streaming.pipeline import (LiveFilterRef, SinkConfig,
                                             start_pipeline,
                                             start_pipeline_live)


@dataclass
class TaskSpec:
    """One replication task (reference: ``pkg.Task``,
    ``pkg/req_resp.go:11-17,63-73``)."""

    task_id: str
    databases: tuple[str, ...] = ()
    tables: tuple[str, ...] = ()
    exclude_tables: tuple[str, ...] = ()
    columns: tuple[str, ...] = ()
    sink_kind: str = "memory"
    sink_options: dict = field(default_factory=dict)
    stopped: bool = False
    #: bumped on recovery_v2 to point at a fresh checkpoint dir
    checkpoint_epoch: int = 0
    #: live=True runs the foreachBatch pipeline whose filter is
    #: re-read per micro-batch, so update_filters applies WITHOUT a
    #: query restart (reference parity: update_task.go's RWMutex
    #: swap; see streaming.pipeline.LiveFilterRef)
    live: bool = False
    #: what the task RUNS: "cdc" = the reference's replication
    #: pipeline (source -> filter -> project -> keyed sink);
    #: "near_dup_index" = the LLM-pipeline growing near-dup index +
    #: incremental clustering over a document stream
    #: (streaming.state_store.start_streaming_near_dup_clustering) —
    #: this closes the loop between the reference's T1 control plane
    #: and the driver-mandated dedup stores: index maintenance gets
    #: the same create/stop/resume/delete lifecycle, durability and
    #: boot recovery as a replication task (r10 verdict #8);
    #: "search_index" = the incrementally-maintained full-text
    #: index (postings + doc lengths + corpus stats,
    #: streaming.state_store.start_streaming_search_index) under
    #: the same lifecycle (r11 verdict #4);
    #: "rollup" = the continuous multi-grain time-series hub
    #: (hour/day rollup store) whose one write path serves three
    #: readers — rollup snapshot, gap-filled series, anomaly
    #: flags (r12);
    #: "winnow_index" = the growing winnowing-fingerprint near-dup
    #: index (streaming.state_store.start_streaming_winnowing_index)
    #: with the exact pair reader (r13);
    #: "item_cf" = the co-occurrence hub (basket/cooc/degree
    #: stores, streaming.state_store.start_streaming_item_cf)
    #: serving the item-CF top-k and frequent-pairs readers (r13);
    #: "event_index" = the events-analytics hub (per-(user, type)
    #: event-time index + purchase facts, one write path via
    #: streaming.state_store.start_streaming_attribution_hub)
    #: serving FOUR readers — funnel, windowed funnel, retention
    #: cohorts, last-touch attribution (r14);
    #: "user_seq" = the per-user typed-timeline store
    #: (streaming.state_store.start_streaming_user_seq) serving
    #: the path-trigrams reader (r14)
    task_kind: str = "cdc"
    #: stateful-kind tuning, persisted with the spec so boot
    #: recovery restarts with identical arithmetic:
    #: near_dup_index: n, n_hashes, bands, threshold, text_col,
    #: id_col; search_index / winnow_index: text_col, id_col;
    #: every stateful kind (near_dup_index / search_index / rollup
    #: / winnow_index / item_cf): delta_threshold (store write
    #: strategy) and fs (commit protocol: posix / manifest /
    #: manifest_cas), both validated at creation; item_cf /
    #: event_index / user_seq: retention_days (basket-store /
    #: event-index / timeline eviction horizon, r14); item_cf:
    #: basket_cap (hash-sample width — the streaming
    #: cap_mega_baskets, r14)
    index_options: dict = field(default_factory=dict)

    def task_filter(self) -> TaskFilter:
        return TaskFilter(self.databases, self.tables, self.exclude_tables)

    def sink(self) -> SinkConfig:
        opts = dict(self.sink_options)
        if self.sink_kind == "topic_files":
            # scope published batch names to the checkpoint epoch:
            # recovery_v2 bumps the epoch and restarts batchIds at
            # 0, which would otherwise overwrite/sweep the previous
            # epoch's already-delivered batch-<id> files
            opts.setdefault("lineage", f"e{self.checkpoint_epoch}")
        return SinkConfig(self.sink_kind, opts)


class TaskManager:
    """Create/stop/resume/update CDC tasks; persist + recover."""

    def __init__(self, spark: SparkSession, state_dir: str,
                 source_factory: Callable[[SparkSession, TaskSpec], DataFrame]):
        """``source_factory`` builds the envelope *stream* for a task
        (production: Kafka/Debezium readStream; tests: file source).
        """
        self.spark = spark
        self.state_dir = state_dir
        self.source_factory = source_factory
        self.tasks: dict[str, TaskSpec] = {}
        self.queries: dict[str, object] = {}
        self.live_filters: dict[str, LiveFilterRef] = {}
        #: task_id -> exception from the last recover_all; empty on
        #: a fresh manager (r12 ADVICE: the attribute only existed
        #: after recover_all ran, so status probes on a manager that
        #: never booted hit AttributeError)
        self.recovery_errors: dict[str, Exception] = {}
        os.makedirs(state_dir, exist_ok=True)
        self._meta_path = os.path.join(state_dir, "tasks.json")

    # -- durability (T2) --------------------------------------------
    def _persist(self) -> None:
        data = {tid: asdict(spec) for tid, spec in self.tasks.items()}
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f, indent=1, default=list)
        os.replace(tmp, self._meta_path)

    def _load_meta(self) -> dict[str, TaskSpec]:
        if not os.path.exists(self._meta_path):
            return {}
        with open(self._meta_path) as f:
            raw = json.load(f)
        out = {}
        for tid, d in raw.items():
            d = dict(d)
            for k in ("databases", "tables", "exclude_tables", "columns"):
                d[k] = tuple(d.get(k) or ())
            out[tid] = TaskSpec(**d)
        return out

    def checkpoint_dir(self, spec: TaskSpec) -> str:
        return os.path.join(self.state_dir, "checkpoints",
                            f"{spec.task_id}-e{spec.checkpoint_epoch}")

    # -- lifecycle (T1) ---------------------------------------------
    def create_task(self, spec: TaskSpec) -> str:
        """POST /v1/post_task analog.

        A duplicate ``task_id`` is a parameter error even when the
        existing task is STOPPED — silently replacing a stopped
        task's spec would reuse its checkpoint epoch numbering, so
        the "new" task resumes from the old task's saved offsets
        (mirrors the reference's duplicate-task rejection; delete
        first to reuse an id)."""
        import re as _re

        if not _re.fullmatch(r"[A-Za-z0-9._-]+", spec.task_id) \
                or spec.task_id in (".", ".."):
            # the id names checkpoint dirs, metadata files, and
            # topic prefixes — an unvalidated id with separators
            # escapes state_dir via path traversal and breaks
            # delete_task's cleanup regex
            raise ValueError(
                f"task_id {spec.task_id!r} invalid: use letters, "
                "digits, dot, underscore, dash")
        if spec.task_id in self.tasks:
            state = ("running" if spec.task_id in self.queries
                     else "stopped")
            raise ValueError(
                f"task {spec.task_id} already exists ({state}); "
                "delete it before reusing the id")
        if spec.task_kind not in self._STARTERS:
            # fail a typo'd kind at creation, like the task_id
            # validation above (r11 review)
            raise ValueError(
                f"task_kind {spec.task_kind!r} unknown: use one of "
                f"{', '.join(map(repr, self._STARTERS))}")
        if spec.task_kind != "cdc":
            # fail configuration errors at creation, not at the
            # first store construction mid-stream (r11 ADVICE)
            _validated_delta_threshold(spec.index_options or {})
            _validated_fs(spec.index_options or {})
        elif spec.index_options:
            # r13 ADVICE: index_options tune the stateful kinds'
            # stores; a cdc task has none, so accepting (say)
            # fs='manifest_cas' here would silently do nothing —
            # the same trap as a typo'd task_kind. Fail at
            # creation, like every other dead-config path.
            raise ValueError(
                f"index_options apply to stateful task kinds only "
                f"(task_kind='cdc' got "
                f"{sorted(spec.index_options)!r})")
        if spec.task_kind in ("item_cf", "event_index",
                              "user_seq"):
            _validated_retention_days(spec.index_options or {})
        if spec.task_kind == "item_cf":
            _validated_basket_cap(spec.index_options or {})
        if spec.task_kind != "cdc" and spec.live:
            # live filter swapping is a CDC-pipeline feature; the
            # near-dup handler has no filter cell, and accepting
            # live=True left update_filters with a KeyError path
            raise ValueError(
                f"live=True applies to cdc tasks only (task_kind="
                f"{spec.task_kind!r})")
        if spec.task_kind != "cdc" and (
                spec.databases or spec.tables or spec.exclude_tables
                or spec.columns):
            # consistent with update_filters' rejection: accepting
            # silently-dead filter config at creation and rejecting
            # the same fields on update told the user the truth
            # only on update (r11 review wave 2)
            raise ValueError(
                f"db/table/column filters apply to cdc tasks only "
                f"(task_kind={spec.task_kind!r})")
        self.tasks[spec.task_id] = spec
        self._start(spec)
        self._persist()
        return spec.task_id

    def _spec(self, spec_or_id) -> TaskSpec:
        """A task's spec, given the spec itself or its id."""
        return (self.tasks[spec_or_id]
                if isinstance(spec_or_id, str) else spec_or_id)

    def store_root(self, spec: TaskSpec) -> str:
        """Durable-store root for stateful task kinds — scoped to
        the checkpoint epoch like the checkpoint dir itself:
        recovery_v2 means "jump to latest, fresh state", and a
        fresh checkpoint's lineage would (correctly) be refused by
        stores still holding the old lineage's state."""
        return os.path.join(self.state_dir, "stores",
                            f"{spec.task_id}-e{spec.checkpoint_epoch}")

    def near_dup_stores(self, spec_or_id) -> tuple:
        """(lsh, doc, pair, cluster, redirect) store handles for a
        near_dup_index task — same paths whether the query is
        running or stopped, so readers work across the lifecycle."""
        from galaxy_spark.streaming.state_store import (
            ParquetClusterStore, ParquetDocStore, ParquetLshStore,
            ParquetPairStore, ParquetRedirectStore)

        spec = self._spec(spec_or_id)
        root = self.store_root(spec)
        stores = (
            ParquetLshStore(self.spark, os.path.join(root, "lsh")),
            ParquetDocStore(self.spark, os.path.join(root, "doc")),
            ParquetPairStore(self.spark, os.path.join(root, "pair")),
            ParquetClusterStore(self.spark,
                                os.path.join(root, "cluster")),
            ParquetRedirectStore(self.spark,
                                 os.path.join(root, "redirect")))
        # production default: delta-tier writes (O(batch) appends,
        # compaction every 8th touch) for the CORPUS-SIZED stores
        # only — doc/LSH/pair are insert-heavy and bucket-rewrite-
        # bound, exactly where amortized compaction pays. The tiny
        # hot cluster/redirect stores default to CoW: their
        # per-epoch rewrite is already cheap, and every probe of a
        # delta-bearing bucket would pay a groupBy fold over up to
        # T-1 delta files for no write-side win (r11 ADVICE).
        # Per-task override through the same options dict as the
        # index tunables; explicit null selects CoW everywhere.
        _apply_delta_thresholds(stores, spec.index_options or {},
                                big=(True, True, True, False, False))
        return stores

    def near_dup_pairs(self, task_id: str) -> DataFrame:
        """All near-dup pairs the task has emitted so far (the
        batch `dedup_minhash_lsh` output shape)."""
        from galaxy_spark.streaming.state_store import \
            streaming_near_dup_pairs

        return streaming_near_dup_pairs(
            self.near_dup_stores(task_id)[2])

    def near_dup_assignments(self, task_id: str) -> DataFrame:
        """Cluster assignments over every document the task has
        ingested (the batch `dedup_cluster_canonical` shape); the
        doc store IS the streamed universe."""
        from pyspark.sql import functions as F

        from galaxy_spark.streaming.state_store import \
            streaming_cluster_assignments

        _lsh, doc, _pair, cstore, rstore = self.near_dup_stores(
            task_id)
        docs = doc.state().select(F.col("id").alias("doc_id"))
        return streaming_cluster_assignments(docs, cstore, rstore)

    def search_stores(self, spec_or_id) -> tuple:
        """(postings, doclen, stats) store handles for a
        search_index task — same paths running or stopped, so
        BM25 queries work across the lifecycle."""
        from galaxy_spark.streaming.state_store import (
            ParquetCorpusStatsStore, ParquetDocLenStore,
            ParquetPostingsStore)

        spec = self._spec(spec_or_id)
        root = self.store_root(spec)
        stores = (
            ParquetPostingsStore(self.spark,
                                 os.path.join(root, "postings")),
            ParquetDocLenStore(self.spark,
                               os.path.join(root, "doclen")),
            ParquetCorpusStatsStore(self.spark,
                                    os.path.join(root, "stats")))
        # postings/doclen are corpus-sized (delta tier); the corpus
        # stats store is ONE row read on every query — CoW, same
        # hot-store reasoning as cluster/redirect above
        _apply_delta_thresholds(stores, spec.index_options or {},
                                big=(True, True, False))
        return stores

    def search_bm25(self, task_id: str,
                    terms: tuple[str, ...]) -> DataFrame:
        """Top-20 BM25 over the task's incrementally-built index
        (the batch ``text_bm25_search`` output shape; reads
        layout-pruned to the query terms' buckets)."""
        from galaxy_spark.streaming.state_store import streaming_bm25

        postings, doclen, stats = self.search_stores(task_id)
        return streaming_bm25(postings, doclen, stats, terms)

    def search_inverted_index(self, task_id: str) -> DataFrame:
        """The task's accumulated index in the batch
        ``text_inverted_index`` output shape."""
        from galaxy_spark.streaming.state_store import \
            streaming_inverted_index

        return streaming_inverted_index(self.search_stores(task_id)[0])

    def _start_search_index(self, spec: TaskSpec, env: DataFrame):
        from galaxy_spark.streaming.state_store import \
            start_streaming_search_index

        postings, doclen, stats = self.search_stores(spec)
        opts = dict(spec.index_options)
        return start_streaming_search_index(
            env, postings, doclen, stats, self.checkpoint_dir(spec),
            text_col=opts.get("text_col", "text"),
            id_col=opts.get("id_col", "doc_id"))

    def rollup_store(self, spec_or_id):
        """The multi-grain rollup store handle for a rollup task —
        same path running or stopped, so the three readers work
        across the lifecycle."""
        from galaxy_spark.streaming.state_store import \
            ParquetRollupStore

        spec = self._spec(spec_or_id)
        store = ParquetRollupStore(
            self.spark,
            os.path.join(self.store_root(spec), "rollup"))
        # (grain, bucket, type)-keyed counters: calendar-bounded key
        # space but touched broadly every batch — the delta tier's
        # O(batch) appends beat a per-trigger rewrite of most
        # buckets
        _apply_delta_thresholds((store,), spec.index_options or {},
                                big=(True,))
        return store

    def rollup_snapshot(self, task_id: str) -> DataFrame:
        """Accumulated multi-grain rollup rows (the batch
        ``events_multi_rollup`` output shape)."""
        return self.rollup_store(task_id).state()

    def rollup_gapfill(self, task_id: str) -> DataFrame:
        """Gap-filled hourly series + trailing-24h window off the
        task's store (== ``events_timeseries_gapfill`` over the
        same events)."""
        from galaxy_spark.streaming.state_store import \
            streaming_gapfill

        return streaming_gapfill(self.rollup_store(task_id))

    def rollup_anomaly(self, task_id: str) -> DataFrame:
        """Daily volume-anomaly flags off the task's store
        (== ``events_anomaly_daily_counts`` over the same
        events)."""
        from galaxy_spark.streaming.state_store import \
            streaming_anomaly

        return streaming_anomaly(self.rollup_store(task_id))

    def _start_rollup(self, spec: TaskSpec, env: DataFrame):
        from galaxy_spark.streaming.state_store import \
            start_incremental_rollup_parquet

        return start_incremental_rollup_parquet(
            env, self.rollup_store(spec), self.checkpoint_dir(spec))

    def winnow_store(self, spec_or_id):
        """The winnowing-fingerprint store handle for a
        winnow_index task — same path running or stopped."""
        from galaxy_spark.streaming.state_store import \
            ParquetWinnowStore

        spec = self._spec(spec_or_id)
        store = ParquetWinnowStore(
            self.spark,
            os.path.join(self.store_root(spec), "winnow"))
        # corpus-sized (one bounded row per distinct fingerprint)
        # -> delta tier by default, like postings/doc/LSH
        _apply_delta_thresholds((store,), spec.index_options or {},
                                big=(True,))
        return store

    def winnow_pairs(self, task_id: str) -> DataFrame:
        """Near-dup pairs over everything the task has streamed so
        far (the batch ``dedup_winnowing_pairs`` output shape —
        the exact reader, recomputed from accumulated fingerprint
        state)."""
        from galaxy_spark.streaming.state_store import \
            streaming_winnowing_pairs

        return streaming_winnowing_pairs(self.winnow_store(task_id))

    def _start_winnow(self, spec: TaskSpec, env: DataFrame):
        from galaxy_spark.streaming.state_store import \
            start_streaming_winnowing_index

        opts = dict(spec.index_options)
        return start_streaming_winnowing_index(
            env, self.winnow_store(spec), self.checkpoint_dir(spec),
            text_col=opts.get("text_col", "text"),
            id_col=opts.get("id_col", "doc_id"))

    def item_cf_stores(self, spec_or_id) -> tuple:
        """(basket, cooc, deg) store handles for an item_cf task —
        same paths running or stopped."""
        from galaxy_spark.streaming.state_store import (
            ParquetBasketStore, ParquetCoocStore,
            ParquetItemDegStore)

        spec = self._spec(spec_or_id)
        root = self.store_root(spec)
        stores = (
            ParquetBasketStore(self.spark,
                               os.path.join(root, "basket"),
                               retention_days=_validated_retention_days(
                                   spec.index_options or {}),
                               basket_cap=_validated_basket_cap(
                                   spec.index_options or {})),
            ParquetCoocStore(self.spark, os.path.join(root, "cooc")),
            ParquetItemDegStore(self.spark,
                                os.path.join(root, "deg")))
        # baskets and pair counts are corpus-sized (delta tier);
        # the degree store is |items| rows probed broadcast-side on
        # every read — CoW, the hot-store reasoning
        _apply_delta_thresholds(stores, spec.index_options or {},
                                big=(True, True, False))
        return stores

    def item_cf_topk(self, task_id: str) -> DataFrame:
        """Top-3 similar items off the task's accumulated
        co-occurrence hub (== batch ``similarity_item_cf_topk``)."""
        from galaxy_spark.streaming.state_store import \
            streaming_item_cf_topk

        _b, cooc, deg = self.item_cf_stores(task_id)
        return streaming_item_cf_topk(cooc, deg)

    def frequent_pairs(self, task_id: str) -> DataFrame:
        """Frequent pairs + confidence off the same hub
        (== batch ``mining_frequent_pairs``)."""
        from galaxy_spark.streaming.state_store import \
            streaming_frequent_pairs

        _b, cooc, deg = self.item_cf_stores(task_id)
        return streaming_frequent_pairs(cooc, deg)

    def pair_lift(self, task_id: str) -> DataFrame:
        """Association lift over the task's accumulated hub
        (== batch ``mining_pair_lift``)."""
        from galaxy_spark.streaming.state_store import \
            streaming_pair_lift

        baskets, cooc, deg = self.item_cf_stores(task_id)
        return streaming_pair_lift(cooc, deg, baskets)

    def clustering_coefficient(self, task_id: str) -> DataFrame:
        """Per-node clustering coefficient over the co-purchase
        graph the task's cooc store holds (== batch
        ``graph_clustering_coefficient`` for uncapped hubs)."""
        from galaxy_spark.streaming.state_store import \
            streaming_clustering_coefficient

        _b, cooc, _d = self.item_cf_stores(task_id)
        return streaming_clustering_coefficient(cooc)

    def degree_assortativity(self, task_id: str) -> DataFrame:
        """Newman's r over the same graph (== batch
        ``graph_degree_assortativity`` for uncapped hubs)."""
        from galaxy_spark.streaming.state_store import \
            streaming_degree_assortativity

        _b, cooc, _d = self.item_cf_stores(task_id)
        return streaming_degree_assortativity(cooc)

    def common_neighbors(self, task_id: str,
                         max_degree: int | None = None) -> DataFrame:
        """Per-edge common-neighbor/Jaccard link features (==
        batch ``graph_common_neighbors`` with the same
        ``max_degree``, for uncapped hubs). ``max_degree`` is the
        hot-node sampling lever — per-read, not per-task, because
        it shapes the ANSWER (sampled features), not the state."""
        from galaxy_spark.streaming.state_store import \
            streaming_common_neighbors

        _b, cooc, _d = self.item_cf_stores(task_id)
        return streaming_common_neighbors(cooc, max_degree)

    def resource_allocation(self, task_id: str) -> DataFrame:
        """RA link-prediction index (== batch
        ``graph_resource_allocation`` for uncapped hubs)."""
        from galaxy_spark.streaming.state_store import \
            streaming_resource_allocation

        _b, cooc, _d = self.item_cf_stores(task_id)
        return streaming_resource_allocation(cooc)

    def _start_item_cf(self, spec: TaskSpec, env: DataFrame):
        from galaxy_spark.streaming.state_store import \
            start_streaming_item_cf

        baskets, cooc, deg = self.item_cf_stores(spec)
        return start_streaming_item_cf(
            env, baskets, cooc, deg, self.checkpoint_dir(spec))

    def event_index_stores(self, spec_or_id) -> tuple:
        """(purchase, event-index) store handles for an
        event_index task — same paths running or stopped.
        ``index_options['retention_days']`` bounds the EVENT-TIME
        INDEX (the state_store retention design: readers answer
        over the retained window); the purchase-fact store stays
        exact (it is the revenue ledger)."""
        from galaxy_spark.streaming.state_store import (
            ParquetEventIndexStore, ParquetPurchaseStore)

        spec = self._spec(spec_or_id)
        root = self.store_root(spec)
        stores = (
            ParquetPurchaseStore(self.spark,
                                 os.path.join(root, "purchase")),
            ParquetEventIndexStore(
                self.spark, os.path.join(root, "evindex"),
                retention_days=_validated_retention_days(
                    spec.index_options or {})))
        # both are user-keyed activity stores that grow with the
        # corpus — delta tier for both
        _apply_delta_thresholds(stores, spec.index_options or {},
                                big=(True, True))
        return stores

    def funnel(self, task_id: str) -> DataFrame:
        """Stage-gated funnel over everything the task streamed
        (== batch ``events_funnel_conversion``)."""
        from galaxy_spark.streaming.state_store import \
            streaming_funnel

        return streaming_funnel(self.event_index_stores(task_id)[1])

    def funnel_windowed(self, task_id: str) -> DataFrame:
        """24h-stage funnel off the same index
        (== batch ``events_funnel_windowed``)."""
        from galaxy_spark.streaming.state_store import \
            streaming_funnel_windowed

        return streaming_funnel_windowed(
            self.event_index_stores(task_id)[1])

    def retention_cohorts(self, task_id: str) -> DataFrame:
        """Weekly retention cohorts off the same index
        (== batch ``events_retention_cohorts``)."""
        from galaxy_spark.streaming.state_store import \
            streaming_retention

        return streaming_retention(
            self.event_index_stores(task_id)[1])

    def attribution_last_touch(self, task_id: str) -> DataFrame:
        """Daily last-touch attribution off purchase facts + the
        click index (== batch ``events_attribution_last_touch``)."""
        from galaxy_spark.streaming.state_store import \
            streaming_attribution_last_touch

        pur, idx = self.event_index_stores(task_id)
        return streaming_attribution_last_touch(pur, idx)

    def time_to_convert(self, task_id: str) -> DataFrame:
        """Click-to-purchase latency buckets off the same two
        stores (== batch ``events_time_to_convert``)."""
        from galaxy_spark.streaming.state_store import \
            streaming_time_to_convert

        pur, idx = self.event_index_stores(task_id)
        return streaming_time_to_convert(pur, idx)

    def _start_event_index(self, spec: TaskSpec, env: DataFrame):
        from galaxy_spark.streaming.state_store import \
            start_streaming_attribution_hub

        pur, idx = self.event_index_stores(spec)
        return start_streaming_attribution_hub(
            env, pur, idx, self.checkpoint_dir(spec))

    def user_seq_store(self, spec_or_id):
        """Typed-timeline store handle for a user_seq task — same
        path running or stopped. ``index_options['retention_days']``
        bounds the timelines (readers answer over the retained
        window)."""
        from galaxy_spark.streaming.state_store import \
            ParquetUserSeqStore

        spec = self._spec(spec_or_id)
        store = ParquetUserSeqStore(
            self.spark,
            os.path.join(self.store_root(spec), "userseq"),
            retention_days=_validated_retention_days(
                spec.index_options or {}))
        # user-keyed activity store growing with the corpus —
        # delta tier
        _apply_delta_thresholds((store,), spec.index_options or {},
                                big=(True,))
        return store

    def path_trigrams(self, task_id: str) -> DataFrame:
        """Three-step event-type paths over everything the task
        streamed (== batch ``events_path_trigrams``)."""
        from galaxy_spark.streaming.state_store import \
            streaming_path_trigrams

        return streaming_path_trigrams(self.user_seq_store(task_id))

    def markov_transitions(self, task_id: str) -> DataFrame:
        """First-order transition matrix off the same timelines
        (== batch ``events_markov_transitions``)."""
        from galaxy_spark.streaming.state_store import \
            streaming_markov_transitions

        return streaming_markov_transitions(
            self.user_seq_store(task_id))

    def interarrival_burstiness(self, task_id: str) -> DataFrame:
        """Per-type burstiness off the same timelines (== batch
        ``events_interarrival_burstiness``)."""
        from galaxy_spark.streaming.state_store import \
            streaming_interarrival_burstiness

        return streaming_interarrival_burstiness(
            self.user_seq_store(task_id))

    def _start_user_seq(self, spec: TaskSpec, env: DataFrame):
        from galaxy_spark.streaming.state_store import \
            start_streaming_user_seq

        return start_streaming_user_seq(
            env, self.user_seq_store(spec),
            self.checkpoint_dir(spec))

    def _start_near_dup(self, spec: TaskSpec, env: DataFrame):
        from galaxy_spark.streaming.state_store import \
            start_streaming_near_dup_clustering

        lsh, doc, pair, cstore, rstore = self.near_dup_stores(spec)
        opts = dict(spec.index_options)
        return start_streaming_near_dup_clustering(
            env, lsh, doc, pair, cstore, rstore,
            self.checkpoint_dir(spec),
            n=int(opts.get("n", 5)),
            n_hashes=int(opts.get("n_hashes", 32)),
            bands=int(opts.get("bands", 8)),
            threshold=float(opts.get("threshold", 0.5)),
            text_col=opts.get("text_col", "text"),
            id_col=opts.get("id_col", "doc_id"))

    def _start_cdc(self, spec: TaskSpec, env: DataFrame):
        if not spec.live:
            return start_pipeline(
                env, spec.task_id, spec.task_filter(), list(spec.columns),
                spec.sink(), self.checkpoint_dir(spec),
            )
        ref = LiveFilterRef(spec.task_filter())
        self.live_filters[spec.task_id] = ref
        return start_pipeline_live(
            env, spec.task_id, ref, list(spec.columns),
            spec.sink(), self.checkpoint_dir(spec),
        )

    #: task_kind -> the starter that runs it; this table is also the
    #: list of kinds ``create_task`` accepts
    _STARTERS = {
        "cdc": _start_cdc,
        "near_dup_index": _start_near_dup,
        "search_index": _start_search_index,
        "rollup": _start_rollup,
        "winnow_index": _start_winnow,
        "item_cf": _start_item_cf,
        "event_index": _start_event_index,
        "user_seq": _start_user_seq,
    }

    def _start(self, spec: TaskSpec) -> None:
        env = self.source_factory(self.spark, spec)
        self.queries[spec.task_id] = \
            self._STARTERS[spec.task_kind](self, spec, env)
        spec.stopped = False

    def stop_task(self, task_id: str) -> None:
        """stop_type='stop': cancel + flag; no auto-restart on boot
        (``update_task.go:37-61``)."""
        q = self.queries.pop(task_id, None)
        if q is not None:
            q.stop()
        self.live_filters.pop(task_id, None)
        self.tasks[task_id].stopped = True
        self._persist()

    def recover_v1(self, task_id: str) -> None:
        """Resume from the saved position: same checkpoint dir
        (``update_task.go:63-65``)."""
        spec = self.tasks[task_id]
        if task_id in self.queries:
            return
        self._start(spec)
        self._persist()

    def recover_v2(self, task_id: str) -> None:
        """Jump to latest: fresh checkpoint (the reference zeroes
        PositionPos, ``update_task.go:66-68``). The source factory
        should honor ``startingOffsets=latest`` for epoch>0."""
        spec = self.tasks[task_id]
        if task_id in self.queries:
            self.stop_task(task_id)
        spec.checkpoint_epoch += 1
        self._start(spec)
        self._persist()

    def update_filters(self, task_id: str, databases=None, tables=None,
                       exclude_tables=None) -> None:
        """Filter update (reference mutates shared maps under an
        RWMutex, ``update_task.go:150-197``).

        live=True tasks (foreachBatch pipeline): the new predicate
        is swapped into the task's ``LiveFilterRef`` and takes
        effect on the NEXT micro-batch — NO query restart, offsets
        and accumulated state untouched, same runId.

        live=False tasks compile the predicate into the streaming
        plan, so the update is a restart from the same checkpoint —
        offsets preserved, no events lost, but in-memory state
        rebuilds; use live=True when hours of state matter."""
        spec = self.tasks[task_id]
        if spec.task_kind != "cdc":
            raise ValueError(
                f"task {task_id} is a {spec.task_kind!r} task; "
                "db/table filters apply to cdc tasks only")
        running = task_id in self.queries
        if databases is not None:
            spec.databases = tuple(databases)
        if tables is not None:
            spec.tables = tuple(tables)
        if exclude_tables is not None:
            spec.exclude_tables = tuple(exclude_tables)
        if running and spec.live:
            self.live_filters[task_id].set(spec.task_filter())
        elif running:
            q = self.queries.pop(task_id)
            q.stop()
            self._start(spec)
        self._persist()

    def delete_task(self, task_id: str, drop_state: bool = True) -> None:
        if task_id in self.queries:
            self.stop_task(task_id)
        self.tasks.pop(task_id, None)
        if drop_state:
            # Only this task's checkpoint epochs — the checkpoints
            # root is shared by every task, and removing it would
            # destroy the other tasks' saved offsets. Epochs match
            # EXACTLY (task ids are caller-supplied, so a prefix
            # glob on "foo-e*" would also hit task "foo-extra"'s
            # "foo-extra-e0" dir).
            pat = re.compile(rf"{re.escape(task_id)}-e\d+\Z")
            for root in (os.path.join(self.state_dir, "checkpoints"),
                         os.path.join(self.state_dir, "stores")):
                if os.path.isdir(root):
                    for name in os.listdir(root):
                        if pat.fullmatch(name):
                            shutil.rmtree(os.path.join(root, name),
                                          ignore_errors=True)
        self._persist()

    # -- boot recovery (T2) -----------------------------------------
    def recover_all(self) -> list[str]:
        """Boot-time re-launch of all non-stopped tasks
        (``scheduler.go:69-116``). Failures are isolated PER TASK
        (r12 review: one unstartable spec — e.g. a legacy
        ``delta_threshold`` value the stricter validation now
        rejects — must not abort recovery for every task behind it;
        the reference's own taskRecovery logs and continues).
        Failed task ids -> exceptions land in ``recovery_errors``
        for the operator; the task stays registered and stopped so
        it can be fixed and resumed."""
        self.tasks = self._load_meta()
        self.recovery_errors = {}
        started = []
        for tid, spec in self.tasks.items():
            if spec.stopped:
                continue
            try:
                self._start(spec)
                started.append(tid)
            except Exception as exc:        # noqa: BLE001 — isolate
                self.recovery_errors[tid] = exc
                spec.stopped = True
        if self.recovery_errors:
            # make the stopped flags DURABLE (r12 ADVICE: they lived
            # only in memory, so every boot retried the bad spec, and
            # an unrelated later _persist() committed them silently
            # as a side effect)
            self._persist()
        return started

    # -- introspection ----------------------------------------------
    def status(self) -> dict[str, dict]:
        out = {}
        for tid, spec in self.tasks.items():
            q = self.queries.get(tid)
            out[tid] = {
                "stopped": spec.stopped,
                "active": q is not None and q.isActive,
                "checkpoint": self.checkpoint_dir(spec),
            }
        return out

    def await_all(self, timeout_s: float = 30.0) -> None:
        """Drain all running queries (testing helper)."""
        deadline = time.time() + timeout_s
        for q in list(self.queries.values()):
            q.processAllAvailable()
            if time.time() > deadline:
                break


#: sentinel: option absent -> per-store defaults apply
_DT_DEFAULT = object()

#: default compaction cadence for corpus-sized stores (SCALE.md
#: r11 "delta-tier merges": O(batch) appends, bucket rewrite every
#: 8th touch)
_BIG_STORE_DELTA = 8


def _validated_delta_threshold(opts: dict):
    """Resolve ``index_options['delta_threshold']``: absent ->
    sentinel (per-store defaults), explicit null -> CoW everywhere,
    integer >= 1 -> that cadence everywhere. Anything else —
    non-integral floats (silent int() truncation turned 8.9 into
    8), strings, bools — is rejected with an error naming the
    option (r11 ADVICE)."""
    if "delta_threshold" not in opts:
        return _DT_DEFAULT
    dt = opts["delta_threshold"]
    if dt is None:
        return None
    ok = (isinstance(dt, int) and not isinstance(dt, bool)) or \
        (isinstance(dt, float) and dt.is_integer())
    if not ok or int(dt) < 1:
        raise ValueError(
            f"index_options['delta_threshold'] must be an integer "
            f">= 1 or null, got {dt!r}")
    return int(dt)


def _validated_fs(opts: dict) -> str:
    """Resolve ``index_options['fs']`` — the commit-protocol
    strategy for every durable store a stateful task owns
    (store_fs.py): 'posix' (default), 'manifest' (object-store
    rename-less commits), 'manifest_cas' (manifest + two-live-
    writer conditional-put fencing). Validated at task creation
    like delta_threshold so a typo fails the POST, not the first
    micro-batch."""
    fs = opts.get("fs", "posix")
    if fs not in ("posix", "manifest", "manifest_cas"):
        raise ValueError(
            f"index_options['fs'] must be 'posix', 'manifest' or "
            f"'manifest_cas', got {fs!r}")
    return fs


def _validated_retention_days(opts: dict) -> int | None:
    """Resolve ``index_options['retention_days']`` (item_cf: the
    basket store's eviction horizon — state_store.py
    ParquetBasketStore). Absent/null -> exact-forever; integer
    >= 1 -> that horizon. Validated at creation like the other
    options so a typo fails the POST, not the first micro-batch."""
    rd = opts.get("retention_days")
    if rd is None:
        return None
    ok = (isinstance(rd, int) and not isinstance(rd, bool)) or \
        (isinstance(rd, float) and rd.is_integer())
    if not ok or int(rd) < 1:
        raise ValueError(
            f"index_options['retention_days'] must be an integer "
            f">= 1 or null, got {rd!r}")
    return int(rd)


def _validated_basket_cap(opts: dict) -> int | None:
    """Resolve ``index_options['basket_cap']`` (item_cf: the
    basket store's hash-sample width — state_store.py
    ParquetBasketStore / _cooc_deltas_capped; the streaming face
    of the batch queries' ``cap_mega_baskets`` knob). Absent/null
    -> exact uncapped hub; integer >= 2 -> per-basket sample of at
    most that many items, pair fan-out bounded by cap²."""
    bc = opts.get("basket_cap")
    if bc is None:
        return None
    ok = (isinstance(bc, int) and not isinstance(bc, bool)) or \
        (isinstance(bc, float) and bc.is_integer())
    if not ok or int(bc) < 2:
        raise ValueError(
            f"index_options['basket_cap'] must be an integer "
            f">= 2 or null, got {bc!r}")
    return int(bc)


def _apply_delta_thresholds(stores, opts: dict,
                            big: tuple[bool, ...]) -> None:
    """Set each store's write strategy: per-store defaults (delta
    tier for corpus-sized stores, CoW for small hot ones) unless
    the task option overrides uniformly; plus the task-wide commit
    strategy (``fs``) — one strategy for ALL of a task's stores,
    because a task deploys onto one storage class."""
    from galaxy_spark.streaming.store_fs import store_fs

    dt = _validated_delta_threshold(opts)
    fs = _validated_fs(opts)
    for s, is_big in zip(stores, big):
        if dt is _DT_DEFAULT:
            s.delta_threshold = _BIG_STORE_DELTA if is_big else None
        else:
            s.delta_threshold = dt
        s.fs = store_fs(fs)


def new_task_id() -> str:
    return uuid.uuid4().hex[:12]
