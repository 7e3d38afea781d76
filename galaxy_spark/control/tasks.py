"""Task lifecycle control plane (T1) + durability/recovery (T2).

Reference surface (``internal/scheduler/api.go:13-27`` +
``post_task.go``/``update_task.go``/``scheduler.go``):

- create task (db/table filters + sink config), returns position info
- stop: ``stop`` | ``recovery_v1`` (resume saved position) |
  ``recovery_v2`` (jump to latest)
- filter update, delete, restore
- durability goroutine persists task JSON on every change; boot
  recovery re-launches all non-stopped tasks.

Spark mapping: each task is one StreamingQuery. ``stop`` =
``query.stop()`` + flag; recovery_v1 = restart with the SAME
checkpointLocation (offset log resumes); recovery_v2 = restart with
a FRESH checkpoint + ``startingOffsets=latest``; filter update =
restart from the SAME checkpoint with the new predicate compiled
into the plan (``update_filters``). Task metadata persists as JSON
next to the checkpoints; boot recovery iterates it and restarts
non-stopped tasks — the analog of ``taskRecovery``
(``scheduler.go:69-116``).

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
from collections.abc import Callable
from dataclasses import asdict, dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from galaxy_spark.cdc.filters import TaskFilter
from galaxy_spark.streaming import state_store as ss
from galaxy_spark.streaming.pipeline import SinkConfig, start_pipeline


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
    #: what the task RUNS: "cdc" = the reference's replication
    #: pipeline (source -> filter -> project -> keyed sink); every
    #: other kind is a stateful store task, one row of ``_KINDS``
    task_kind: str = "cdc"
    #: stateful-kind tuning (``_KINDS`` lists what each kind reads),
    #: persisted with the spec so boot recovery restarts with
    #: identical arithmetic; validated at creation
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
            # dropped field: ``live`` picked a foreachBatch pipeline
            # that wrote each batch with a plain append. Only its kafka
            # output resumes safely on start_pipeline: the streaming
            # file sink would start a _spark_metadata log in the
            # parquet output, hiding every row written before it, and
            # a memory sink cannot restart from a checkpoint
            live = d.pop("live", False)
            out[tid] = spec = TaskSpec(**d)
            if live and spec.sink_kind != "kafka":
                spec.stopped = True
                self.recovery_errors[tid] = ValueError(
                    f"task {tid} ran the removed live pipeline with a "
                    f"{spec.sink_kind!r} sink, which cannot resume from "
                    "its checkpoint: "
                    + ("delete it and create it again with a new output "
                       "path" if spec.sink_kind == "parquet"
                       else "use recovery_v2"))
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
        if not re.fullmatch(r"[A-Za-z0-9._-]+", spec.task_id) \
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
        kinds = ("cdc", *_KINDS)
        if spec.task_kind not in kinds:
            # fail a typo'd kind at creation, like the task_id
            # validation above (r11 review)
            raise ValueError(
                f"task_kind {spec.task_kind!r} unknown: use one of "
                f"{', '.join(map(repr, kinds))}")
        if spec.task_kind == "cdc":
            if spec.index_options:
                # r13 ADVICE: index_options tune the stateful kinds'
                # stores; a cdc task has none, so accepting (say)
                # fs='manifest' here would silently do nothing —
                # the same trap as a typo'd task_kind. Fail at
                # creation, like every other dead-config path.
                raise ValueError(
                    f"index_options apply to stateful task kinds only "
                    f"(task_kind='cdc' got "
                    f"{sorted(spec.index_options)!r})")
        else:
            # fail configuration errors at creation, not at the
            # first store construction mid-stream (r11 ADVICE)
            _index_options(spec, strict=True)
            if (spec.databases or spec.tables or spec.exclude_tables
                    or spec.columns):
                # consistent with update_filters' rejection: accepting
                # silently-dead filter config at creation and
                # rejecting the same fields on update told the user
                # the truth only on update (r11 review wave 2)
                raise ValueError(
                    f"db/table/column filters apply to cdc tasks only "
                    f"(task_kind={spec.task_kind!r})")
        # register only once the query runs: a source or sink that
        # fails to start must leave no task behind to block a retry
        # or reach tasks.json
        self._start(spec)
        self.tasks[spec.task_id] = spec
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

    def stores(self, spec_or_id) -> tuple:
        """A stateful task's store handles, in its ``_KINDS`` row
        order — same paths whether the query is running or stopped,
        so readers work across the lifecycle."""
        spec = self._spec(spec_or_id)
        opts = _index_options(spec)
        root = self.store_root(spec)
        kind = _KINDS[spec.task_kind]
        tunables = {k: opts.get(k) for k in kind.store_options}
        return tuple(
            ss.KeyedParquetStore(
                self.spark, os.path.join(root, subdir),
                store_spec(**tunables) if callable(store_spec)
                else store_spec,
                delta_threshold=opts.get(
                    "delta_threshold", _BIG_STORE_DELTA if big else None),
                fs=opts.get("fs", "posix"))
            for subdir, store_spec, big in kind.stores)

    def near_dup_pairs(self, task_id: str) -> DataFrame:
        """All near-dup pairs the task has emitted so far (the
        batch `dedup_minhash_lsh` output shape)."""
        return ss.streaming_near_dup_pairs(self.stores(task_id)[2])

    def near_dup_assignments(self, task_id: str) -> DataFrame:
        """Cluster assignments over every document the task has
        ingested (the batch `dedup_cluster_canonical` shape); the
        doc store IS the streamed universe."""
        _lsh, doc, _pair, cstore, rstore = self.stores(task_id)
        docs = doc.state().select(F.col("id").alias("doc_id"))
        return ss.streaming_cluster_assignments(docs, cstore, rstore)

    def search_bm25(self, task_id: str,
                    terms: tuple[str, ...]) -> DataFrame:
        """Top-20 BM25 over the task's incrementally-built index
        (the batch ``text_bm25_search`` output shape; reads
        layout-pruned to the query terms' buckets)."""
        postings, doclen, stats = self.stores(task_id)
        return ss.streaming_bm25(postings, doclen, stats, terms)

    def search_inverted_index(self, task_id: str) -> DataFrame:
        """The task's accumulated index in the batch
        ``text_inverted_index`` output shape."""
        return ss.streaming_inverted_index(self.stores(task_id)[0])

    def rollup_snapshot(self, task_id: str) -> DataFrame:
        """Accumulated multi-grain rollup rows (the batch
        ``events_multi_rollup`` output shape)."""
        return self.stores(task_id)[0].state()

    def rollup_gapfill(self, task_id: str) -> DataFrame:
        """Gap-filled hourly series + trailing-24h window off the
        task's store (== ``events_timeseries_gapfill`` over the
        same events)."""
        return ss.streaming_gapfill(self.stores(task_id)[0])

    def rollup_anomaly(self, task_id: str) -> DataFrame:
        """Daily volume-anomaly flags off the task's store
        (== ``events_anomaly_daily_counts`` over the same
        events)."""
        return ss.streaming_anomaly(self.stores(task_id)[0])

    def winnow_pairs(self, task_id: str) -> DataFrame:
        """Near-dup pairs over everything the task has streamed so
        far (the batch ``dedup_winnowing_pairs`` output shape —
        the exact reader, recomputed from accumulated fingerprint
        state)."""
        return ss.streaming_winnowing_pairs(self.stores(task_id)[0])

    def item_cf_topk(self, task_id: str) -> DataFrame:
        """Top-3 similar items off the task's accumulated
        co-occurrence hub (== batch ``similarity_item_cf_topk``)."""
        _b, cooc, deg = self.stores(task_id)
        return ss.streaming_item_cf_topk(cooc, deg)

    def frequent_pairs(self, task_id: str) -> DataFrame:
        """Frequent pairs + confidence off the same hub
        (== batch ``mining_frequent_pairs``)."""
        _b, cooc, deg = self.stores(task_id)
        return ss.streaming_frequent_pairs(cooc, deg)

    def pair_lift(self, task_id: str) -> DataFrame:
        """Association lift over the task's accumulated hub
        (== batch ``mining_pair_lift``)."""
        baskets, cooc, deg = self.stores(task_id)
        return ss.streaming_pair_lift(cooc, deg, baskets)

    def clustering_coefficient(self, task_id: str) -> DataFrame:
        """Per-node clustering coefficient over the co-purchase
        graph the task's cooc store holds (== batch
        ``graph_clustering_coefficient`` for uncapped hubs)."""
        return ss.streaming_clustering_coefficient(
            self.stores(task_id)[1])

    def degree_assortativity(self, task_id: str) -> DataFrame:
        """Newman's r over the same graph (== batch
        ``graph_degree_assortativity`` for uncapped hubs)."""
        return ss.streaming_degree_assortativity(
            self.stores(task_id)[1])

    def common_neighbors(self, task_id: str,
                         max_degree: int | None = None) -> DataFrame:
        """Per-edge common-neighbor/Jaccard link features (==
        batch ``graph_common_neighbors`` with the same
        ``max_degree``, for uncapped hubs). ``max_degree`` is the
        hot-node sampling lever — per-read, not per-task, because
        it shapes the ANSWER (sampled features), not the state."""
        return ss.streaming_common_neighbors(self.stores(task_id)[1],
                                             max_degree)

    def resource_allocation(self, task_id: str) -> DataFrame:
        """RA link-prediction index (== batch
        ``graph_resource_allocation`` for uncapped hubs)."""
        return ss.streaming_resource_allocation(
            self.stores(task_id)[1])

    def funnel(self, task_id: str) -> DataFrame:
        """Stage-gated funnel over everything the task streamed
        (== batch ``events_funnel_conversion``)."""
        return ss.streaming_funnel(self.stores(task_id)[1])

    def funnel_windowed(self, task_id: str) -> DataFrame:
        """24h-stage funnel off the same index
        (== batch ``events_funnel_windowed``)."""
        return ss.streaming_funnel_windowed(self.stores(task_id)[1])

    def retention_cohorts(self, task_id: str) -> DataFrame:
        """Weekly retention cohorts off the same index
        (== batch ``events_retention_cohorts``)."""
        return ss.streaming_retention(self.stores(task_id)[1])

    def attribution_last_touch(self, task_id: str) -> DataFrame:
        """Daily last-touch attribution off purchase facts + the
        click index (== batch ``events_attribution_last_touch``)."""
        return ss.streaming_attribution_last_touch(
            *self.stores(task_id))

    def time_to_convert(self, task_id: str) -> DataFrame:
        """Click-to-purchase latency buckets off the same two
        stores (== batch ``events_time_to_convert``)."""
        return ss.streaming_time_to_convert(*self.stores(task_id))

    def path_trigrams(self, task_id: str) -> DataFrame:
        """Three-step event-type paths over everything the task
        streamed (== batch ``events_path_trigrams``)."""
        return ss.streaming_path_trigrams(self.stores(task_id)[0])

    def markov_transitions(self, task_id: str) -> DataFrame:
        """First-order transition matrix off the same timelines
        (== batch ``events_markov_transitions``)."""
        return ss.streaming_markov_transitions(self.stores(task_id)[0])

    def interarrival_burstiness(self, task_id: str) -> DataFrame:
        """Per-type burstiness off the same timelines (== batch
        ``events_interarrival_burstiness``)."""
        return ss.streaming_interarrival_burstiness(
            self.stores(task_id)[0])

    def _start(self, spec: TaskSpec) -> None:
        env = self.source_factory(self.spark, spec)
        if spec.task_kind == "cdc":
            query = start_pipeline(
                env, spec.task_id, spec.task_filter(), list(spec.columns),
                spec.sink(), self.checkpoint_dir(spec))
        else:
            kind = _KINDS[spec.task_kind]
            opts = _index_options(spec)
            query = kind.starter(
                env, *self.stores(spec), self.checkpoint_dir(spec),
                **{k: opts[k] for k in kind.options if k in opts})
        self.queries[spec.task_id] = query
        spec.stopped = False

    def stop_task(self, task_id: str) -> None:
        """stop_type='stop': cancel + flag; no auto-restart on boot
        (``update_task.go:37-61``)."""
        q = self.queries.pop(task_id, None)
        if q is not None:
            q.stop()
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

        The predicate is compiled into the streaming plan, so a
        running task stops and starts again from the same
        checkpoint: the new filter applies from the next
        micro-batch, and no event is lost or published twice beyond
        the sink's at-least-once contract. The CDC query holds no
        state, so the restart rebuilds nothing. A running task on the
        memory sink is refused and keeps running: that sink cannot
        restart from a checkpoint. A restart that fails leaves the
        task stopped, durably, as ``recover_all`` leaves a task it
        cannot start, and raises."""
        spec = self.tasks[task_id]
        if spec.task_kind != "cdc":
            raise ValueError(
                f"task {task_id} is a {spec.task_kind!r} task; "
                "db/table filters apply to cdc tasks only")
        if spec.sink_kind == "memory" and task_id in self.queries:
            raise ValueError(
                f"task {task_id} writes the memory sink, which cannot "
                "restart from its checkpoint; a running task's filter "
                "update needs a kafka, parquet or topic_files sink")
        if databases is not None:
            spec.databases = tuple(databases)
        if tables is not None:
            spec.tables = tuple(tables)
        if exclude_tables is not None:
            spec.exclude_tables = tuple(exclude_tables)
        if task_id in self.queries:
            self.queries.pop(task_id).stop()
            try:
                self._start(spec)
            except Exception:
                spec.stopped = True
                self._persist()
                raise
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
        it can be fixed and resumed. A spec of the removed live
        pipeline that cannot resume (``_load_meta``) lands there
        too."""
        self.recovery_errors = {}
        self.tasks = self._load_meta()
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


#: default compaction cadence for corpus-sized stores (SCALE.md
#: r11 "delta-tier merges": O(batch) appends, bucket rewrite every
#: 8th touch)
_BIG_STORE_DELTA = 8


class _Kind(NamedTuple):
    """One stateful task kind."""

    #: (subdir, store spec, delta tier by default) per store, in
    #: the starter's argument order; a spec function is called with
    #: the kind's ``store_options``. Delta tier (O(batch) appends,
    #: compaction every 8th touch) suits the corpus-sized stores;
    #: small hot stores stay CoW, because their rewrite is already
    #: cheap and every read of a delta-bearing bucket pays a groupBy
    #: fold over up to T-1 delta files (r11 ADVICE)
    stores: tuple
    #: the ``streaming.state_store`` starter that runs the task
    starter: Callable
    #: the starter's keyword options and their types
    options: dict = {}
    #: the options the kind's spec functions take (integers)
    store_options: tuple = ()


_DOC_COLS = {"text_col": str, "id_col": str}

#: task_kind -> its stores, starter and options; with "cdc" (the
#: replication pipeline, ``streaming.pipeline.start_pipeline``) this
#: is the list of kinds ``create_task`` accepts. Every kind also takes
#: ``delta_threshold`` (absent -> the per-store defaults below, null
#: -> CoW everywhere, an integer -> that cadence everywhere) and
#: ``fs``, the commit protocol of ALL the task's stores, because a
#: task deploys onto one storage class: 'posix' (default) or
#: 'manifest' (object-store rename-less commits, fenced by a
#: conditional manifest put). 'manifest_cas' is accepted as a
#: second name for 'manifest', so task specs persisted under it
#: still recover
_KINDS = {
    # the LLM-pipeline growing near-dup index + incremental
    # clustering over a document stream (r10 verdict #8)
    "near_dup_index": _Kind(
        # doc/LSH/pair are insert-heavy and bucket-rewrite-bound,
        # exactly where amortized compaction pays; cluster/redirect
        # are tiny and hot
        (("lsh", ss.LSH_SPEC, True),
         ("doc", ss.DOC_SPEC, True),
         ("pair", ss.PAIR_SPEC, True),
         ("cluster", ss.CLUSTER_SPEC, False),
         ("redirect", ss.REDIRECT_SPEC, False)),
        ss.start_streaming_near_dup_clustering,
        {"n": int, "n_hashes": int, "bands": int, "threshold": float,
         **_DOC_COLS}),
    # the incrementally-maintained full-text index (r11 verdict #4)
    "search_index": _Kind(
        # postings/doclen are corpus-sized; the corpus stats store is
        # ONE row read on every query
        (("postings", ss.POSTINGS_SPEC, True),
         ("doclen", ss.DOC_LEN_SPEC, True),
         ("stats", ss.CORPUS_STATS_SPEC, False)),
        ss.start_streaming_search_index, _DOC_COLS),
    # the multi-grain time-series hub (r12): (grain, bucket,
    # type)-keyed counters, a calendar-bounded key space but touched
    # broadly every batch, so O(batch) appends beat a per-trigger
    # rewrite of most buckets
    "rollup": _Kind(
        (("rollup", ss.ROLLUP_SPEC, True),),
        ss.start_incremental_rollup_parquet),
    # the winnowing-fingerprint near-dup index (r13): one bounded row
    # per distinct fingerprint, corpus-sized
    "winnow_index": _Kind(
        (("winnow", ss.winnow_spec, True),),
        ss.start_streaming_winnowing_index, _DOC_COLS),
    # the co-occurrence hub (r13). Baskets and pair counts are
    # corpus-sized; the degree store is |items| rows probed
    # broadcast-side on every read. retention_days is the basket
    # store's eviction horizon; basket_cap its hash-sample width
    # (the streaming cap_mega_baskets, r14), at least 2 because a
    # 1-item sample never emits a pair
    "item_cf": _Kind(
        (("basket", ss.basket_spec, True),
         ("cooc", ss.COOC_SPEC, True),
         ("deg", ss.ITEM_DEG_SPEC, False)),
        ss.start_streaming_item_cf,
        store_options=("retention_days", "basket_cap")),
    # the events-analytics hub (r14): purchase facts + the per-(user,
    # type) event-time index, both user-keyed activity stores growing
    # with the corpus. retention_days bounds the INDEX (readers
    # answer over the retained window); the purchase store stays
    # exact, it is the revenue ledger
    "event_index": _Kind(
        (("purchase", ss.PURCHASE_SPEC, True),
         ("evindex", ss.event_index_spec, True)),
        ss.start_streaming_attribution_hub,
        store_options=("retention_days",)),
    # the per-user typed-timeline store (r14), growing with the
    # corpus; retention_days bounds the timelines
    "user_seq": _Kind(
        (("userseq", ss.user_seq_spec, True),),
        ss.start_streaming_user_seq, store_options=("retention_days",)),
}

#: integer options -> their floor; null keeps the option's default
_INT_FLOORS = {"delta_threshold": 1, "retention_days": 1,
               "basket_cap": 2}


def _index_options(spec: TaskSpec, strict: bool = False) -> dict:
    """The options of ``spec.index_options`` its kind reads,
    validated with an error naming the option: integers against
    their floor (non-integral floats — silent int() truncation
    turned 8.9 into 8 — strings and bools refused, r11 ADVICE),
    ``fs`` against its three protocols, starter options converted
    to their types. ``strict`` (creation only) also refuses a key
    the kind does not read, so a typo fails the POST; a persisted
    spec carrying one still recovers."""
    kind = _KINDS[spec.task_kind]
    opts = spec.index_options or {}
    takes = {"delta_threshold", "fs", *kind.options, *kind.store_options}
    unknown = sorted(set(opts) - takes)
    if strict and unknown:
        raise ValueError(
            f"index_options {unknown!r} do not apply to task_kind "
            f"{spec.task_kind!r}: it takes {sorted(takes)!r}")
    out = {}
    for key, v in opts.items():
        if key in unknown:
            continue
        if key in _INT_FLOORS and v is not None:
            ok = (isinstance(v, int) and not isinstance(v, bool)) or \
                (isinstance(v, float) and v.is_integer())
            if not ok or v < _INT_FLOORS[key]:
                raise ValueError(
                    f"index_options[{key!r}] must be an integer "
                    f">= {_INT_FLOORS[key]} or null, got {v!r}")
            v = int(v)
        elif key == "fs" and v not in ("posix", "manifest",
                                       "manifest_cas"):
            raise ValueError(
                f"index_options['fs'] must be 'posix' or 'manifest', "
                f"got {v!r}")
        elif key in kind.options:
            v = kind.options[key](v)
        out[key] = v
    return out
