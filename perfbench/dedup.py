"""``dedup_stream``: a ``TaskManager`` ``near_dup_index`` task over a
generated document corpus split into fixed-size shard files and read
one file per trigger. Each drain is one task lifecycle (create, run
until the stream drains, stop); its output is checked against the
batch ``dedup_cluster_canonical`` answer on the same documents."""

from __future__ import annotations

import os
import statistics
import time

from common import (Result, batch_seconds, fresh_dir, peak_rss_mb, session,
                    timed_setup)
from gen import write_documents

#: (documents, documents per shard file) per scale
CORPUS = {"full": (300, 150), "smoke": (200, 100)}
#: warm-up corpus: one shard, so one micro-batch
WARM_DOCS = 20


def _manager(spark, state_dir: str, corpus_dir: str):
    from galaxy_spark.control.tasks import TaskManager
    from galaxy_spark.tables import load_table

    schema = load_table(spark, corpus_dir, "documents").schema
    shard_dir = os.path.join(corpus_dir, "documents.parquet")

    def factory(spark, spec):
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(shard_dir))
    return TaskManager(spark, state_dir, factory)


def index_once(spark, corpus_dir: str, tag: str):
    """One task lifecycle over the corpus shards; returns
    (wall from create_task until drained, create_task seconds,
    manager, task id, progress)."""
    from galaxy_spark.control.tasks import TaskSpec

    tm = _manager(spark, fresh_dir("dedup", f"state-{tag}"), corpus_dir)
    t0 = time.perf_counter()
    tm.create_task(TaskSpec(task_id=f"nd-{tag}", task_kind="near_dup_index"))
    t1 = time.perf_counter()
    q = tm.queries[f"nd-{tag}"]
    q.processAllAvailable()
    wall = time.perf_counter() - t0
    progress = q.recentProgress
    tm.stop_task(f"nd-{tag}")
    return wall, t1 - t0, tm, f"nd-{tag}", progress


def make_corpus(seed: int, n_docs: int, per_shard: int, name: str) -> str:
    d = fresh_dir("dedup", name)
    write_documents(d, seed, n_docs, per_shard)
    return d


def dedup_setup(seed: int, scale: str, first: bool):
    spark = session(first)
    n_docs, per_shard = CORPUS[scale]
    corpus = make_corpus(seed, n_docs, per_shard, "corpus")
    warm = make_corpus(seed + 7919, WARM_DOCS, WARM_DOCS, "warm")
    index_once(spark, warm, "warm")
    return spark, corpus


def check_assignments(res: Result, spark, tm, task_id: str,
                      corpus: str) -> None:
    """Streaming cluster assignments == batch dedup_cluster_canonical."""
    from galaxy_spark.registry import all_queries

    got = {tuple(r) for r in tm.near_dup_assignments(task_id).collect()}
    want = {tuple(r) for r in
            all_queries()["dedup_cluster_canonical"](spark, corpus).collect()}
    bad = len(got ^ want)
    res.fail(bad, f"{bad} cluster assignments differ from batch "
                  "dedup_cluster_canonical")
    res.detail["clusters_nontrivial"] = sum(1 for r in want if r[2] > 1)


def run_dedup(seed: int, seconds: float, scale: str = "full") -> Result:
    res = Result()
    setup_s, (spark, corpus) = timed_setup(lambda first: dedup_setup(seed, scale, first))
    res.e2e["setup_s"] = statistics.median(setup_s)
    res.detail["setup_reps_s"] = setup_s
    n_docs = CORPUS[scale][0]
    walls, creates = [], []
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        wall, create_s, tm, tid, progress = index_once(
            spark, corpus, f"d{len(walls)}")
        walls.append(wall)
        creates.append(create_s)
        res.attempted += n_docs
    check_assignments(res, spark, tm, tid, corpus)
    # every drain indexes the same corpus; one check covers the
    # code path, the failed count scales to all drains
    if res.failed:
        res.failed *= len(walls)
    res.e2e["throughput_per_s"] = statistics.median(n_docs / w for w in walls)
    res.e2e["batch_latency_s"] = statistics.median(batch_seconds(progress))
    res.detail["peak_rss_mb"] = peak_rss_mb(spark)
    res.detail.update(dedup_docs_per_s=res.e2e["throughput_per_s"],
                      drains=len(walls), docs=n_docs, drain_walls_s=walls,
                      create_task_s=creates)
    spark.stop()
    return res
