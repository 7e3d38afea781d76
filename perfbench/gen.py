"""Seeded input generators. The same seed gives byte-identical inputs.

Two families:

- ``BinlogStream``: a multi-table MySQL binlog (wire bytes, written
  with the independent encoder in ``tests/fixtures``) plus the exact
  set of messages the CDC chain must publish for it.
- ``write_documents``: a near-duplicate document corpus in parquet
  shard files.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter

DB = "shop"
TASK = "bench"

#: (table_id, table, columns) for every table the stream writes.
#: Widths differ (2 / 4 / 7 columns); ``audit_log`` is excluded by
#: the task filter; ``items_v2`` is ``items`` after an ALTER the
#: schema registry never saw, so its 3-wide rows quarantine to the
#: dead-letter topic.
LONG, VARCHAR = 8, 15
TABLES = {
    "orders": (11, [("id", LONG, 0), ("qty", LONG, 0),
                    ("amount", VARCHAR, 32), ("note", VARCHAR, 64)]),
    "customers": (12, [("id", LONG, 0), ("name", VARCHAR, 32),
                       ("email", VARCHAR, 64), ("tier", LONG, 0),
                       ("region", VARCHAR, 16), ("score", LONG, 0),
                       ("bio", VARCHAR, 128)]),
    "items": (13, [("id", LONG, 0), ("price", LONG, 0)]),
    "audit_log": (14, [("id", LONG, 0), ("msg", VARCHAR, 64)]),
}
ITEMS_V2 = (15, [("id", LONG, 0), ("price", LONG, 0),
                 ("stock", LONG, 0)])
EXCLUDED = ("shop.audit_log",)
SID = "ab" * 16


def registry_rows() -> list[tuple]:
    """(database, table, columns) for the schema-registry frame."""
    return [(DB, t, [c[0] for c in cols])
            for t, (_tid, cols) in TABLES.items()]


def _row(rng: random.Random, table: str, rid: int, ver: int) -> list:
    if table == "orders":
        return [rid, rng.randrange(1, 50), f"{rng.randrange(10**6)}.{ver:02d}",
                f"order-{rid}-v{ver}"]
    if table == "customers":
        return [rid, f"cust{rid}", f"c{rid}.v{ver}@example.com",
                rng.randrange(4), rng.choice(("eu", "us", "apac")),
                rng.randrange(10**6), "bio " * rng.randrange(1, 20)]
    if table == "items":
        return [rid, rng.randrange(1, 10**5)]
    return [rid, f"audit-{rid}-{ver}"]


class BinlogStream:
    """Transaction generator for one task's binlog directory.

    ``txn()`` appends the next whole transaction as wire events and
    returns the messages it must produce. Each transaction touches one table
    with a mix of inserts, updates and deletes of rows the stream
    itself created, so every before-image is real. A few
    transactions hit ``items_v2`` and land in the dead-letter topic.
    """

    def __init__(self, seed: int, rows_per_txn: int = 40) -> None:
        self.rng = random.Random(seed)
        self.rows_per_txn = rows_per_txn
        self.gno = 0
        self.live: dict[str, dict[int, list]] = {t: {} for t in TABLES}
        # live ids per table as a list to draw from, plus each id's
        # index in it, so a delete is a swap-remove
        self.keys: dict[str, list[int]] = {t: [] for t in TABLES}
        self.pos: dict[str, dict[int, int]] = {t: {} for t in TABLES}
        self.next_id = 1
        self.expected: Counter = Counter()
        self.n_changes = 0          # row-changes written, every table
        self.n_dlq = 0

    def _emit_txn(self, w, table: str) -> None:
        rng = self.rng
        tid, cols = TABLES[table]
        wire = [(ct, m) for _n, ct, m in cols]
        names = [c[0] for c in cols]
        live, keys, pos = self.live[table], self.keys[table], self.pos[table]
        ins, upd, dels, seen = [], [], [], set()
        for _ in range(self.rows_per_txn):
            r = rng.random()
            if keys and r < 0.35:
                rid = keys[rng.randrange(len(keys))]
                if rid in seen:
                    continue
                seen.add(rid)
                if r < 0.25:
                    upd.append((live[rid],
                                _row(rng, table, rid, self.gno % 100)))
                else:
                    dels.append(live[rid])
            else:
                ins.append(_row(rng, table, self.next_id, 0))
                self.next_id += 1
        if ins:
            w.table_map(tid, DB, table, wire)
            w.write_rows(tid, wire, ins)
        if upd:
            w.table_map(tid, DB, table, wire)
            w.update_rows(tid, wire, upd)
        if dels:
            w.table_map(tid, DB, table, wire)
            w.delete_rows(tid, wire, dels)
        for r in ins:
            live[r[0]] = r
            pos[r[0]] = len(keys)
            keys.append(r[0])
        for b, a in upd:
            live[b[0]] = a
        for r in dels:
            del live[r[0]]
            i, last = pos.pop(r[0]), keys.pop()
            if last != r[0]:
                keys[i], pos[last] = last, i
        self.n_changes += len(ins) + len(upd) + len(dels)
        if f"{DB}.{table}" in EXCLUDED:
            return []
        topic = f"{TASK}.{DB}.{table}"

        def img(r):
            return tuple(zip(names, (str(v) for v in r)))
        keys = ([(topic, "insert", None, img(r)) for r in ins]
                + [(topic, "update", img(b), img(a)) for b, a in upd]
                + [(topic, "delete", img(r), None) for r in dels])
        self.expected.update(keys)
        return keys

    def _emit_dlq(self, w) -> None:
        tid, cols = ITEMS_V2
        wire = [(ct, m) for _n, ct, m in cols]
        rows = [[self.next_id + i, self.rng.randrange(1, 10**5), i]
                for i in range(3)]
        self.next_id += len(rows)
        w.table_map(tid, DB, "items", wire)
        w.write_rows(tid, wire, rows)
        self.n_changes += len(rows)
        self.n_dlq += len(rows)

    def txn(self, w) -> list:
        """Append one whole transaction (GTID .. XID) to binlog
        writer ``w``; return the message keys it must publish (empty
        for excluded and dead-letter transactions)."""
        self.gno += 1
        w.gtid(SID, self.gno)
        w.query(DB, "BEGIN")
        keys = []
        if self.gno % 50 == 0:
            self._emit_dlq(w)
        else:
            table = self.rng.choices(
                list(TABLES), weights=(5, 2, 3, 1))[0]
            keys = self._emit_txn(w, table)
        w.xid(self.gno)
        return keys

    def write_segments(self, out_dir: str, n_segments: int,
                       txns_per_segment: int, first: int = 1) -> list[str]:
        """Write the stream's next ``n_segments`` rotated segment
        files, numbered from ``first``; return their names."""
        from tests.fixtures.binlog_wire_encoder import BinlogWriter
        os.makedirs(out_dir, exist_ok=True)
        names = []
        for seg in range(first, first + n_segments):
            w = BinlogWriter(base_ts=1_710_000_000 + seg)
            w.format_description()
            for _ in range(txns_per_segment):
                self.txn(w)
            names.append(f"binlog.{seg:06d}.bin")
            with open(os.path.join(out_dir, names[-1]), "wb") as f:
                f.write(w.bytes())
        return names


def read_segments(seg_dir: str) -> list[tuple[str, bytes]]:
    """(name, bytes) of every file in ``seg_dir``, in name order."""
    out = []
    for name in sorted(os.listdir(seg_dir)):
        with open(os.path.join(seg_dir, name), "rb") as fh:
            out.append((name, fh.read()))
    return out


def read_published(topic_dir: str) -> tuple[Counter, int, list[str]]:
    """(messages, dead-letter rows, topic names) found under a
    ``galaxy_topic_files`` output directory, in the same key shape as
    ``BinlogStream.expected``."""
    got: Counter = Counter()
    n_dlq = 0
    topics = sorted(os.listdir(topic_dir)) if os.path.isdir(topic_dir) else []
    for topic in topics:
        d = os.path.join(topic_dir, topic)
        for name in os.listdir(d):
            if ".tmp-" in name:
                continue
            with open(os.path.join(d, name)) as fh:
                for line in fh:
                    if ".deadletter." in topic:
                        n_dlq += 1
                        continue
                    v = json.loads(json.loads(line)["value"])

                    def img(m):
                        return None if m is None else tuple(m.items())
                    got[(topic, v["action"], img(v.get("before")),
                         img(v.get("after")))] += 1
    return got, n_dlq, topics


# -- document corpus --------------------------------------------------

_VOCAB = ("a agg batch big column customer data dup fast filter group "
          "hash join key line merge order part query row scan slow "
          "small sort spark stream table the value vector window").split()


def write_documents(out_dir: str, seed: int, n_docs: int,
                    per_shard: int) -> str:
    """Write ``n_docs`` generated documents, with the column names and
    physical types of the repository's ``documents`` test table, as
    shard files of ``per_shard`` rows in ``out_dir/documents.parquet/``
    (a directory ``load_table`` reads as that table). Shard
    modification times follow doc_id order, so a stream with
    ``maxFilesPerTrigger=1`` replays the corpus in a fixed order.
    One document in five is a light edit of an earlier one, so the
    dedup tiers find real clusters. Returns the shard directory."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 25)):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
        else:
            words = list(rng.choice(_VOCAB, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    i64 = pa.int64()
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), i64),
        "text": texts,
        "lang": rng.choice(["en", "en", "fr", "es", "zh", "de"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    shard_dir = os.path.join(out_dir, "documents.parquet")
    os.makedirs(shard_dir)
    for n, start in enumerate(range(0, n_docs, per_shard)):
        path = os.path.join(shard_dir, f"shard-{n:04d}.parquet")
        pq.write_table(docs.slice(start, per_shard), path)
        os.utime(path, (1_700_000_000 + n, 1_700_000_000 + n))
    return shard_dir
