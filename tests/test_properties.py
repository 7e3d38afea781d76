"""Property-based tests (hypothesis): the DDL parser and the
column-expression text functions hold their invariants over
generated inputs, not just the curated corpus."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from galaxy_spark.cdc.ddl import AddColumn, DropColumn, parse_alter
from galaxy_spark.cdc.schema_registry import ColumnDef, SchemaRegistry

IDENT = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
TYPES = st.sampled_from(
    ["int", "bigint", "varchar(100)", "decimal(10,2)", "datetime", "text"])
WS = st.sampled_from([" "])
COMMENT = st.sampled_from(["", "/* ApplicationName=DBeaver */ "])
QUOTE = st.sampled_from(["", "`"])


@given(comment=COMMENT, db=IDENT, tbl=IDENT, col=IDENT, typ=TYPES,
       q=QUOTE, first=st.booleans())
@settings(max_examples=200, deadline=None)
def test_parse_add_column_roundtrip(comment, db, tbl, col, typ, q, first):
    pos = " FIRST" if first else ""
    stmt = parse_alter(
        f"{comment}alter table {q}{db}{q}.{q}{tbl}{q} "
        f"add column {q}{col}{q} {typ} null{pos}")
    assert stmt is not None
    assert (stmt.database, stmt.table) == (db, tbl)
    (op,) = stmt.ops
    assert isinstance(op, AddColumn)
    assert op.name == col
    assert op.col_type is not None and op.col_type.startswith(typ.split("(")[0])
    assert (op.position == "FIRST") == first


@given(tbl=IDENT, col=IDENT, with_kw=st.booleans())
@settings(max_examples=100, deadline=None)
def test_parse_drop_column(tbl, col, with_kw):
    kw = "column " if with_kw else ""
    stmt = parse_alter(f"ALTER TABLE {tbl} DROP {kw}{col}")
    assert stmt is not None and stmt.table == tbl
    assert stmt.ops == (DropColumn(col),)


@given(garbage=st.text(max_size=60))
@settings(max_examples=200, deadline=None)
def test_parser_never_raises_on_garbage(garbage):
    # non-ALTER statements (incl. BEGIN, random bytes) -> None, no crash
    result = parse_alter(garbage)
    if not re.match(r"\s*(/\*.*?\*/\s*)*alter\s", garbage, re.I | re.S):
        assert result is None


@given(cols=st.lists(IDENT, min_size=1, max_size=8, unique=True),
       add=IDENT, anchor_idx=st.integers(min_value=0, max_value=7))
@settings(max_examples=100, deadline=None)
def test_registry_add_after_preserves_others(cols, add, anchor_idx):
    if add in cols:
        return
    reg = SchemaRegistry()
    reg.put("db", "t", [ColumnDef(c, "int") for c in cols])
    anchor = cols[anchor_idx % len(cols)]
    changed = reg.apply_ddl("db", f"alter table t add {add} bigint after {anchor}")
    assert changed
    got = reg.column_names("db", "t")
    assert got.index(add) == cols.index(anchor) + 1   # inserted in place
    assert [c for c in got if c != add] == cols       # others untouched
    # evolution recorded as an {old, new} delta pair
    (old, new) = reg.get("db", "t").history[-1]
    assert [c.name for c in old] == cols and [c.name for c in new] == got


@given(text=st.text(alphabet=st.characters(min_codepoint=32,
                                           max_codepoint=126),
                    min_size=0, max_size=80))
@settings(max_examples=25, deadline=None)  # one Spark job per example
def test_rolling_fingerprint_matches_python_reference(spark, text):
    from galaxy_spark.operators.text import rolling_fingerprint

    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(rolling_fingerprint("text").alias("fp")).collect()[0].fp
    ref = 0
    for ch in text:
        ref = (ref * 257 + ord(ch)) % 1_000_000_007
    assert got == ref


@given(st.lists(st.tuples(st.integers(1, 60), st.integers(1, 40)),
                min_size=1, max_size=12),
       st.lists(st.tuples(st.integers(1, 60), st.integers(1, 40)),
                min_size=0, max_size=12))
@settings(max_examples=200, deadline=None)
def test_gtidset_covers_set_matches_pointwise(a_ivs, b_ivs):
    """covers_set == pointwise coverage of every transaction in the
    other set (the error-1236 gate's semantics): for random interval
    unions A and B, A.covers_set(B) iff every gno in B is covered
    by A."""
    from galaxy_spark.cdc.replication_client import GtidSet

    sid = "0f81a2b3-c4d5-e6f7-0819-22aabbccddee"

    def mk(ivs):
        s = GtidSet()
        for start, width in ivs:
            s._insert((s._norm(sid), ""), start, start + width)
        return s

    a, b = mk(a_ivs), mk(b_ivs)
    pointwise = all(a.covers(f"{sid}:{g}")
                    for start, width in b_ivs
                    for g in range(start, start + width))
    assert a.covers_set(b) == pointwise
    assert a.covers_set(a)                 # reflexive
    merged = mk(a_ivs)
    merged.merge(b)
    assert merged.covers_set(a) and merged.covers_set(b)


# ------------------------------------------------------------------
# Tagged GTIDs (MySQL >= 8.3, WL#15294) — r11
# ------------------------------------------------------------------

_tags = st.sampled_from(["", "x", "patch", "maint_2026", "a_b_c"])
_tagged_entries = st.lists(
    st.tuples(st.sampled_from(["0f81a2b3-c4d5-e6f7-0819-22aabbccddee",
                               "11112222-3333-4444-5555-666677778888"]),
              _tags,
              st.integers(1, 60), st.integers(1, 30)),
    min_size=1, max_size=12)


def _mk_tagged(entries):
    from galaxy_spark.cdc.replication_client import GtidSet

    s = GtidSet()
    for uuid, tag, start, width in entries:
        s._insert((s._norm(uuid), tag), start, start + width)
    return s


@given(_tagged_entries)
@settings(max_examples=200, deadline=None)
def test_gtidset_tagged_text_and_wire_roundtrip(entries):
    """For ANY mix of tagged and untagged intervals over multiple
    sources: text form parses back to the same set, the wire
    encoding decodes back to the same set (tagged format iff a tag
    is present — untagged sets must keep the pre-8.3 bytes), and
    canonicalization is idempotent."""
    from galaxy_spark.cdc.replication_client import GtidSet

    s = _mk_tagged(entries)
    assert str(GtidSet.parse(str(s))) == str(s)
    dec = GtidSet.decode(s.encode())
    assert str(dec) == str(s)
    assert dec.encode() == s.encode()
    if all(tag == "" for _, tag, _, _ in entries):
        # pre-8.3 byte layout pinned: n_sids is the plain count
        import struct as _st
        (head,) = _st.unpack_from("<Q", s.encode(), 0)
        assert head == len(s._sids)


@given(_tagged_entries, _tagged_entries)
@settings(max_examples=200, deadline=None)
def test_gtidset_tagged_covers_is_per_tag(a_entries, b_entries):
    """The tag is part of the source identity: coverage never leaks
    across tags (uuid:x:5 covered says nothing about uuid:5 or
    uuid:y:5), covers_set == pointwise coverage, and merge is an
    upper bound — all on random MIXED tagged/untagged sets."""
    a, b = _mk_tagged(a_entries), _mk_tagged(b_entries)

    def gtid(uuid, tag, g):
        return f"{uuid}:{tag}:{g}" if tag else f"{uuid}:{g}"

    pointwise = all(a.covers(gtid(u, t, g))
                    for u, t, start, width in b_entries
                    for g in range(start, start + width))
    assert a.covers_set(b) == pointwise
    for u, t, start, _w in a_entries:
        other = "y" if t != "y" else "z"
        assert not a.covers(gtid(u, other, start))
    merged = _mk_tagged(a_entries)
    merged.merge(b)
    assert merged.covers_set(a) and merged.covers_set(b)


@given(st.lists(st.floats(0.01, 1.0), min_size=1, max_size=5)
       .map(lambda fs: [f / sum(fs) for f in fs]),
       st.integers(0, 2**31))
@settings(max_examples=100, deadline=None)
def test_hash_split_bands_partition_hash_space(fracs, seed):
    """For ANY normalized fraction vector, the generated hex bands
    must be non-decreasing 8-char-or-sentinel bounds — the pure-
    Python core of the disjoint+exhaustive guarantee (the Spark-side
    identity is pinned in test_plans.py)."""
    names = [f"s{i}" for i in range(len(fracs))]
    cum, bounds = 0.0, []
    for f in fracs[:-1]:
        cum += f
        hex_thr = ("g" if cum >= 1.0 - 1e-12
                   else format(min(int(cum * 16**8), 16**8 - 1),
                               "08x"))
        bounds.append(hex_thr)
    # mirrors operators/util.py:hash_split exactly; every bound is 8
    # hex chars or the keep-all sentinel, and the sequence is
    # lexicographically non-decreasing so bands cannot invert
    for t in bounds:
        assert t == "g" or (len(t) == 8
                            and all(c in "0123456789abcdef" for c in t))
    assert bounds == sorted(bounds)
    assert names  # fractions normalized upstream; vector non-empty


# ------------------------------------------------------------------
# MariaDbGtidSet algebra properties (r10)
# ------------------------------------------------------------------

_mdb_gtid = st.tuples(st.integers(0, 3), st.integers(1, 99),
                      st.integers(1, 50)).map(
    lambda t: f"{t[0]}-{t[1]}-{t[2]}")


@given(st.lists(_mdb_gtid, min_size=1, max_size=20))
@settings(max_examples=200, deadline=None)
def test_mariadb_gtidset_parse_str_roundtrip(gtids):
    """str(parse(text)) is a fixed point, and the set covers
    exactly the per-domain sequences at or below its max."""
    from galaxy_spark.cdc.replication_client import MariaDbGtidSet

    s = MariaDbGtidSet()
    for g in gtids:
        s.add(g)
    t = MariaDbGtidSet.parse(str(s))
    assert str(t) == str(s)
    maxes: dict = {}
    for g in gtids:
        d, _sv, n = (int(x) for x in g.split("-"))
        maxes[d] = max(maxes.get(d, 0), n)
    for d, n in maxes.items():
        assert s.covers(f"{d}-7-{n}")
        assert not s.covers(f"{d}-7-{n + 1}")


@given(st.lists(_mdb_gtid, min_size=1, max_size=15),
       st.lists(_mdb_gtid, min_size=1, max_size=15))
@settings(max_examples=200, deadline=None)
def test_mariadb_gtidset_merge_covers_both_and_monotone(a_gtids,
                                                        b_gtids):
    """merge is an upper bound: the merged set covers_set both
    inputs, and covers_set is reflexive + antisymmetric-up-to-str."""
    from galaxy_spark.cdc.replication_client import MariaDbGtidSet

    a, b = MariaDbGtidSet(), MariaDbGtidSet()
    for g in a_gtids:
        a.add(g)
    for g in b_gtids:
        b.add(g)
    assert a.covers_set(a) and b.covers_set(b)
    m = MariaDbGtidSet.parse(str(a))
    m.merge(b)
    assert m.covers_set(a) and m.covers_set(b)
    if a.covers_set(b) and b.covers_set(a):
        # mutual coverage means identical domain maxima (server ids
        # may differ — provenance, not ordering)
        am = {p.rsplit("-", 1)[0].split("-")[0]: p.rsplit("-", 1)[1]
              for p in str(a).split(",")}
        bm = {p.rsplit("-", 1)[0].split("-")[0]: p.rsplit("-", 1)[1]
              for p in str(b).split(",")}
        assert am == bm


@given(
    st.lists(st.lists(st.tuples(st.integers(0, 5),        # key
                                st.integers(-50, 50)),    # value
                      min_size=0, max_size=6),
             min_size=1, max_size=5),
    st.lists(st.sampled_from([None, 1, 2, 3]),            # per-epoch
             min_size=5, max_size=5),                     # mode flip
)
@settings(max_examples=5, deadline=None)  # real disk stores per example
def test_delta_tier_any_schedule_matches_cow(spark, batches, modes):
    """Hypothesis twin of the deterministic delta-tier tests: for
    ANY batch sequence (including empty batches) and ANY per-epoch
    CoW/delta flip schedule, the folded state equals the
    always-CoW twin after every epoch."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from galaxy_spark.streaming.state_store import (KeyedParquetStore,
                                                    StoreSpec)

    root = tempfile.mkdtemp()
    try:
        # the store fold must be a monoid — COUNT(*) is not (it
        # counts rows, not prior counts; the first draft used it in
        # aggs and hypothesis immediately found the divergence), so
        # the partial carries w and the store folds SUM(w)
        spec = StoreSpec(("k",), lambda: [F.sum("v").cast("long").alias("v"),
                                          F.sum("w").cast("long").alias("w")],
                         "k long, v long, w long", 3)

        def mk(name):
            return KeyedParquetStore(spark, f"{root}/{name}", spec)
        cow, dlt = mk("cow"), mk("dlt")
        for i, (rows, mode) in enumerate(zip(batches, modes)):
            bdf = (spark.createDataFrame(
                       [(k, v, 1) for k, v in rows] or
                       [(0, 0, 0)],
                       "k long, v long, w long")
                   .limit(0 if not rows else len(rows)))
            partial = bdf.groupBy("k").agg(
                F.sum("v").cast("long").alias("v"),
                F.sum("w").cast("long").alias("w"))
            key = f"lin.{i:012d}"
            dlt.delta_threshold = mode
            cow.merge(partial, key)
            dlt.merge(partial, key)
            a = sorted(map(tuple, cow.state().collect()))
            b = sorted(map(tuple, dlt.state().collect()))
            assert a == b, f"epoch {i} (mode={mode}): {b} != {a}"
    finally:
        shutil.rmtree(root, ignore_errors=True)
