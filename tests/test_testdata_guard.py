"""Env-drift guard: assert the physical parquet schema of every testdata
table via a pyarrow footer read (no Spark job).

Round 3 lesson: the driver regenerated events.parquet with ts as
TIMESTAMP(MICROS) (round 1-2 data was TIMESTAMP(NANOS)) and the change
surfaced as 39 scattered failures. This test makes the next testdata
regeneration fail loudly in one obvious place instead. The engine itself
(catalog.normalize_events_ts, shared by load_table and the events
stream) dispatches on the actual flavor, so a ts-unit change alone
should NOT fail here — only genuinely new drift (renamed/added/dropped
columns, type changes) should.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR

# name -> arrow type string; ts/date columns accept any timestamp unit
# (the loaders dispatch), pinned here as the "timestamp[*]" wildcard.
EXPECTED = {
    "region": {"r_regionkey": "int32", "r_name": "string"},
    "nation": {"n_nationkey": "int32", "n_name": "string", "n_regionkey": "int32"},
    "customer": {
        "c_custkey": "int64",
        "c_name": "string",
        "c_nationkey": "int32",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "int64",
        "s_name": "string",
        "s_nationkey": "int32",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "int64",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int32",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "int64",
        "o_custkey": "int64",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp[*]",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "int64",
        "l_partkey": "int64",
        "l_suppkey": "int64",
        "l_linenumber": "int32",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp[*]",
    },
    "events": {
        "event_id": "int64",
        "ts": "timestamp[*]",
        "user_id": "int64",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "int64",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "int64",
    },
    "embeddings": {
        "vec_id": "int64",
        "embedding": "list<element: float>",
        "label": "int32",
    },
}


@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_physical_schema(table):
    path = os.path.join(SF_DIR, f"{table}.parquet")
    schema = pq.ParquetFile(path).schema_arrow
    actual = {f.name: str(f.type) for f in schema}
    expected = EXPECTED[table]
    assert list(actual) == list(expected), (
        f"{table}: column set/order drifted: {list(actual)} != {list(expected)}"
    )
    for col, want in expected.items():
        got = actual[col]
        if want == "timestamp[*]":
            assert got.startswith("timestamp["), f"{table}.{col}: {got} is not a timestamp"
        else:
            assert got == want, f"{table}.{col}: {got} != {want}"


# --- value-level invariants (VERDICT r4 item 8): a silent regeneration
# that keeps schemas but changes content semantics should ALSO fail in
# this one file. Cheap pyarrow reads of key columns only — no Spark job.

_ID_COLS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


@pytest.mark.parametrize("table", sorted(_ID_COLS))
def test_primary_id_unique_and_nonnull(table):
    import pyarrow.compute as pc

    col = _ID_COLS[table]
    t = pq.read_table(os.path.join(SF_DIR, f"{table}.parquet"), columns=[col])
    n = t.num_rows
    assert n > 0, f"{table} is empty"
    assert t.column(col).null_count == 0, f"{table}.{col} has nulls"
    assert len(pc.unique(t.column(col))) == n, f"{table}.{col} not unique"


def test_embedding_dim_constant_and_finite():
    import pyarrow.compute as pc

    t = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"), columns=["embedding"])
    lens = pc.unique(pc.list_value_length(t.column("embedding")))
    assert len(lens) == 1, f"embedding dims vary: {lens.to_pylist()}"
    assert lens[0].as_py() > 0
    flat = pc.list_flatten(t.column("embedding"))
    assert flat.null_count == 0, "embedding has null elements"
    assert pc.all(pc.is_finite(flat)).as_py(), "embedding has NaN/inf"


def test_lineitem_orderkeys_exist_in_orders():
    """Referential integrity the join queries assume: every lineitem
    points at a real order."""
    import pyarrow.compute as pc

    lo = pq.read_table(
        os.path.join(SF_DIR, "lineitem.parquet"), columns=["l_orderkey"]
    ).column("l_orderkey")
    oo = pq.read_table(
        os.path.join(SF_DIR, "orders.parquet"), columns=["o_orderkey"]
    ).column("o_orderkey")
    assert pc.all(pc.is_in(lo, value_set=oo.combine_chunks())).as_py()


def test_documents_nchars_matches_text():
    """n_chars is derived from text — the dedup/quality oracles rely on
    the two staying in sync."""
    import pyarrow.compute as pc

    t = pq.read_table(
        os.path.join(SF_DIR, "documents.parquet"), columns=["text", "n_chars"]
    )
    assert t.column("text").null_count == 0
    got = pc.utf8_length(t.column("text"))
    assert pc.all(
        pc.equal(pc.cast(got, "int64"), t.column("n_chars"))
    ).as_py(), "documents.n_chars diverged from len(text)"


def test_event_type_universe_matches_type_bits():
    """q_stream_user_profile's state packs event types into the fixed
    _TYPE_BITS bitmask; an event type the mask doesn't know would map
    to bit 0 and silently undercount n_types (ADVICE r7). Pin the data
    universe to the mask's key set so testdata drift fails HERE, not as
    a driver hash mismatch."""
    from celeborn_spark.streaming.stateful import _TYPE_BITS

    t = pq.read_table(
        os.path.join(SF_DIR, "events.parquet"), columns=["event_type"]
    )
    assert t.column("event_type").null_count == 0
    got = set(t.column("event_type").unique().to_pylist())
    assert got == set(_TYPE_BITS), (
        f"event_type universe {got} != _TYPE_BITS keys {set(_TYPE_BITS)}"
    )
