"""JDBC state backend over embedded Derby: CRUD, MERGE upsert, array
codec round-trip, and the assembly pipeline writing through it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from files_kraken_spark.blueprint import Blueprint, FieldType
from files_kraken_spark.jdbc_store import JdbcStateStore
from files_kraken_spark.operators.assemble import assemble, state_schema


@pytest.fixture()
def bp():
    return Blueprint(
        name="JdbcSample",
        required={"sample": (r"sample_([^\.]+?)\.", 1)},
        optional={"fastqs": (r".+\.fastq\.gz", 0)},
        types={"fastqs": FieldType.LIST_PATH},
    )


@pytest.fixture()
def store(spark, tmp_path):
    return JdbcStateStore(spark, f"jdbc:derby:{tmp_path}/db;create=true")


def _state_rows(spark, bp, rows):
    return spark.createDataFrame(
        [(bp.name, rid, rid, fq, []) for rid, fq in rows], state_schema(bp)
    )


def test_empty_load_then_overwrite_roundtrip(spark, store, bp):
    empty = store.load(spark, bp)
    assert empty.count() == 0 and empty.schema == state_schema(bp)

    store.overwrite(bp, _state_rows(spark, bp, [("1", ["a", "b"]), ("2", [])]))
    back = {r["id"]: r for r in store.load(spark, bp).collect()}
    assert back["1"]["fastqs"] == ["a", "b"]  # array JSON codec round-trip
    assert back["2"]["fastqs"] == []


def test_merge_upsert_inserts_and_updates(spark, store, bp):
    store.merge_upsert(bp, _state_rows(spark, bp, [("1", ["a"]), ("2", ["x"])]))
    store.merge_upsert(bp, _state_rows(spark, bp, [("2", ["x", "y"]), ("3", ["z"])]))
    back = {r["id"]: r["fastqs"] for r in store.load(spark, bp).collect()}
    assert back == {"1": ["a"], "2": ["x", "y"], "3": ["z"]}

    # S11 point lookup + S13 delete
    assert store.get(spark, bp, "2").count() == 1
    store.delete(bp, "2")
    assert sorted(r["id"] for r in store.load(spark, bp).collect()) == ["1", "3"]


def test_workflow_with_jdbc_backend(spark, store, bp, tmp_path):
    """Full poll-tick pipeline writing through the JDBC backend
    (state_store injection — reference Database ABC role)."""
    from files_kraken_spark.streaming import Workflow

    root = tmp_path / "watch"
    root.mkdir()
    (root / "sample_4.lane_1.fastq.gz").write_text("fq")
    wf = Workflow(
        spark, "jdbc_wf", [bp], data_dir=str(tmp_path / "wfdata"), state_store=store
    )
    wf.add_watcher(str(root))
    assert wf.run_once() == 1
    row = store.load(spark, bp).collect()[0]
    assert row["id"] == "4" and len(row["fastqs"]) == 1


def test_assembly_pipeline_through_jdbc(spark, store, bp):
    changes = spark.createDataFrame(
        [
            ("/d/sample_7.lane_1.fastq.gz", "sample_7.lane_1.fastq.gz", "created"),
            ("/d/sample_7.lane_2.fastq.gz", "sample_7.lane_2.fastq.gz", "created"),
        ],
        ["path", "name", "change"],
    )
    state = store.load(spark, bp)
    new_state = assemble(changes, state, bp)
    store.merge_upsert(bp, new_state)
    row = store.load(spark, bp).collect()[0]
    assert row["id"] == "7"
    assert row["fastqs"] == [
        "/d/sample_7.lane_1.fastq.gz",
        "/d/sample_7.lane_2.fastq.gz",
    ]


def test_wide_array_column_exceeds_varchar_width(spark, store, bp):
    """Array columns are CLOB: a list whose JSON encoding far exceeds
    any VARCHAR cap must round-trip (long LIST_PATH accumulations),
    through both the full write and the MERGE path."""
    many = [f"/data/projects/run_77/lane_{i}/part_{i:06d}.fastq.gz" for i in range(1000)]
    assert len("".join(many)) > 32672
    store.overwrite(bp, _state_rows(spark, bp, [("w", many)]))
    assert store.load(spark, bp).collect()[0]["fastqs"] == many
    more = many + ["/data/extra.fastq.gz"]
    store.merge_upsert(bp, _state_rows(spark, bp, [("w", more)]))
    assert store.load(spark, bp).collect()[0]["fastqs"] == more


def test_full_replace_derived_from_own_load_keeps_state(spark, store, bp):
    """Review regression: drop-then-write executed the lazy plan against
    the freshly emptied table when the new state DERIVED from load() —
    all prior entities vanished. Stage-first write must preserve them."""
    store.overwrite(bp, _state_rows(spark, bp, [("1", ["a"]), ("2", ["x"])]))
    merged = store.load(spark, bp).unionByName(
        _state_rows(spark, bp, [("3", ["z"])])
    )
    store.overwrite(bp, merged)  # full replace, no touched_ids
    got = {r["id"]: r["fastqs"] for r in store.load(spark, bp).collect()}
    assert got == {"1": ["a"], "2": ["x"], "3": ["z"]}


def test_merge_after_blueprint_gains_field(spark, store, bp):
    """Review regression: a blueprint gaining a field broke every
    subsequent MERGE (stage had the column, main did not). The write
    side now evolves the main table like the read side always did."""
    store.overwrite(bp, _state_rows(spark, bp, [("1", ["a"])]))

    evolved = Blueprint(
        name=bp.name,
        required={"sample": (r"sample_([^\.]+?)\.", 1)},
        optional={
            "fastqs": (r".+\.fastq\.gz", 0),
            "owner": (r"owner_(\w+)", 1),  # NEW field
        },
        types={"fastqs": FieldType.LIST_PATH},
    )
    batch = spark.createDataFrame(
        [(evolved.name, "2", "2", ["y"], "me", [])], state_schema(evolved)
    )
    store.overwrite(evolved, batch, touched_ids=batch.select("id"))
    got = {r["id"]: (r["fastqs"], r["owner"])
           for r in store.load(spark, evolved).collect()}
    assert got == {"1": (["a"], None), "2": (["y"], "me")}


def test_overwrite_swap_is_crash_recoverable(spark, store, bp):
    """Advice regression (round 4): the old swap DROPped the live table
    before RENAMEing the stage — a crash in between left NO table and
    load() silently returned empty state. Now the live table parks as
    _OLD first, and load() adopts a leftover _STAGE/_OLD."""
    store.overwrite(bp, _state_rows(spark, bp, [("1", ["a"])]))
    store.overwrite(bp, _state_rows(spark, bp, [("1", ["a2"]), ("2", ["b"])]))
    back = {r["id"]: r["fastqs"] for r in store.load(spark, bp).collect()}
    assert back == {"1": ["a2"], "2": ["b"]}

    # simulate a crash window: stage fully written, live table renamed
    # away, promotion rename never ran
    table = store._table(bp)
    store._recreate_table(table + "_STAGE", bp)
    store._encode(_state_rows(spark, bp, [("9", ["new"])]), bp).write.mode(
        "append"
    ).jdbc(store.url, table + "_STAGE", properties=store._props)
    store._exec(f"RENAME TABLE {table} TO {table}_OLD")
    assert not store._table_exists(table)

    recovered = {r["id"]: r["fastqs"] for r in store.load(spark, bp).collect()}
    assert recovered == {"9": ["new"]}  # the complete stage wins
    assert store._table_exists(table)
    assert not store._table_exists(table + "_OLD")  # leftover swept


def test_lone_stage_from_torn_first_write_is_not_adopted(spark, store, bp):
    """Advice regression (round 5): a crash during the very FIRST
    overwrite — table never existed, stage append half-written — left a
    lone _STAGE that load() adopted, presenting torn state as
    committed. A lone _STAGE with no live table and no _OLD is now
    dropped (the rename is the commit point for a first write)."""
    table = store._table(bp)
    # simulate the torn first write: stage exists (possibly partial),
    # no live table, no _OLD
    store._recreate_table(table + "_STAGE", bp)
    store._encode(_state_rows(spark, bp, [("t", ["torn"])]), bp).write.mode(
        "append"
    ).jdbc(store.url, table + "_STAGE", properties=store._props)
    assert not store._table_exists(table)

    recovered = store.load(spark, bp)
    assert recovered.count() == 0  # torn data NOT presented as committed
    assert not store._table_exists(table + "_STAGE")  # garbage swept

    # a lone _OLD (swap parked the live table, stage lost) IS adopted
    store.overwrite(bp, _state_rows(spark, bp, [("1", ["a"])]))
    store._exec(f"RENAME TABLE {table} TO {table}_OLD")
    back = {r["id"]: r["fastqs"] for r in store.load(spark, bp).collect()}
    assert back == {"1": ["a"]}
    assert store._table_exists(table)


def test_null_string_column_commits(spark, store):
    """A NULL STR/PATH field must commit through both write paths:
    Spark's Derby dialect binds a NULL string as CLOB, which Derby
    refused to store into the VARCHAR column these fields once had
    (ERROR 22005) — every tick with a pending optional path failed."""
    bp = Blueprint(
        name="B",
        required={"k": (r"(\w+)", 1)},
        optional={"p": (r"x", 0)},
        types={"p": FieldType.PATH},
    )
    store.overwrite(
        bp, spark.createDataFrame([("B", "a", "a", None, [])], state_schema(bp))
    )
    assert [(r["id"], r["p"]) for r in store.load(spark, bp).collect()] == [("a", None)]

    batch = spark.createDataFrame(
        [("B", "a", "a", "/d/x", []), ("B", "b", "b", None, []), ("B", "c", "c", "/d/c", [])],
        state_schema(bp),
    )
    store.merge_upsert(bp, batch)
    got = {r["id"]: r["p"] for r in store.load(spark, bp).collect()}
    assert got == {"a": "/d/x", "b": None, "c": "/d/c"}
