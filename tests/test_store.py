"""StateStore: CRUD (reference tests/test_database.py scenarios), the
incremental copy-on-write commit, time travel and the change feed, and
commit atomicity under simulated mid-commit crashes."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from files_kraken_spark.blueprint import Blueprint
from files_kraken_spark.operators.assemble import state_schema
from files_kraken_spark.store import StateStore


@pytest.fixture()
def bp():
    return Blueprint(
        name="GenericRecord",
        required={"key": (r"(\w+)", 1)},
        optional={"description": (r"desc_(\w+)", 1)},
    )


def _rows(spark, bp, rows):
    return spark.createDataFrame(
        [(bp.name, rid, rid, desc, []) for rid, desc in rows], state_schema(bp)
    )


def _descs(spark, store, bp):
    return {r["id"]: r["description"] for r in store.load(spark, bp).collect()}


def test_schema_evolution_new_field_loads_null(spark, tmp_path, bp):
    """State written before the blueprint gained a field loads with the
    new column as NULL (the reference's schemaless-store behavior)."""
    store = StateStore(str(tmp_path / "state"))
    store.overwrite(bp, _rows(spark, bp, [("a", "one")]))

    evolved = Blueprint(
        name="GenericRecord",  # same table
        required={"key": (r"(\w+)", 1)},
        optional={
            "description": (r"desc_(\w+)", 1),
            "owner": (r"owner_(\w+)", 1),  # NEW field
        },
    )
    row = store.load(spark, evolved).collect()[0]
    assert row["description"] == "one"
    assert row["owner"] is None
    assert row["_conflicts"] == []


def test_crud_roundtrip(spark, tmp_path, bp):
    store = StateStore(str(tmp_path / "state"))
    # empty load
    assert store.load(spark, bp).count() == 0
    # insert (S10)
    assert store.overwrite(bp, _rows(spark, bp, [("a", "one"), ("b", "two")])) == 1
    assert store.load(spark, bp).count() == 2
    # point lookup honors both key parts (S11; reference `and`-bug fixed)
    got = store.get(spark, bp, "a").collect()
    assert len(got) == 1 and got[0]["description"] == "one"
    # upsert replaces by id (S12)
    store.upsert_rows(spark, bp, _rows(spark, bp, [("a", "uno"), ("c", "three")]))
    assert _descs(spark, store, bp) == {"a": "uno", "b": "two", "c": "three"}
    # delete (S13)
    store.delete(spark, bp, "b")
    assert sorted(r["id"] for r in store.load(spark, bp).collect()) == ["a", "c"]
    # clear
    store.clear(bp)
    assert store.load(spark, bp).count() == 0


def test_incremental_commit_rewrites_only_touched_bucket(spark, tmp_path, bp):
    """A 1-entity batch must rewrite ONLY that entity's bucket: the
    other buckets keep their version in the new manifest and SHARE
    their data dir with the previous commit (no O(state) write
    amplification per tick — r1 verdict item 4)."""
    store = StateStore(str(tmp_path / "state"), n_buckets=8)
    ids = [f"id{i}" for i in range(40)]
    store.overwrite(bp, _rows(spark, bp, [(i, "v1") for i in ids]))

    man1 = store._read_manifest(bp.name)
    assert len(man1["buckets"]) > 1  # 40 ids spread over several buckets

    # touch exactly one entity
    full = store.load(spark, bp)
    new = full  # state content unchanged; commit declares one touched id
    touched = spark.createDataFrame([("id7",)], "id string")
    store.overwrite(bp, new, touched_ids=touched)

    man2 = store._read_manifest(bp.name)
    assert man2["version"] == man1["version"] + 1
    changed = [
        k for k in man1["buckets"]
        if man2["buckets"].get(k) != man1["buckets"][k]
    ]
    assert len(changed) == 1  # only id7's bucket advanced
    # untouched buckets' data dirs were not rewritten, and are shared
    data = tmp_path / "state" / bp.name / "data"
    for k, v in man1["buckets"].items():
        if k not in changed:
            assert man2["buckets"][k] == v
            assert (data / f"v={v}" / f"__b={k}").exists()
    # and the table still reads back fully
    assert store.load(spark, bp).count() == 40


def test_incremental_commit_updates_values(spark, tmp_path, bp):
    """Value changes for touched ids land; untouched rows survive
    across an incremental commit."""
    store = StateStore(str(tmp_path / "state"), n_buckets=8)
    store.overwrite(bp, _rows(spark, bp, [("a", "one"), ("b", "two"), ("c", "three")]))
    new = _rows(spark, bp, [("a", "ONE"), ("b", "two"), ("c", "three")])
    touched = spark.createDataFrame([("a",)], "id string")
    store.overwrite(bp, new, touched_ids=touched)
    assert _descs(spark, store, bp) == {"a": "ONE", "b": "two", "c": "three"}


def test_time_travel_previous_version(spark, tmp_path, bp):
    """The current AND previous commits stay loadable (S8 backup
    semantics); older versions are pruned."""
    store = StateStore(str(tmp_path / "state"), n_buckets=4)
    v1 = store.overwrite(bp, _rows(spark, bp, [("a", "one")]))
    v2 = store.overwrite(
        bp,
        _rows(spark, bp, [("a", "ONE"), ("b", "two")]),
        touched_ids=spark.createDataFrame([("a",), ("b",)], "id string"),
    )
    assert _descs(spark, store, bp) == {"a": "ONE", "b": "two"}
    prev = {
        r["id"]: r["description"]
        for r in store.load_version(spark, bp, v1).collect()
    }
    assert prev == {"a": "one"}
    # a third commit rolls the retention window forward
    store.overwrite(
        bp,
        _rows(spark, bp, [("a", "ONE"), ("b", "TWO")]),
        touched_ids=spark.createDataFrame([("b",)], "id string"),
    )
    assert store.load_version(spark, bp, v2).count() == 2
    with pytest.raises(ValueError):
        store.load_version(spark, bp, v1)


def test_change_data_feed(spark, tmp_path, bp):
    """changes() diffs the current commit against the previous one:
    inserted / updated / deleted entity rows."""
    store = StateStore(str(tmp_path / "state"), n_buckets=4)
    store.overwrite(bp, _rows(spark, bp, [("a", "one"), ("b", "two"), ("c", "x")]))
    # second commit: update a, delete c, insert d
    new = _rows(spark, bp, [("a", "ONE"), ("b", "two"), ("d", "four")])
    store.overwrite(bp, new)
    got = {r["id"]: r["change"] for r in store.changes(spark, bp).collect()}
    assert got == {"a": "updated", "c": "deleted", "d": "inserted"}


def test_no_renames_in_commit_path(spark, tmp_path, bp):
    """Data files land at their FINAL path in one write — there is no
    staging directory and no rename step to depend on. (On S3/GCS a
    rename is a copy; this store never issues one.)"""
    store = StateStore(str(tmp_path / "state"))
    store.overwrite(bp, _rows(spark, bp, [("a", "one")]))
    bdir = store._dir(bp.name)
    assert set(os.listdir(bdir)) == {"data", "manifest.v1.json"}
    # the manifest references the as-written location verbatim
    man = store._read_manifest(bp.name)
    for k, v in man["buckets"].items():
        assert os.path.isdir(os.path.join(bdir, f"data/v={v}", f"__b={k}"))


def test_crash_before_manifest_leaves_previous_state(spark, tmp_path, bp):
    """Atomicity: a commit that dies after writing data but BEFORE its
    manifest is durable is invisible — readers stay on the previous
    version, and the next successful commit reaps the orphan."""
    store = StateStore(str(tmp_path / "state"))
    store.overwrite(bp, _rows(spark, bp, [("a", "one")]))
    bdir = store._dir(bp.name)

    # simulate the crash: data for v2 fully written, no manifest.v2
    crashed = _rows(spark, bp, [("a", "CRASHED")]).withColumn(
        "__b", store._bucket_col()
    )
    crashed.write.mode("overwrite").partitionBy("__b").parquet(
        os.path.join(bdir, "data/v=2")
    )

    assert store._read_manifest(bp.name)["version"] == 1
    assert store.load(spark, bp).collect()[0]["description"] == "one"

    # next commit must not reuse the orphan's version number
    v = store.overwrite(bp, _rows(spark, bp, [("a", "three")]))
    assert v == 3
    assert store.load(spark, bp).collect()[0]["description"] == "three"
    assert not os.path.isdir(os.path.join(bdir, "data/v=2"))  # orphan reaped


def test_torn_manifest_is_skipped(spark, tmp_path, bp):
    """A manifest torn mid-write (local FS crash) fails its CRC and is
    skipped — readers fall back to the last valid commit instead of
    erroring or reading garbage."""
    store = StateStore(str(tmp_path / "state"))
    store.overwrite(bp, _rows(spark, bp, [("a", "one")]))
    bdir = store._dir(bp.name)

    with open(os.path.join(bdir, "manifest.v2.json"), "w") as f:
        f.write('{"version": 2, "buckets": {"0": 2}')  # truncated JSON
    assert store._read_manifest(bp.name)["version"] == 1

    man = {"version": 3, "buckets": {"0": 99}, "crc": "bogus"}
    with open(os.path.join(bdir, "manifest.v3.json"), "w") as f:
        f.write(json.dumps(man))  # parses but fails integrity
    assert store._read_manifest(bp.name)["version"] == 1
    assert store.load(spark, bp).collect()[0]["description"] == "one"

    v = store.overwrite(bp, _rows(spark, bp, [("a", "four")]))
    assert v == 4  # torn manifests still reserve their numbers
    assert store.load(spark, bp).collect()[0]["description"] == "four"


def test_change_feed_skips_torn_commit(spark, tmp_path, bp):
    """Version numbers skip past a crashed commit; the change feed must
    diff against the last VALID commit, not blindly against v-1."""
    store = StateStore(str(tmp_path / "state"))
    store.overwrite(bp, _rows(spark, bp, [("a", "one"), ("b", "two")]))
    bdir = store._dir(bp.name)
    with open(os.path.join(bdir, "manifest.v2.json"), "w") as f:
        f.write('{"version": 2, "buckets"')  # torn commit

    batch = _rows(spark, bp, [("a", "ONE"), ("c", "three")])
    merged = (
        store.load(spark, bp)
        .filter(~F.col("id").isin("a", "b"))
        .unionByName(batch)
    )
    v = store.overwrite(bp, merged, touched_ids=spark.createDataFrame(
        [("a",), ("b",), ("c",)], "id string"
    ))
    assert v == 3  # torn v2 reserved its number
    got = {r["id"]: r["change"] for r in store.changes(spark, bp).collect()}
    assert got == {"a": "updated", "b": "deleted", "c": "inserted"}


def test_retention_versions_and_vacuum(spark, tmp_path, bp):
    """Delta-parity history: retain=3 keeps three readable commits
    (copy-on-write: unchanged buckets shared across manifests), older
    commits are reaped automatically, and vacuum() shrinks on demand."""
    store = StateStore(str(tmp_path / "state"), retain=3)
    v1 = store.overwrite(bp, _rows(spark, bp, [("a", "one")]))
    v2 = store.overwrite(bp, _rows(spark, bp, [("a", "one"), ("b", "two")]))
    v3 = store.overwrite(bp, _rows(spark, bp, [("a", "ONE"), ("b", "two")]))
    v4 = store.overwrite(
        bp, _rows(spark, bp, [("a", "ONE"), ("b", "two"), ("c", "three")])
    )
    assert store.versions(bp.name) == [v4, v3, v2]

    # every retained version reads back exactly as committed
    assert {r["id"]: r["description"]
            for r in store.load_version(spark, bp, v2).collect()} == {
        "a": "one", "b": "two"}
    assert {r["id"]: r["description"]
            for r in store.load_version(spark, bp, v3).collect()} == {
        "a": "ONE", "b": "two"}
    # the commit past the retention window is gone
    with pytest.raises(ValueError):
        store.load_version(spark, bp, v1)

    # vacuum to a single commit: only the current survives and still reads
    assert store.vacuum(bp.name, keep=1) == [v4]
    assert store.versions(bp.name) == [v4]
    with pytest.raises(ValueError):
        store.load_version(spark, bp, v3)
    assert {r["id"] for r in store.load(spark, bp).collect()} == {"a", "b", "c"}


def test_old_rename_in_place_layout_fails_loudly(spark, tmp_path, bp):
    """A table written by the older rename-in-place store (a
    ``manifest.json`` pointer, CRC-less history manifests) must not
    read as empty — the next commit would then hold only its batch and
    silently drop the rest of the state."""
    store = StateStore(str(tmp_path / "state"))
    bdir = tmp_path / "state" / bp.name
    (bdir / "b=0" / "v=1").mkdir(parents=True)
    man = json.dumps({"version": 1, "buckets": {"0": 1}})
    (bdir / "manifest.json").write_text(man)
    (bdir / "manifest.v1.json").write_text(man)

    with pytest.raises(ValueError, match="old rename-in-place layout"):
        store._read_manifest(bp.name)
    with pytest.raises(ValueError, match="old rename-in-place layout"):
        store.overwrite(bp, _rows(spark, bp, [("a", "one")]))
    assert (bdir / "manifest.json").exists()  # nothing was rewritten
