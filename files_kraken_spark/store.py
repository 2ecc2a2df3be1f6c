"""Keyed entity state store (reference parity: S10-S14, A11).

The reference's TinyDB JSON table keyed by ``(blueprint, id)``
(``database/_database.py:26-47``) becomes one hash-bucketed parquet
table per blueprint. Commits are INCREMENTAL: only buckets whose ids
appear in the batch are rewritten (the reference updates only touched
entities, ``data_organizer/_data_organizer.py:43-47``) — a full-state
overwrite per micro-batch would be O(state) write amplification per
tick at 100 TB. Layout:

    <root>/<blueprint>/data/v=<N>/__b=<k>/  parquet data of bucket k, written by commit N
    <root>/<blueprint>/manifest.v<N>.json   {"version": N, "buckets": {"k": n}, "crc": …}

Commits are copy-on-write and rename-free, the way Delta's transaction
log and Iceberg's manifests commit:

- **Data files are immutable and written once, directly to their final
  location** — the commit version is in the path, so writers never
  collide with live data and the store's commit protocol never moves
  anything. (Within the data dir, Spark's FileOutputCommitter still
  renames task attempts into place; the write sets committer algorithm
  v2 to skip the job-level double rename, and on real S3 you would
  configure the S3A magic committer so task commits are PUTs, not
  copies. Correctness never depends on those renames.)
- **The commit point is a single new manifest object** (latest valid N
  wins; there is no mutable pointer file). On an object store a PUT is
  all-or-nothing; on a local filesystem a crash can tear the file
  mid-write, so every manifest embeds a CRC of its own payload and
  readers skip any manifest that fails to parse or verify, falling
  back to the previous commit. Either way a crash at ANY point before
  the manifest is durable leaves the store exactly at the previous
  version; orphan data dirs are invisible and reaped by the next
  commit. Untouched buckets keep their old (version, path) in the new
  manifest, so their data files are shared between commits.

The commit point is thus an append-only log of immutable files, not a
rename — in the spirit of Structured Streaming's sink log.

A MERGE-capable table format (Delta ``MERGE INTO``, Iceberg) plugs in
behind the same two calls the pipeline makes: ``Workflow`` uses only
``load(spark, bp)`` and ``overwrite(bp, df, touched_ids=)``, where
``touched_ids`` names the batch's entities — exactly the MERGE source
keys (``jdbc_store.JdbcStateStore`` is such a backend over JDBC).

Note the documented-intent fix: lookups here honor BOTH key parts —
the reference's ``get_blueprint``/``remove_blueprint`` drop the
blueprint-name conjunct due to a Python ``and`` bug
(``database/_database.py:36-37,44``; SURVEY §1.4).
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import re
import shutil
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .blueprint import Blueprint
from .operators.assemble import state_schema

_MANIFEST_RE = re.compile(r"^manifest\.v(\d+)\.json$")


def _payload_crc(version: int, buckets: dict) -> str:
    body = json.dumps({"version": version, "buckets": buckets}, sort_keys=True)
    return hashlib.sha256(body.encode()).hexdigest()[:16]


def align_to_schema(df: DataFrame, bp: Blueprint) -> DataFrame:
    """Reconcile a stored state frame to the blueprint's CURRENT
    schema: missing columns become typed NULLs, extras (fields removed
    from the blueprint) are dropped, order normalized."""
    target = state_schema(bp)
    cols = []
    for f in target:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


class StateStore:
    """All blueprint tables under one root directory.

    ``n_buckets`` fixes the hash-partition count of every table; at
    cluster scale size it so one bucket's rows fit an executor's write
    task (buckets are the unit of rewrite, not parallelism — each
    bucket dir may hold many files).

    ``retain`` = number of commits kept for time travel (default 2 =
    current + previous, at least 2 so ``changes`` has a base).
    ``load_version`` reads any retained commit; ``versions`` lists
    them; ``vacuum`` shrinks the history on demand. Retaining N commits
    costs only the buckets that CHANGED between them.
    """

    def __init__(self, root: str, n_buckets: int = 32, retain: int = 2):
        self.root = root
        self.n_buckets = n_buckets
        self.retain = max(2, retain)
        os.makedirs(root, exist_ok=True)

    # ---------------------------------------------------------- layout

    def _dir(self, blueprint_name: str) -> str:
        return os.path.join(self.root, blueprint_name)

    def _manifest_versions(self, blueprint_name: str) -> list[int]:
        """All manifest version numbers present on disk, descending —
        including torn/invalid files (they still reserve their N)."""
        try:
            entries = os.listdir(self._dir(blueprint_name))
        except FileNotFoundError:
            return []
        return sorted(
            (int(m.group(1)) for m in map(_MANIFEST_RE.match, entries) if m),
            reverse=True,
        )

    def _manifests(self, blueprint_name: str) -> Iterator[dict]:
        """The VALID manifests, newest first; torn or corrupt ones
        (crash leftovers) are skipped — that is the atomicity
        guarantee. Raises on a table in the older rename-in-place
        layout, which this store would otherwise read as empty and
        then overwrite with only the next batch."""
        bdir = self._dir(blueprint_name)
        if os.path.exists(os.path.join(bdir, "manifest.json")):
            raise ValueError(
                f"{bdir} holds a state table in the old rename-in-place "
                "layout (manifest.json pointer, b=<k>/v=<n> bucket dirs); "
                "the store now commits copy-on-write (data/v=<N>/__b=<k> "
                "+ CRC-guarded manifest.v<N>.json). Rebuild the state with "
                "a reindex into an empty root."
            )
        for v in self._manifest_versions(blueprint_name):
            try:
                with open(os.path.join(bdir, f"manifest.v{v}.json")) as f:
                    man = json.load(f)
                if man["crc"] == _payload_crc(man["version"], man["buckets"]):
                    yield man
            except (OSError, ValueError, KeyError, TypeError):
                continue

    def _read_manifest(self, blueprint_name: str) -> dict | None:
        """The current commit's manifest (None before the first)."""
        return next(self._manifests(blueprint_name), None)

    def _retained(self, blueprint_name: str) -> list[dict]:
        """The last ``retain`` valid manifests, newest first — torn
        commits never count against retention."""
        return list(itertools.islice(self._manifests(blueprint_name), self.retain))

    def _next_version(self, blueprint_name: str) -> int:
        """1 + the highest version number ever RESERVED — counting torn
        manifests and orphan data dirs, so an interrupted commit's N is
        never reused (its data dir may hold partial files)."""
        seen = self._manifest_versions(blueprint_name)
        ddir = os.path.join(self._dir(blueprint_name), "data")
        if os.path.isdir(ddir):
            seen += [int(e.split("=", 1)[1]) for e in os.listdir(ddir) if e.startswith("v=")]
        return max(seen, default=0) + 1

    def _bucket_col(self):
        return F.pmod(F.xxhash64(F.col("id")), F.lit(self.n_buckets)).cast("int")

    # ------------------------------------------------------------- reads

    def _scan(self, spark: SparkSession, bp: Blueprint, buckets: dict) -> DataFrame:
        """Read the given {bucket: version} data dirs, aligned to the
        blueprint's current schema (empty frame for no buckets)."""
        if not buckets:
            raw = spark.createDataFrame([], state_schema(bp))
        else:
            paths = [
                os.path.join(self._dir(bp.name), f"data/v={v}", f"__b={k}")
                for k, v in buckets.items()
            ]
            raw = spark.read.option("mergeSchema", "true").parquet(*paths)
        return align_to_schema(raw, bp)

    def load(self, spark: SparkSession, bp: Blueprint) -> DataFrame:
        """S14 — full scan of one blueprint's table (empty if absent).

        Schema evolution: a table written before the blueprint gained a
        field comes back with the new columns as NULL (the reference's
        document store was schemaless, so old records simply lacked the
        key — NULL is the columnar equivalent)."""
        man = self._read_manifest(bp.name)
        return self._scan(spark, bp, man["buckets"] if man else {})

    def get(self, spark: SparkSession, bp: Blueprint, entity_id: str) -> DataFrame:
        """S11 — point lookup by (blueprint, id). Only the id's bucket
        is scanned (manifest-level partition pruning)."""
        pred = (F.col("blueprint") == bp.name) & (F.col("id") == entity_id)
        man = self._read_manifest(bp.name)
        buckets = {}
        if man and man["buckets"]:
            one = spark.createDataFrame([(entity_id,)], "id string")
            k = str(one.select(self._bucket_col()).first()[0])
            if k in man["buckets"]:
                buckets = {k: man["buckets"][k]}
        return self._scan(spark, bp, buckets).filter(pred)

    # ------------------------------------------------------------ writes

    def overwrite(
        self, bp: Blueprint, df: DataFrame, touched_ids: DataFrame | None = None
    ) -> int:
        """A11 — commit a new state version (single-writer, no renames).

        With ``touched_ids`` (the batch's entity ids), only the buckets
        those ids hash into are rewritten — rows of ``df`` outside the
        touched buckets are identical to the stored state by
        construction (the merge only changes batch entities), so their
        buckets keep their old version and data files. Without it,
        every bucket is rewritten (bootstrap / reindex path)."""
        man = self._read_manifest(bp.name)
        prev_buckets = (
            {int(k): int(bv) for k, bv in man["buckets"].items()} if man else {}
        )
        v = self._next_version(bp.name)
        bdir = self._dir(bp.name)
        os.makedirs(bdir, exist_ok=True)

        touched: list[int] | None = None
        out = df.withColumn("__b", self._bucket_col())
        if touched_ids is not None and prev_buckets:
            touched = sorted(
                r[0]
                for r in touched_ids.select(
                    self._bucket_col().alias("__b")
                ).distinct().collect()  # ≤ n_buckets small ints — driver-safe
            )
            if not touched:
                return man["version"]
            out = out.filter(F.col("__b").isin(touched))

        # final location, written once and never moved by the store
        data_dir = os.path.join(bdir, f"data/v={v}")
        out.write.mode("overwrite").option(
            "mapreduce.fileoutputcommitter.algorithm.version", "2"
        ).partitionBy("__b").parquet(data_dir)
        written = {
            int(e.split("=", 1)[1])
            for e in os.listdir(data_dir)
            if e.startswith("__b=")
        }

        if touched is None:
            # full rewrite: buckets with no rows in df are now empty
            new_buckets = {k: v for k in written}
        else:
            new_buckets = dict(prev_buckets)
            for k in touched:
                if k in written:
                    new_buckets[k] = v
                else:
                    new_buckets.pop(k, None)  # every row in the bucket deleted

        buckets_json = {str(k): bv for k, bv in sorted(new_buckets.items())}
        manifest = {
            "version": v,
            "buckets": buckets_json,
            "crc": _payload_crc(v, buckets_json),
        }
        # THE commit point: one new object, all-or-nothing on an object
        # store, CRC-guarded against torn local writes. No pointer swap.
        with open(os.path.join(bdir, f"manifest.v{v}.json"), "w") as f:
            f.write(json.dumps(manifest))
        self._reap(bp.name, self._retained(bp.name))
        return v

    def upsert_rows(self, spark: SparkSession, bp: Blueprint, rows: DataFrame) -> int:
        """S10/S12 — insert-or-replace whole rows by id (utility path;
        the pipeline itself uses assemble's merge)."""
        cur = self.load(spark, bp)
        kept = cur.join(rows.select("id"), "id", "left_anti")
        return self.overwrite(
            bp, kept.unionByName(rows), touched_ids=rows.select("id")
        )

    def delete(self, spark: SparkSession, bp: Blueprint, entity_id: str) -> int:
        """S13 — remove one entity (rewrites only its bucket)."""
        cur = self.load(spark, bp)
        touched = cur.sparkSession.createDataFrame([(entity_id,)], "id string")
        return self.overwrite(
            bp, cur.filter(F.col("id") != entity_id), touched_ids=touched
        )

    def clear(self, bp: Blueprint) -> None:
        shutil.rmtree(self._dir(bp.name), ignore_errors=True)

    # ---------------------------------------------------------- history

    def load_version(self, spark: SparkSession, bp: Blueprint, version: int) -> DataFrame:
        """Time travel: read the state as of a retained commit."""
        for man in self._manifests(bp.name):
            if man["version"] == version:
                return self._scan(spark, bp, man["buckets"])
        raise ValueError(
            f"version {version} of {bp.name} is not retained "
            f"(retained: {self.versions(bp.name)})"
        )

    def versions(self, blueprint_name: str) -> list[int]:
        """Retained commit versions, newest first — each readable via
        ``load_version`` (Delta's DESCRIBE HISTORY, reduced to ids)."""
        return [m["version"] for m in self._retained(blueprint_name)]

    def vacuum(self, blueprint_name: str, keep: int = 1) -> list[int]:
        """Shrink the retained history to the newest ``keep`` commits
        and reap every data version no surviving manifest references —
        Delta's VACUUM. Returns the surviving versions, newest first.
        Safe at any point: the current commit is always kept."""
        survivors = self._retained(blueprint_name)[: max(1, keep)]
        self._reap(blueprint_name, survivors)
        return [m["version"] for m in survivors]

    def changes(self, spark: SparkSession, bp: Blueprint) -> DataFrame:
        """Change-data-feed for the last commit: (id, change) rows with
        change ∈ inserted|updated|deleted, derived by diffing the
        current state against the previous VALID commit (version numbers
        skip past torn commits) — the downstream-consumer hook the
        reference's change reports provide for files, applied to
        ENTITIES. One pass of two anti-joins on (id, row-content hash)."""
        mans = self._manifests(bp.name)
        cur_man, prev_man = next(mans, None), next(mans, None)
        cur = self._scan(spark, bp, cur_man["buckets"] if cur_man else {})
        if prev_man is None:
            return cur.select("id", F.lit("inserted").alias("change"))
        prev = self._scan(spark, bp, prev_man["buckets"])
        fp = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in cur.columns])
        c = cur.select("id", fp.alias("__fp"))
        p = prev.select("id", fp.alias("__fp"))
        inserted = (
            c.join(p.select("id"), "id", "left_anti")
            .select("id", F.lit("inserted").alias("change"))
        )
        deleted = (
            p.join(c.select("id"), "id", "left_anti")
            .select("id", F.lit("deleted").alias("change"))
        )
        updated = (
            c.join(p.withColumnRenamed("__fp", "__pfp"), "id")
            .filter(F.col("__fp") != F.col("__pfp"))
            .select("id", F.lit("updated").alias("change"))
        )
        return inserted.unionByName(updated).unionByName(deleted)

    # ------------------------------------------------------------ hygiene

    def _reap(self, blueprint_name: str, keep: list[dict]) -> None:
        """Keep the manifests in ``keep`` and every data version they
        reference; delete everything else — older commits, torn
        manifests, orphan data dirs of crashed commits."""
        bdir = self._dir(blueprint_name)
        kept = {m["version"] for m in keep}
        referenced = {int(bv) for m in keep for bv in m["buckets"].values()}
        for e in os.listdir(bdir):
            m = _MANIFEST_RE.match(e)
            if m and int(m.group(1)) not in kept:
                os.remove(os.path.join(bdir, e))
        ddir = os.path.join(bdir, "data")
        if os.path.isdir(ddir):
            for e in os.listdir(ddir):
                if e.startswith("v=") and int(e.split("=", 1)[1]) not in referenced:
                    shutil.rmtree(os.path.join(ddir, e), ignore_errors=True)
