"""JDBC state-store backend (BASELINE north star: "DataFrame write to
JDBC"; reference parity: the TinyDB table behind ``DatabaseManager``,
``database/_database.py:26-69``).

Entity state lives in one JDBC table per blueprint, upserted with a
real ``MERGE INTO`` executed over a staging table — the
``foreachBatch`` JDBC-upsert pattern: Spark bulk-writes the batch to a
stage table (parallel, partitioned inserts), then one set-based MERGE
applies it. Embedded Derby (bundled with Spark) backs the tests; any
MERGE-capable JDBC database works via ``url``/``driver``.

Array columns (the reference's List fields) are JSON-encoded at the
boundary — the same to_db/from_db codec role as the reference's
serialization middleware (A12/S15, ``fields/_fields.py:242-256``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from .blueprint import Blueprint
from .operators.assemble import state_schema


class JdbcStateStore:
    def __init__(
        self,
        spark: SparkSession,
        url: str,
        driver: str = "org.apache.derby.jdbc.EmbeddedDriver",
    ):
        self.spark = spark
        self.url = url
        self.driver = driver
        self._props = {"driver": driver}

    # ----------------------------------------------------------- codecs

    def _encode(self, df: DataFrame, bp: Blueprint) -> DataFrame:
        """A12 to_db: arrays → JSON strings (JDBC has no array type)."""
        out = df
        for f in state_schema(bp):
            if isinstance(f.dataType, ArrayType):
                out = out.withColumn(f.name, F.to_json(F.col(f.name)))
        return out

    def _decode(self, df: DataFrame, bp: Blueprint) -> DataFrame:
        """A12 from_db: JSON strings → arrays (only for columns present —
        schema evolution adds missing ones as NULL afterwards)."""
        out = df
        for f in state_schema(bp):
            if isinstance(f.dataType, ArrayType) and f.name in df.columns:
                out = out.withColumn(
                    f.name, F.from_json(F.col(f.name), f.dataType)
                )
        return out

    # ------------------------------------------------------ table utils

    def _table(self, bp: Blueprint) -> str:
        return f"state_{bp.name}".upper()

    def _ddl_columns(self, bp: Blueprint) -> str:
        """Hand-built CREATE TABLE column list. Key columns are bounded
        VARCHAR (they appear in the MERGE ON comparison, where Derby's
        CLOB is illegal); every other string column — scalar STR/PATH
        fields and the JSON-encoded arrays — is CLOB. Non-key columns
        never enter the ON clause; an entity accumulating many list
        members (e.g. LIST_PATH of long paths) must not hit a VARCHAR
        width cap; and Spark's Derby dialect binds a NULL string as a
        CLOB, which Derby refuses to store into a VARCHAR column
        (ERROR 22005). Tables are created via JDBC DDL rather than Spark's
        ``createTableColumnTypes`` because that option only parses
        Spark DDL types (no CLOB). Identifiers are quoted: Spark's JDBC
        writer emits exact-case delimited identifiers."""
        return ", ".join(
            f'"{f.name}" {self._sql_type(f)}' for f in state_schema(bp)
        )

    @staticmethod
    def _sql_type(f) -> str:
        from pyspark.sql.types import ArrayType, StringType

        sql_type = {
            "double": "DOUBLE",
            "float": "REAL",
            "int": "INTEGER",
            "bigint": "BIGINT",
            "boolean": "BOOLEAN",
            "timestamp": "TIMESTAMP",
            "date": "DATE",
            "binary": "BLOB",
        }
        if f.name in ("blueprint", "id"):
            return "VARCHAR(512)"
        if isinstance(f.dataType, (ArrayType, StringType)):
            return "CLOB"
        return sql_type.get(f.dataType.simpleString(), "VARCHAR(32672)")

    def _recreate_table(self, table: str, bp: Blueprint) -> None:
        if self._table_exists(table):
            self._exec(f"DROP TABLE {table}")
        self._exec(f"CREATE TABLE {table} ({self._ddl_columns(bp)})")

    def _exec(self, sql: str) -> None:
        jvm = self.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            stmt = conn.createStatement()
            stmt.execute(sql)
            stmt.close()
        finally:
            conn.close()

    def _table_columns(self, name: str) -> set:
        jvm = self.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            rs = conn.getMetaData().getColumns(None, None, name, None)
            cols = set()
            while rs.next():
                cols.add(rs.getString("COLUMN_NAME"))
            return cols
        finally:
            conn.close()

    def _evolve_table(self, table: str, bp: Blueprint) -> None:
        """Write-side schema evolution: ALTER TABLE ADD any blueprint
        column the existing table lacks (as NULLs — the same contract
        the read side already honors). Without this, a blueprint
        gaining a field would break every subsequent MERGE against the
        old table."""
        existing = self._table_columns(table)
        for f in state_schema(bp):
            if f.name not in existing:
                self._exec(
                    f'ALTER TABLE {table} ADD COLUMN "{f.name}" '
                    f"{self._sql_type(f)}"
                )

    def _table_exists(self, name: str) -> bool:
        jvm = self.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            rs = conn.getMetaData().getTables(None, None, name, None)
            return rs.next()
        finally:
            conn.close()

    # ------------------------------------------------------------ reads

    def load(self, spark: SparkSession, bp: Blueprint) -> DataFrame:
        """S14 — full scan; empty frame with the blueprint schema when
        the table doesn't exist yet (reference empty-DB tolerance).

        Crash recovery: if the live table is missing but swap leftovers
        exist, adopt the newest PROVEN-complete one. ``_STAGE`` is only
        trustworthy when ``_OLD`` also exists — ``overwrite`` parks the
        live table as ``_OLD`` strictly after the stage append finished,
        so _STAGE+_OLD together prove a complete stage interrupted
        mid-swap (adopt _STAGE). A LONE _STAGE with neither live table
        nor _OLD is a first-ever write that crashed mid-append — torn,
        uncommitted data — so it is dropped and the empty frame returned
        (the rename is the commit point for a first write). A lone
        ``_OLD`` means the swap crashed after parking but the stage was
        already promoted or lost; the parked pre-swap state is the best
        committed state, adopt it."""
        from .store import align_to_schema

        table = self._table(bp)
        if not self._table_exists(table):
            stage, old = table + "_STAGE", table + "_OLD"
            if self._table_exists(stage) and self._table_exists(old):
                self._exec(f"RENAME TABLE {stage} TO {table}")
                self._exec(f"DROP TABLE {old}")
            elif self._table_exists(old):
                self._exec(f"RENAME TABLE {old} TO {table}")
            elif self._table_exists(stage):
                self._exec(f"DROP TABLE {stage}")  # torn first write
        if not self._table_exists(table):
            return spark.createDataFrame([], state_schema(bp))
        raw = spark.read.jdbc(self.url, self._table(bp), properties=self._props)
        return align_to_schema(self._decode(raw, bp), bp)

    def get(self, spark: SparkSession, bp: Blueprint, entity_id: str) -> DataFrame:
        """S11 — point lookup (both key parts — the reference's
        documented intent, SURVEY §1.4). The filter pushes down into
        the JDBC scan as a WHERE clause."""
        return self.load(spark, bp).filter(
            (F.col("blueprint") == bp.name) & (F.col("id") == entity_id)
        )

    # ----------------------------------------------------------- writes

    def overwrite(
        self, bp: Blueprint, df: DataFrame, touched_ids: DataFrame | None = None
    ) -> None:
        """Commit the new state. With ``touched_ids`` and an existing
        table, only the touched entities are MERGEd (the pipeline never
        drops state rows — deletes NULL fields — so merging the touched
        subset equals the full replace); otherwise full-state replace."""
        if touched_ids is not None and self._table_exists(self._table(bp)):
            batch = df.join(touched_ids.select("id").distinct(), "id", "left_semi")
            self.merge_upsert(bp, batch)
            return
        # stage-first: ``df`` is lazy and commonly DERIVES from this
        # store's own table (assemble merges batch into load()); a
        # drop-then-write would execute the plan against the freshly
        # emptied table and silently lose all prior state. Materialize
        # into the stage, then swap. The swap itself parks the live
        # table as _OLD before promoting the stage — a crash between
        # the two renames leaves recoverable state (_STAGE complete,
        # _OLD intact) instead of NO table, and ``load`` adopts the
        # leftover stage on next start (round-4 advice: the old
        # DROP-then-RENAME had a total-state-loss window).
        table, stage = self._table(bp), self._table(bp) + "_STAGE"
        old = table + "_OLD"
        self._recreate_table(stage, bp)
        self._encode(df, bp).write.mode("append").jdbc(
            self.url, stage, properties=self._props
        )
        if self._table_exists(table):
            if self._table_exists(old):
                self._exec(f"DROP TABLE {old}")
            self._exec(f"RENAME TABLE {table} TO {old}")
        self._exec(f"RENAME TABLE {stage} TO {table}")
        if self._table_exists(old):
            self._exec(f"DROP TABLE {old}")

    def merge_upsert(self, bp: Blueprint, batch: DataFrame) -> None:
        """A11/S12 — true MERGE upsert: bulk-stage the batch, then one
        set-based MERGE INTO keyed on (blueprint, id)."""
        table, stage = self._table(bp), self._table(bp) + "_STAGE"
        cols = [f.name for f in state_schema(bp)]
        quoted = [f'"{c}"' for c in cols]  # Spark JDBC writes exact-case delimited identifiers
        self._recreate_table(stage, bp)
        self._encode(batch, bp).write.mode("append").jdbc(
            self.url, stage, properties=self._props
        )
        if not self._table_exists(table):
            # first batch: the stage simply becomes the table
            self._exec(f'RENAME TABLE {stage} TO {table}')
            return
        self._evolve_table(table, bp)
        set_clause = ", ".join(
            f"s.{c} = t.{c}" for c in quoted if c not in ('"blueprint"', '"id"')
        )
        insert_cols = ", ".join(quoted)
        insert_vals = ", ".join(f"t.{c}" for c in quoted)
        self._exec(
            f"MERGE INTO {table} s USING {stage} t "
            f'ON s."blueprint" = t."blueprint" AND s."id" = t."id" '
            f"WHEN MATCHED THEN UPDATE SET {set_clause} "
            f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
        )
        self._exec(f"DROP TABLE {stage}")

    def delete(self, bp: Blueprint, entity_id: str) -> None:
        """S13 — keyed delete."""
        if self._table_exists(self._table(bp)):
            safe = entity_id.replace("'", "''")
            self._exec(
                f'DELETE FROM {self._table(bp)} WHERE "id" = \'{safe}\''
            )

    def clear(self, bp: Blueprint) -> None:
        if self._table_exists(self._table(bp)):
            self._exec(f"DROP TABLE {self._table(bp)}")
