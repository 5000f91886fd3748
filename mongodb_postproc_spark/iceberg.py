"""Iceberg-backed implementation of the TableCatalog contract.

`tables.TableCatalog` implements snapshots / merge-on-read equality deletes /
time travel / compaction on plain parquet because this sandbox has no
Iceberg runtime jar. This module is the OTHER half of that statement: when
the Iceberg Spark runtime IS on the classpath (the north rule's named
deployment target), `open_catalog` (tables.py) returns this class and every
engine write routes through real Iceberg SQL:

    create_or_replace  -> df.writeTo(tbl).using("iceberg").createOrReplace()
    append             -> df.writeTo(tbl).append()
    append_deletes     -> DELETE FROM tbl WHERE key IN (SELECT ... src)
                          (merge-on-read position/equality deletes: table
                          property write.delete.mode=merge-on-read)
    merge_upsert       -> MERGE INTO tbl USING src ON key
    read(snapshot=k)   -> SELECT * FROM tbl VERSION AS OF k
    snapshots          -> SELECT * FROM tbl.snapshots
    rollback_to        -> CALL <cat>.system.rollback_to_snapshot(tbl, k)
    compact            -> CALL <cat>.system.rewrite_data_files(tbl)

Scope notes vs the parquet backend:
  - ``append_deletes(scope="global")`` maps to a plain DELETE. Iceberg
    deletes are sequenced (they never affect rows appended later); the
    engine only uses "global" scope where delete keys provably never match
    later appends (the frontier), so the two semantics coincide there.
  - ``member_dirs`` / ``read_snapshot_dir`` are served from Iceberg's
    ``.files`` metadata table and incremental reads — same information the
    parquet manifest tracks by construction.
  - partitioning is declared once on the table (ALTER TABLE ... ADD
    PARTITION FIELD); the per-call ``partition_by`` argument is honored at
    create time and ignored on append (the table spec governs).

Untestable in this sandbox (no jar): exercised by
tests/test_iceberg_catalog.py, which runs the same body against both
backends and skips the Iceberg leg unless the runtime class loads.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def iceberg_runtime_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the session's classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _ident(name: str) -> str:
    if not re.fullmatch(r"[A-Za-z0-9_]+", name):
        raise ValueError(f"unsafe table identifier: {name!r}")
    return name


class IcebergTableCatalog:
    """TableCatalog contract over a real Iceberg catalog.

    ``catalog``/``namespace`` name the Iceberg catalog (configured via
    spark.sql.catalog.<name>.* at session build) and the namespace the
    engine's tables live in — the analog of the parquet backend's workdir.
    """

    def __init__(self, spark: SparkSession, catalog: str, namespace: str):
        self.spark = spark
        self.catalog = _ident(catalog)
        self.namespace = _ident(namespace)
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}")

    def _tbl(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{_ident(name)}"

    # ------------------------------------------------------------- writes
    def create_or_replace(
        self, name: str, df: DataFrame, partition_by: str | None = None,
        options: dict | None = None,
    ) -> int:
        w = df.writeTo(self._tbl(name)).using("iceberg")
        # merge-on-read for the engine's delete-heavy tables: O(|deletes|)
        # write I/O per round, exactly the parquet backend's contract
        for k, v in {
            "write.delete.mode": "merge-on-read",
            "write.merge.mode": "merge-on-read",
            "write.update.mode": "merge-on-read",
            **(options or {}),
        }.items():
            w = w.tableProperty(k, str(v))
        if partition_by is not None:
            from pyspark.sql import functions as F

            w = w.partitionedBy(F.col(partition_by))
        w.createOrReplace()
        return self._current_snapshot_id(name)

    def append(
        self, name: str, df: DataFrame, partition_by: str | None = None,
        options: dict | None = None,
    ) -> int:
        # partition_by ignored: the table's partition spec governs appends
        df.writeTo(self._tbl(name)).append()
        return self._current_snapshot_id(name)

    def append_deletes(
        self, name: str, keys: DataFrame, key: str, scope: str = "sequenced"
    ) -> int:
        assert scope in ("sequenced", "global")
        keys.select(key).createOrReplaceTempView("__delete_keys")
        self.spark.sql(
            f"DELETE FROM {self._tbl(name)} "
            f"WHERE {_ident(key)} IN (SELECT {_ident(key)} FROM __delete_keys)"
        )
        return self._current_snapshot_id(name)

    def merge_upsert(self, name: str, src: DataFrame, key: str) -> int:
        src.createOrReplaceTempView("__merge_src")
        cols = src.columns
        sets = ", ".join(f"t.{_ident(c)} = s.{_ident(c)}" for c in cols)
        names = ", ".join(_ident(c) for c in cols)
        vals = ", ".join(f"s.{_ident(c)}" for c in cols)
        self.spark.sql(
            f"MERGE INTO {self._tbl(name)} t USING __merge_src s "
            f"ON t.{_ident(key)} = s.{_ident(key)} "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT ({names}) VALUES ({vals})"
        )
        return self._current_snapshot_id(name)

    def compact(self, name: str, spark: SparkSession | None = None) -> int:
        self.spark.sql(
            f"CALL {self.catalog}.system.rewrite_data_files("
            f"table => '{self.namespace}.{_ident(name)}')"
        )
        return self._current_snapshot_id(name)

    def write_rows(self, name: str, rows: list[dict], schema, kind: str = "append") -> int:
        """Tiny bookkeeping commit. The parquet backend bypasses Spark via
        pyarrow; Iceberg commits must go through the catalog, so this pays
        one small job per round — noise on a real cluster."""
        import pyarrow as pa

        df = self.spark.createDataFrame(pa.Table.from_pylist(rows, schema=schema).to_pandas())
        if kind == "replace" or not self.exists(name):
            return self.create_or_replace(name, df)
        return self.append(name, df)

    def drop(self, name: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self._tbl(name)} PURGE")

    def rollback_to(self, name: str, snapshot_id: int) -> None:
        self.spark.sql(
            f"CALL {self.catalog}.system.rollback_to_snapshot("
            f"table => '{self.namespace}.{_ident(name)}', "
            f"snapshot_id => {int(snapshot_id)})"
        )

    def expire_snapshots(self, name: str, snapshot_id: int) -> None:
        """Expire the snapshots committed before ``snapshot_id``; Iceberg
        deletes the files no remaining snapshot references."""
        ids = [s["id"] for s in self.snapshots(name)]
        older = ids[: ids.index(snapshot_id)]
        if older:
            self.spark.sql(
                f"CALL {self.catalog}.system.expire_snapshots("
                f"table => '{self.namespace}.{_ident(name)}', "
                f"snapshot_ids => array({', '.join(str(int(i)) for i in older)}))"
            )

    # ------------------------------------------------------------- metadata
    def _current_snapshot_id(self, name: str) -> int:
        snaps = self.snapshots(name)
        return snaps[-1]["id"] if snaps else -1

    def snapshots(self, name: str) -> list[dict]:
        try:
            rows = self.spark.sql(
                f"SELECT snapshot_id, operation FROM {self._tbl(name)}.snapshots "
                f"ORDER BY committed_at, snapshot_id"
            ).collect()
        except Exception:
            return []
        return [{"id": r["snapshot_id"], "kind": r["operation"]} for r in rows]

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._tbl(name))

    def tables(self) -> list[str]:
        rows = self.spark.sql(f"SHOW TABLES IN {self.catalog}.{self.namespace}").collect()
        return sorted(r["tableName"] for r in rows)

    def partition_layout(self, name: str) -> str | None:
        return None  # the table spec governs; appenders need not match it

    def member_dirs(self, name: str, snapshot: int | None = None) -> list[str]:
        """Data-file parents from the .files metadata table — what the
        parquet manifest tracks by construction. The crawl's bucket-slice
        probe reads parquet data files directly, but only on the parquet
        catalog's bucket layout (partition_layout is None here)."""
        import os

        tbl = self._tbl(name)
        at = f" VERSION AS OF {int(snapshot)}" if snapshot is not None else ""
        rows = self.spark.sql(f"SELECT file_path FROM {tbl}.files{at}").collect()
        return sorted({os.path.dirname(r["file_path"]) for r in rows})

    # ------------------------------------------------------------- reads
    def read(self, name: str, spark: SparkSession | None = None,
             snapshot: int | None = None) -> DataFrame:
        sp = spark or self.spark
        if snapshot is None:
            return sp.table(self._tbl(name))
        return sp.sql(f"SELECT * FROM {self._tbl(name)} VERSION AS OF {int(snapshot)}")

    def read_snapshot_dir(self, name: str, spark: SparkSession | None = None,
                          snapshot_id: int | None = None) -> DataFrame:
        """Rows ADDED by one snapshot: Iceberg incremental read pinned to a
        single snapshot window (parquet backend: read one snap= dir)."""
        sp = spark or self.spark
        snaps = [s["id"] for s in self.snapshots(name)]
        i = snaps.index(snapshot_id)
        r = (
            sp.read.format("iceberg")
            .option("end-snapshot-id", str(snapshot_id))
        )
        if i > 0:
            r = r.option("start-snapshot-id", str(snaps[i - 1]))
        return r.load(self._tbl(name))
