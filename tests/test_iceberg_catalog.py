"""One catalog-contract body, two backends.

The engine's table layer targets Iceberg (BASELINE north rule); this sandbox
has no Iceberg runtime jar, so tables.TableCatalog implements the contract
on parquet+manifest. open_catalog switches to iceberg.IcebergTableCatalog at
runtime when the jar IS present. This test runs the identical contract body
against both: the parquet leg always, the Iceberg leg skipped unless
org.apache.iceberg.spark.SparkCatalog loads — so a cluster image that ships
the jar verifies both paths with zero test changes.
"""

from __future__ import annotations

import pytest

from mongodb_postproc_spark.iceberg import IcebergTableCatalog, iceberg_runtime_available
from mongodb_postproc_spark.tables import TableCatalog, open_catalog


def _exercise(cat, spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, s string, v int"
    )
    snap0 = cat.create_or_replace("t", df)
    assert cat.exists("t")
    assert {r["k"] for r in cat.read("t", spark).collect()} == {1, 2, 3}

    cat.append("t", spark.createDataFrame([(4, "d", 40)], "k int, s string, v int"))
    assert cat.read("t", spark).count() == 4

    # MERGE: update k=2, insert k=5
    cat.merge_upsert(
        "t", spark.createDataFrame([(2, "B", 99), (5, "e", 50)], "k int, s string, v int"), "k"
    )
    got = {r["k"]: (r["s"], r["v"]) for r in cat.read("t", spark).collect()}
    assert got[2] == ("B", 99) and got[5] == ("e", 50) and len(got) == 5

    # equality delete (merge-on-read)
    cat.append_deletes("t", spark.createDataFrame([(1,)], "k int"), "k")
    assert {r["k"] for r in cat.read("t", spark).collect()} == {2, 3, 4, 5}

    # time travel to the first snapshot + rollback
    assert {r["k"] for r in cat.read("t", spark, snapshot=snap0).collect()} == {1, 2, 3}
    cat.rollback_to("t", snap0)
    assert {r["k"] for r in cat.read("t", spark).collect()} == {1, 2, 3}

    assert "t" in cat.tables()
    assert [s["id"] for s in cat.snapshots("t")]  # non-empty log

    # expiring everything older than a replace leaves only that snapshot
    snap_last = cat.create_or_replace("t", df)
    cat.expire_snapshots("t", snap_last)
    assert [s["id"] for s in cat.snapshots("t")] == [snap_last]
    assert {r["k"] for r in cat.read("t", spark).collect()} == {1, 2, 3}
    cat.drop("t")
    assert not cat.exists("t")


def test_parquet_backend_contract(spark, tmp_path):
    _exercise(TableCatalog(str(tmp_path / "wh")), spark)


def test_open_catalog_default_is_parquet_here(spark, tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CATALOG", raising=False)
    cat = open_catalog(str(tmp_path / "wh2"), spark)
    # no Iceberg jar in this sandbox -> the parquet contract backend
    assert isinstance(cat, TableCatalog)


def test_iceberg_backend_contract(spark, tmp_path):
    if not iceberg_runtime_available(spark):
        pytest.skip("Iceberg Spark runtime not on the classpath")
    if spark.conf.get("spark.sql.catalog.graft_ice", None) is None:
        pytest.skip("no spark.sql.catalog.graft_ice configured for this session")
    _exercise(IcebergTableCatalog(spark, "graft_ice", "testns"), spark)
