import pandas as pd

from mongodb_postproc_spark.tables import TableCatalog


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame({"key": rows, "v": [x * 10 for x in rows]}),
                                 "key int, v int")


def test_snapshot_append_and_time_travel(spark, tmp_path):
    cat = TableCatalog(str(tmp_path))
    s0 = cat.create_or_replace("t", _df(spark, [1, 2]))
    s1 = cat.append("t", _df(spark, [3]))
    assert {r["key"] for r in cat.read("t", spark).collect()} == {1, 2, 3}
    assert {r["key"] for r in cat.read("t", spark, snapshot=s0).collect()} == {1, 2}
    s2 = cat.create_or_replace("t", _df(spark, [9]))
    assert {r["key"] for r in cat.read("t", spark).collect()} == {9}
    assert {r["key"] for r in cat.read("t", spark, snapshot=s1).collect()} == {1, 2, 3}
    assert [s["id"] for s in cat.snapshots("t")] == [s0, s1, s2]


def test_merge_upsert(spark, tmp_path):
    cat = TableCatalog(str(tmp_path))
    cat.create_or_replace("t", _df(spark, [1, 2, 3]))
    src = spark.createDataFrame(pd.DataFrame({"key": [2, 4], "v": [999, 888]}), "key int, v int")
    cat.merge_upsert("t", src, "key")
    got = {r["key"]: r["v"] for r in cat.read("t", spark).collect()}
    assert got == {1: 10, 2: 999, 3: 30, 4: 888}


def test_merge_upsert_is_merge_on_read(spark, tmp_path):
    """S11 at scale: a merge batch lands O(|src|) bytes — one delete file +
    one append — never a rewrite of the whole table."""
    import os

    cat = TableCatalog(str(tmp_path))
    cat.create_or_replace("t", _df(spark, list(range(100))))
    src = spark.createDataFrame(pd.DataFrame({"key": [5], "v": [555]}), "key int, v int")
    cat.merge_upsert("t", src, "key")
    kinds = [s["kind"] for s in cat.snapshots("t")]
    assert kinds == ["replace", "delete", "append"]
    # second merge on the same key: the newer append must win
    src2 = spark.createDataFrame(pd.DataFrame({"key": [5], "v": [777]}), "key int, v int")
    cat.merge_upsert("t", src2, "key")
    got = {r["key"]: r["v"] for r in cat.read("t", spark).collect()}
    assert got[5] == 777 and len(got) == 100
    # the base snapshot dir was not rewritten
    base = os.path.join(str(tmp_path), "t", "snap=0")
    assert os.path.isdir(base)


def test_equality_deletes_and_compact(spark, tmp_path):
    cat = TableCatalog(str(tmp_path))
    cat.create_or_replace("t", _df(spark, [1, 2, 3, 4]))
    keys = spark.createDataFrame(pd.DataFrame({"key": [2, 3]}), "key int")
    cat.append_deletes("t", keys, "key", scope="global")
    assert {r["key"] for r in cat.read("t", spark).collect()} == {1, 4}
    cat.append("t", _df(spark, [5]))
    assert {r["key"] for r in cat.read("t", spark).collect()} == {1, 4, 5}
    cat.compact("t", spark)
    entry = cat.snapshots("t")[-1]
    assert entry["kind"] == "replace" and entry["delete_members"] == []
    assert {r["key"] for r in cat.read("t", spark).collect()} == {1, 4, 5}


def test_rollback_drops_delete_snapshots(spark, tmp_path):
    cat = TableCatalog(str(tmp_path))
    s0 = cat.create_or_replace("t", _df(spark, [1, 2, 3]))
    keys = spark.createDataFrame(pd.DataFrame({"key": [2]}), "key int")
    cat.append_deletes("t", keys, "key", scope="global")
    cat.rollback_to("t", s0)
    assert {r["key"] for r in cat.read("t", spark).collect()} == {1, 2, 3}


def test_write_rows_driver_side(spark, tmp_path):
    import pyarrow as pa

    cat = TableCatalog(str(tmp_path))
    schema = pa.schema([("round", pa.int32()), ("metric", pa.string()), ("value", pa.float64())])
    cat.write_rows("m", [{"round": 0, "metric": "fetched", "value": 5.0}], schema)
    cat.write_rows("m", [{"round": 1, "metric": "fetched", "value": 7.0}], schema)
    got = {(r["round"], r["metric"], r["value"]) for r in cat.read("m", spark).collect()}
    assert got == {(0, "fetched", 5.0), (1, "fetched", 7.0)}


def test_expire_drops_only_superseded_dirs(spark, tmp_path):
    """expire_snapshots(k) drops the snapshots older than k that the view at
    k no longer uses, manifest first; a dir left by a crash between the
    manifest write and the removal goes on the next call."""
    import os
    import shutil

    cat = TableCatalog(str(tmp_path))
    cat.create_or_replace("t", _df(spark, [1, 2]))
    cat.append("t", _df(spark, [3]))
    keys = spark.createDataFrame(pd.DataFrame({"key": [3]}), "key int")
    cat.append_deletes("t", keys, "key", scope="global")
    s3 = cat.create_or_replace("t", _df(spark, [7, 8]))
    s4 = cat.append("t", _df(spark, [9]))
    s5 = cat.append_deletes("t", spark.createDataFrame(pd.DataFrame({"key": [8]}), "key int"),
                            "key", scope="global")
    s6 = cat.append("t", _df(spark, [5]))  # newer than the pinned view: kept

    def dirs():
        return sorted(int(d[5:]) for d in os.listdir(tmp_path / "t") if d.startswith("snap="))

    cat.expire_snapshots("t", s5)
    assert [s["id"] for s in cat.snapshots("t")] == [s3, s4, s5, s6]
    assert dirs() == [s3, s4, s5, s6]
    assert {r["key"] for r in cat.read("t", spark, snapshot=s5).collect()} == {7, 9}
    assert {r["key"] for r in cat.read("t", spark).collect()} == {5, 7, 9}

    # a crash after the manifest write left an expired dir behind
    shutil.copytree(tmp_path / "t" / f"snap={s3}", tmp_path / "t" / "snap=1")
    cat.expire_snapshots("t", s6)
    assert dirs() == [s3, s4, s5, s6]
