"""Small-file compaction (operators/maintenance.py)."""

import glob

from etl_load_spark.operators.maintenance import compact_files


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "many")
    # 40 tiny files (one per partition of the write)
    (spark.range(0, 4000).selectExpr("id", "id % 7 AS k")
     .repartition(40).write.parquet(path))
    before = sorted((r.id, r.k) for r in spark.read.parquet(path).collect())
    m = compact_files(spark, path, target_file_mb=128)
    assert m["files_before"] == 40
    assert m["files_after"] == 1  # 4000 ints ≪ 128 MB
    assert m["rows"] == 4000
    after = sorted((r.id, r.k) for r in spark.read.parquet(path).collect())
    assert after == before
    # no temp/backup residue
    assert not glob.glob(str(tmp_path / "many.compact_tmp*"))
    assert not glob.glob(str(tmp_path / "many.pre_compact*"))


def test_compaction_preserves_partition_layout(spark, tmp_path):
    path = str(tmp_path / "bydate")
    (spark.createDataFrame(
        [(d, i) for d in ("2024-01-01", "2024-01-02") for i in range(100)],
        "day string, n int")
     .repartition(20).write.partitionBy("day").parquet(path))
    m = compact_files(spark, path)
    assert m["files_before"] > m["files_after"]
    got = spark.read.parquet(path)
    assert got.count() == 200
    # hive layout intact: day survives as a partition directory
    assert sorted(str(r.day) for r in got.select("day").distinct().collect()) \
        == ["2024-01-01", "2024-01-02"]
    assert glob.glob(str(tmp_path / "bydate" / "day=2024-01-01" / "*.parquet"))


def test_cli_compact(spark, tmp_path, capsys):
    from etl_load_spark.cli import main
    path = str(tmp_path / "cli_many")
    spark.range(0, 1000).repartition(20).write.parquet(path)
    rc = main(["compact", path, "--target-mb", "64", "--json"])
    assert rc == 0
    import json
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["files_before"] == 20 and out["files_after"] == 1
    assert spark.read.parquet(path).count() == 1000


def test_compact_destination_step(spark, sf_dir, tmp_path):
    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec
    dst = str(tmp_path / "stepped")
    res = run_job(spark, JobSpec.from_dict({
        "jobId": "compact_step",
        "source": {"type": "PARQUET", "path": f"{sf_dir}/orders.parquet"},
        "destination": {"type": "PARQUET", "path": dst,
                        "repartition": 16, "compact_target_mb": 64},
        "query": "SELECT * FROM src",
        "steps": ["LOAD", "VALIDATE_LOAD", "COMPACT_DESTINATION"],
    }))
    assert res.status == "COMPLETED", res.error
    assert any(s.startswith("COMPACT_DESTINATION:16->") for s in res.step_log)
    assert spark.read.parquet(dst).count() == res.records_written


def test_compaction_restores_original_on_swap_failure(spark, tmp_path,
                                                      monkeypatch):
    """If the second rename of the swap fails, the original directory must
    be restored intact (the crash-safety claim)."""
    import os as _os
    import pytest
    from etl_load_spark.operators import maintenance

    path = str(tmp_path / "fragile")
    spark.range(0, 500).repartition(5).write.parquet(path)
    before = sorted(r.id for r in spark.read.parquet(path).collect())

    real_rename = _os.rename
    calls = {"n": 0}

    def failing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # the tmp -> path rename
            raise OSError("injected swap failure")
        return real_rename(src, dst)

    monkeypatch.setattr(maintenance.os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        maintenance.compact_files(spark, path, target_file_mb=64)
    monkeypatch.undo()
    after = sorted(r.id for r in spark.read.parquet(path).collect())
    assert after == before, "original data must survive a failed swap"


def test_compaction_recovers_from_interrupted_swap(spark, tmp_path):
    """A crash BETWEEN the two swap renames leaves no dataset at path and
    the original stranded in .pre_compact; the next compact_files call must
    restore it before proceeding (the recovery protocol)."""
    import os as _os

    path = str(tmp_path / "interrupted")
    spark.range(0, 300).repartition(6).write.parquet(path)
    before = sorted(r.id for r in spark.read.parquet(path).collect())
    # simulate the crash state: path moved to backup, nothing at path
    _os.rename(path, path + ".pre_compact")
    m = compact_files(spark, path, target_file_mb=64)
    assert m["rows"] == 300
    after = sorted(r.id for r in spark.read.parquet(path).collect())
    assert after == before


def test_compaction_splits_large_partition(spark, tmp_path):
    """On a partitioned table, a hive partition larger than the target must be
    written as MULTIPLE files (salt + maxRecordsPerFile), not one oversized
    file per partition."""
    path = str(tmp_path / "skewed")
    # incompressible payloads so on-disk bytes reflect real volume
    big = spark.range(40_000).selectExpr(
        "'big' AS part", "id AS n",
        "repeat(md5(cast(id AS string)), 8) AS payload")
    small = spark.range(50).selectExpr(
        "'small' AS part", "id AS n",
        "md5(cast(id AS string)) AS payload")
    (big.union(small)
     .repartition(30).write.partitionBy("part").parquet(path))
    compact_files(spark, path, target_file_mb=1)
    big_files = glob.glob(str(tmp_path / "skewed" / "part=big" / "*.parquet"))
    small_files = glob.glob(str(tmp_path / "skewed" / "part=small" / "*.parquet"))
    assert len(big_files) > 1, "large partition must split near the target"
    assert len(small_files) == 1, "small partition must not re-fragment"
    got = spark.read.parquet(path)
    assert got.count() == 40_050


def test_compact_partitioned_keeps_null_partition_rows(spark, tmp_path):
    """NULL partition values (__HIVE_DEFAULT_PARTITION__) must survive a
    partitioned compaction — an equality probe join would silently drop
    them from the rewrite."""
    from etl_load_spark.operators.maintenance import compact_files
    path = str(tmp_path / "nulled")
    rows = [(i, None if i % 3 == 0 else f"d{i % 2}") for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, day string")
    df.repartition(8).write.partitionBy("day").parquet(path)
    m = compact_files(spark, path, target_file_mb=64)
    assert m["rows"] == 300
    back = spark.read.parquet(path)
    assert back.count() == 300
    assert back.filter("day IS NULL").count() == 100


def _files(path):
    """Every data file under path → its mtime in nanoseconds."""
    import os
    return {f: os.stat(f).st_mtime_ns
            for f in glob.glob(f"{path}/**/part-*", recursive=True)}


def test_compact_table_is_left_without_a_spark_job(spark, tmp_path):
    """A partitioned table with one file per partition, each under the
    target, is already compact: compact_files runs no Spark job and
    leaves every file as it was, and says so in its metrics."""
    path = str(tmp_path / "compact")
    (spark.createDataFrame([(d, i) for d in ("a", "b", "c")
                            for i in range(50)], "day string, n int")
     .repartition("day").write.partitionBy("day").parquet(path))
    before = _files(path)
    assert len(before) == 3
    sc = spark.sparkContext
    sc.setJobGroup("compact_noop", "compact_files on a compact table")
    try:
        m = compact_files(spark, path, target_file_mb=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("compact_noop") == []
    assert _files(path) == before
    assert m == {"files_before": 3, "files_after": 3,
                 "bytes": m["bytes"], "rows": None, "partitions": ["day"]}


def test_compact_rewrites_two_files_in_one_partition(spark, tmp_path):
    """One partition directory with two files is not compact: it is
    rewritten to one, the others are rewritten too, and no row is lost."""
    path = str(tmp_path / "two")
    df = spark.createDataFrame([(d, i) for d in ("a", "b") for i in range(50)],
                               "day string, n int")
    df.repartition("day").write.partitionBy("day").parquet(path)
    df.where("day = 'a'").coalesce(1).write.mode("append") \
      .partitionBy("day").parquet(path)
    before = _files(path)
    m = compact_files(spark, path, target_file_mb=1)
    assert (m["files_before"], m["files_after"], m["rows"]) == (3, 2, 150)
    assert not set(_files(path)) & set(before)
    assert spark.read.parquet(path).count() == 150


def test_compact_rewrites_a_file_above_the_target(spark, tmp_path):
    """One file larger than the target is not compact, even alone in its
    directory: the rewrite splits it."""
    path = str(tmp_path / "big")
    (spark.range(40_000).selectExpr("repeat(md5(cast(id AS string)), 8) AS p")
     .coalesce(1).write.parquet(path))
    import os
    before = _files(path)
    assert [os.path.getsize(f) > 1024 * 1024 for f in before] == [True]
    m = compact_files(spark, path, target_file_mb=1)
    assert m["files_before"] == 1 and m["files_after"] > 1
    assert m["rows"] == 40_000
    assert not set(_files(path)) & set(before)


def test_compact_infers_hive_layout(spark, tmp_path):
    """Without being told the layout, compaction keeps a hive table's
    ``day=`` directories: two files each become one, with the same rows."""
    import os
    path = str(tmp_path / "inferred")
    df = spark.createDataFrame([(d, i) for d in ("a", "b") for i in range(40)],
                               "day string, n int")
    for _ in range(2):
        df.repartition("day").write.mode("append").partitionBy("day") \
          .parquet(path)
    before = sorted(spark.read.parquet(path).collect())
    m = compact_files(spark, path, target_file_mb=1)
    assert m["partitions"] == ["day"]
    assert sorted(d for d in os.listdir(path)
                  if os.path.isdir(f"{path}/{d}")) == ["day=a", "day=b"]
    assert not glob.glob(f"{path}/part-*")
    for day in ("a", "b"):
        assert len(glob.glob(f"{path}/day={day}/part-*")) == 1, day
    assert sorted(spark.read.parquet(path).collect()) == before


def test_compact_refuses_mixed_layouts_before_reading(spark, tmp_path):
    """Data files at different partition depths, or under different
    column names, are refused before any Spark job, and left as they are."""
    import pytest
    for name, dirs in (("depths", ["", "/day=a"]),
                       ("names", ["/day=a", "/month=b"])):
        path = str(tmp_path / name)
        for d in dirs:
            spark.range(3).write.parquet(path + d)
        before = _files(path)
        sc = spark.sparkContext
        sc.setJobGroup("compact_mixed", "compact_files on a mixed layout")
        try:
            with pytest.raises(ValueError, match="different partition depths"):
                compact_files(spark, path, target_file_mb=1)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup("compact_mixed") == []
        assert _files(path) == before, name


def test_compact_ignores_hidden_directories(spark, tmp_path):
    """A file sink's ``_spark_metadata`` log (and any ``.``/``_`` directory
    without ``=``) holds no data: it neither counts as a file nor breaks
    the layout, so a compact table is still left without a read."""
    import os
    path = str(tmp_path / "sunk")
    spark.range(10).coalesce(1).write.parquet(path)
    for hidden in ("_spark_metadata", ".staging"):
        os.makedirs(f"{path}/{hidden}")
        with open(f"{path}/{hidden}/0", "w") as f:
            f.write("v1\n")
    m = compact_files(spark, path, target_file_mb=1)
    assert (m["files_before"], m["files_after"], m["rows"]) == (1, 1, None)
    assert m["partitions"] == []
