"""Walk plans/builder.STAGES, the one table of transformation types: each
entry's streaming contract behaves as declared on a real stream."""

import datetime

import pytest

from etl_load_spark.plans.builder import (STAGES, apply_transformation,
                                          streaming_merge_keys)
from etl_load_spark.spec import JobSpec

_SCHEMA = ("user_id bigint, device string, ts timestamp, value double, "
           "event_type string, kind string, mode string, event_id bigint")


@pytest.fixture(scope="module")
def stream(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stage_table") / "events")
    t = datetime.datetime(2024, 1, 1, 12, 0)
    spark.createDataFrame([(1, "d1", t, 1.5, "a", "k", "m", 1)], _SCHEMA) \
         .write.parquet(path)
    return spark.readStream.schema(_SCHEMA).parquet(path)


def _spec(stage_type, params=None):
    return JobSpec.from_dict({
        "jobId": f"table-{stage_type.lower()}",
        "source": {"type": "PARQUET", "details": {"path": "unused"}},
        "transformation": {"type": stage_type,
                           "parameters": params or {}}})


@pytest.mark.parametrize("params", [
    {},
    {"keyColumn": "device", "typeColumn": "kind", "stateColumn": "mode"},
])
def test_twin_merge_keys_name_columns_of_the_twin_output(spark, stream,
                                                         params):
    twins = {n: s for n, s in STAGES.items() if s.twin}
    assert len(twins) == 10, sorted(twins)
    for name in twins:
        spec = _spec(name, params)
        out = apply_transformation(stream, spark, spec)
        assert out.isStreaming, name
        keys = streaming_merge_keys(spec)
        assert keys and "bucket_ts" in keys, (name, keys)
        assert len(set(keys)) == len(keys), (name, keys)
        assert set(keys) <= set(out.columns), (name, keys, out.columns)


def test_batch_only_stages_refuse_a_stream_with_their_message(spark,
                                                              stream):
    refusing = {n: s for n, s in STAGES.items() if s.batch_only}
    assert refusing
    for name, stage in refusing.items():
        with pytest.raises(ValueError) as e:
            apply_transformation(stream, spark, _spec(name))
        assert str(e.value) == (f"transformation.type={name} is "
                                f"batch-only{stage.batch_only}"), name
        assert streaming_merge_keys(_spec(name)) is None, name


def test_carry_rollups_refuse_carry_parameters_on_a_stream(spark, stream):
    carry = [n for n, s in STAGES.items() if s.twin and s.twin.carried]
    assert sorted(carry) == ["HEARTBEAT_UPTIME", "STATE_DURATIONS",
                             "TIME_WEIGHTED_AVG"]
    for name in carry:
        with pytest.raises(ValueError, match="watermark has already "
                                             "evicted"):
            apply_transformation(stream, spark,
                                 _spec(name, {"carryIn": True}))
        with pytest.raises(ValueError, match="per-bucket-parallel"):
            apply_transformation(stream, spark,
                                 _spec(name, {"hotSplit": "1 day"}))


@pytest.mark.parametrize("ts_param", [None, "at"])
def test_rollup_stream_is_watermarked_once_on_its_ts_column(spark, stream,
                                                            ts_param):
    """Each rollup stage watermarks its stream once, on its tsColumn,
    with the stage's ``watermark`` delay."""
    import re

    from pyspark.sql import functions as F
    src = stream.withColumn("at", F.col("ts"))
    params = {"watermark": "10 minutes"}
    if ts_param:
        params["tsColumn"] = ts_param
    twins = [n for n, s in STAGES.items() if s.twin]
    assert len(twins) == 10, twins
    for name in twins:
        out = apply_transformation(src, spark, _spec(name, params))
        plan = out._jdf.queryExecution().analyzed().toString()
        marks = re.findall(r"EventTimeWatermark [^,]+, (\w+)#\d+: "
                           r"\w+, (.+)", plan)
        assert marks == [(ts_param or "ts", "10 minutes")], (name, marks)


def test_rollups_live_beside_their_batch_operators():
    """Every rollup stage streams through ``operators.timeseries.
    <op>_rollup``, which takes an already-watermarked frame: the
    operators module never watermarks or asks whether a frame streams,
    and ``streaming.windows`` holds no rollup twin."""
    import ast
    import pathlib

    from etl_load_spark.operators import timeseries
    from etl_load_spark.streaming import windows
    ops = [s.twin.op for s in STAGES.values() if s.twin]
    assert all(callable(getattr(timeseries, f"{op}_rollup", None))
               for op in ops), ops
    tree = ast.parse(pathlib.Path(timeseries.__file__).read_text())
    used = {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
    assert not used & {"isStreaming", "withWatermark"}
    tree = ast.parse(pathlib.Path(windows.__file__).read_text())
    defined = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
    assert not defined & {f"streaming_{op}" for op in ops}
