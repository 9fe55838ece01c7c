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
