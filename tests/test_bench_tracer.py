"""The benchmark's traced mode wraps engine functions by name; a rename in
the engine would break it only when a traced run is made. Install and
uninstall the tracer here so the suite catches that."""

from etl_load_spark import runner
from etl_load_spark.sources import registry, writers


def test_tracer_installs_and_restores_the_originals(spark):
    from perfbench import tracing

    names = ("read_source", "split_errors", "write_sink", "build_plan",
             "apply_transformation")
    before = {n: getattr(runner, n) for n in names}
    sink_writers = dict(registry._WRITERS)
    stream_sink = writers.write_stream_sink
    tr = tracing.Tracer(spark, spark.sparkContext.defaultParallelism)
    tr.install()
    try:
        assert all(getattr(runner, n) is not before[n] for n in names)
        assert all(registry._WRITERS[k] is not fn
                   for k, fn in sink_writers.items())
        assert writers.write_stream_sink is not stream_sink
    finally:
        tr.uninstall()
    assert all(getattr(runner, n) is before[n] for n in names)
    assert registry._WRITERS.keys() == sink_writers.keys()
    assert all(registry._WRITERS[k] is fn for k, fn in sink_writers.items())
    assert writers.write_stream_sink is stream_sink
