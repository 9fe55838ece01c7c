from etl_load_spark.plans.builder import build_plan  # noqa: F401
