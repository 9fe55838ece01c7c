import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from etl_load_spark.session import get_spark
    s = get_spark("etl_load_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from etl_load_spark.session import load_tables
    return load_tables(spark, sf_dir)


@pytest.fixture(scope="session")
def tmp_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("prop"))


@pytest.fixture(scope="session")
def known_stage_types():
    """The type names listed by the unknown-type error that
    ``apply_transformation`` raises — what a spec author is told exists."""
    import re

    from etl_load_spark.plans.builder import apply_transformation
    from etl_load_spark.spec import JobSpec
    spec = JobSpec.from_dict({
        "jobId": "unknown-stage",
        "source": {"type": "PARQUET", "details": {"path": "unused"}},
        "transformation": {"type": "NO_SUCH_STAGE"}})
    with pytest.raises(ValueError, match="unknown transformation.type") as e:
        apply_transformation(None, None, spec)
    return re.search(r"\(known: (.*)\)$", str(e.value)).group(1).split(", ")
