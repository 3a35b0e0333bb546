import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("TZ", "UTC")
time.tzset()


@pytest.fixture(scope="session")
def spark():
    from intelligent_log_analysis_anomaly_detection_tool_spark.session import get_spark

    s = get_spark(master="local[4]", app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def persistent_rdds(spark):
    """Callable returning the ids of the RDDs Spark currently holds
    persisted: a test compares two calls to see what it left cached."""
    jsc = spark.sparkContext._jsc
    return lambda: set(jsc.getPersistentRDDs().keySet().toArray())


@pytest.fixture(scope="session")
def fixture_pdf():
    """t_small: deterministic 50-conv transcript fixture (FIXTURES.md §1)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.synth import synth_local

    return synth_local(seed=42, n_convs=50)


@pytest.fixture(scope="session")
def oracle_result(fixture_pdf):
    from oracle.reference_oracle import run_table

    return run_table(fixture_pdf)


@pytest.fixture(scope="session")
def fixture_df(spark, fixture_pdf):
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    df = spark.createDataFrame(fixture_pdf, schema=TRANSCRIPTS_SCHEMA)
    df = df.repartition(8, "conv_id").cache()
    df.count()
    return df
