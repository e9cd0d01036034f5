import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from newsleak_spark.session import get_spark

    s = get_spark(app_name="newsleak_spark_tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts(spark):
    from newsleak_spark.transcripts import load_transcripts

    return load_transcripts(spark, SF_SMOKE).cache()
