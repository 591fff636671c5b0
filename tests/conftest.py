import os
import shutil
import tempfile

import pytest

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
# the S3 tests talk to a localhost stub with explicit keys: without
# this, every new S3FileSystem first waits seconds for the AWS SDK's
# EC2 instance-metadata lookup to time out
os.environ.setdefault("AWS_EC2_METADATA_DISABLED", "true")


@pytest.fixture()
def cache_dir():
    d = tempfile.mkdtemp(prefix="sidecar-cache-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def remote_dir():
    d = tempfile.mkdtemp(prefix="sidecar-remote-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder
        .master("local[4]")
        .appName("sidecar-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ["SPARK_GRAFT_SF_DIR"]
