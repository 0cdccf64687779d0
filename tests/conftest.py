from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


#: Streaming state-store WARNs that fire on every healthy checkpoint and
#: bury test failures in the captured output. Every other logger, and
#: every other message of these two classes, keeps its level.
CHECKSUM_LOGGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.ChecksumCheckpointFileManager"
)
STATE_PACKAGE = "org.apache.spark.sql.execution.streaming.state"
#: HDFSBackedStateStoreProvider's "normal for the first batch" notice.
HDFS_STATE_NOTICE = "(?s).*doesn't exist in loadedMaps.*"


def quiet_state_store_warnings(spark) -> None:
    """Raise ChecksumCheckpointFileManager to ERROR and drop
    HDFSBackedStateStoreProvider's per-batch loadedMaps notice. The
    provider appends its store id to its logger name, so its loggers sit
    directly under the package and a level on the class name never
    reaches them: the notice is denied by a filter on the package's
    logger config instead, which inherits the parent's level and
    appenders."""
    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(CHECKSUM_LOGGER, log4j.Level.ERROR)
    ctx = log4j.LogManager.getContext(False)
    pkg = log4j.core.config.LoggerConfig(STATE_PACKAGE, None, True)
    result = log4j.core.Filter.Result
    pkg.addFilter(
        log4j.core.filter.RegexFilter.createFilter(
            HDFS_STATE_NOTICE, None, False, result.DENY, result.NEUTRAL
        )
    )
    ctx.getConfiguration().addLogger(STATE_PACKAGE, pkg)
    ctx.updateLoggers()


@pytest.fixture(scope="session")
def spark():
    from recommender_systems_pyspark_spark.session import get_spark

    spark = get_spark("spark-graft-tests", shuffle_partitions=8)
    quiet_state_store_warnings(spark)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
