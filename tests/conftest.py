from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

FIXTURES = Path(__file__).parent / "fixtures"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    from two_tier_document_parser_spark.pipeline import (
        enable_worker_preload,
        session_tuning,
    )

    # the JVM captures PYTHONPATH at launch and hands it to the worker
    # daemon; restore it afterwards so subprocesses of the tests do not
    # run the preload too
    saved = os.environ.get("PYTHONPATH")
    enable_worker_preload()
    s = (
        session_tuning(
            SparkSession.builder.master("local[4]")
            .appName("ttdp-tests")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "4g")
        )
    ).getOrCreate()
    if saved is None:
        os.environ.pop("PYTHONPATH", None)
    else:
        os.environ["PYTHONPATH"] = saved
    yield s
    s.stop()
