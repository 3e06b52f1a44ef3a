from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


@pytest.fixture(scope="session")
def spark():
    from healthkit_to_sqlite_spark.session import get_spark
    s = get_spark("pytest", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def hk_zip(tmp_path_factory):
    from tests.hk_fixture import build_export_zip
    d = tmp_path_factory.mktemp("hk")
    return build_export_zip(str(d / "export.zip"))


@pytest.fixture(scope="session")
def hk_tables(spark, hk_zip, tmp_path_factory):
    from healthkit_to_sqlite_spark.sources.healthkit import convert
    staging = str(tmp_path_factory.mktemp("staging"))
    return convert(spark, hk_zip, staging)
