from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from covsonar_spark.session import get_spark

    s = get_spark("sparksonar-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def covsonar(tmp_path_factory):
    """covsonar's CI assets (root dir + corpus facts): its checkout when
    present, else a synthetic bundle in the same layout."""
    from tests.fixtures import covsonar_assets

    return covsonar_assets(tmp_path_factory.mktemp("covsonar"))
