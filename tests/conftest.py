"""Shared pytest fixtures (SURVEY.md §5: hermetic session, fixed
shuffle partitions, the analog of the reference's autouse mock
environment in tests/conftest.py:27-45)."""

from __future__ import annotations

import glob
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from etl_8x8_spark.session import get_spark

    s = get_spark("pytest", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def fixture_dir(sf_dir: str, name: str) -> str:
    """The published scratch dir of the derived fixture ``name`` for
    ``sf_dir`` (``readers.derived``): exactly one must exist, and a
    ``.tmp-`` build dir never matches the 16-hex-digit key."""
    from etl_8x8_spark.sources.readers import _sf_tag, scratch_dir

    key = "[0-9a-f]" * 16
    found = glob.glob(
        os.path.join(scratch_dir(), f"{name}_{_sf_tag(sf_dir)}_{key}")
    )
    assert len(found) == 1, found
    return found[0]
