from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from delta_sharing_spark import get_spark

    return get_spark(app_name="dss_tests", cpus=8)


@pytest.fixture(scope="session")
def events(spark):
    from delta_sharing_spark.io import read_table

    return read_table(spark, SF_DIR, "events")


@pytest.fixture(scope="session")
def lineitem(spark):
    from delta_sharing_spark.io import read_table

    return read_table(spark, SF_DIR, "lineitem")


@pytest.fixture()
def table_dir(tmp_path):
    return str(tmp_path / "table")


class ManifestStorage:
    """How ``TableLog`` stores a manifest, toggled with Spark's own
    local-relation bound on the manifest session: "resident" keeps the
    default bound (a small manifest is one driver-side Arrow table,
    pruned in Arrow), "scan" sets it to 0 (residency off: the checkpoint
    is scanned and Catalyst prunes). Build the ``TableLog`` inside the
    test: manifests are cached per log."""

    KEY = "spark.sql.execution.arrow.localRelationThreshold"
    NAMES = ("resident", "scan")

    def __init__(self, name: str):
        self.name = name

    def check(self, log, snapshot) -> None:
        """Assert that ``log`` keeps ``snapshot``'s manifest in this
        storage."""
        resident = log.resident_manifest(snapshot) is not None
        assert resident == (self.name == "resident"), self.name


@contextmanager
def manifest_storage_set(spark, name: str):
    """Within the block, ``TableLog`` builds ``name`` storage (one of
    ``ManifestStorage.NAMES``); yields the ``ManifestStorage``. Tests that
    keep their id loop over both storages with it."""
    from delta_sharing_spark.plans.log import manifest_session

    meta = manifest_session(spark)
    if name == "scan":
        meta.conf.set(ManifestStorage.KEY, "0")
    try:
        yield ManifestStorage(name)
    finally:
        meta.conf.unset(ManifestStorage.KEY)


@pytest.fixture(params=ManifestStorage.NAMES)
def manifest_storage(request, spark):
    with manifest_storage_set(spark, request.param) as storage:
        yield storage
