"""Session builder settings that tests can observe on the live session."""

from __future__ import annotations

from tests.conftest import REPO


def test_python_workers_get_the_package_root_on_their_path(spark):
    """Python workers import the package, so the builder puts the
    directory that holds it on their PYTHONPATH whatever the driver's
    working directory is."""
    paths = spark.sparkContext.environment["PYTHONPATH"].split(":")
    assert str(REPO) in paths
