"""Pins the _views registration-skip semantics.

Registration (createOrReplaceTempView) costs ~7 ms/view — ~70 ms per
query invocation — so _views skips re-registering a view whose
(path, mtime) it already registered in the same session.  A new sf_dir
registers again, and so does a different session: temp views belong to
one session, and ``newSession()`` shares the application id.
"""

from __future__ import annotations

from unittest import mock

import pytest

from extractor_spark.spark import queries
from extractor_spark.spark.queries import _views

SF = "/root/testdata/sf0.001"


@pytest.fixture
def registrations(spark):
    """Names passed to createOrReplaceTempView while the fixture is live."""
    calls: list[str] = []
    frame_type = type(spark.range(1))
    orig = frame_type.createOrReplaceTempView

    def counting(self, name):
        calls.append(name)
        return orig(self, name)

    with mock.patch.object(frame_type, "createOrReplaceTempView", counting):
        yield calls


def test_unchanged_path_and_mtime_skips_registration(spark, registrations):
    _views(spark, SF)  # first call registers everything
    assert registrations == queries.TABLES
    _views(spark, SF)  # unchanged (path, mtime) -> no registration
    assert registrations == queries.TABLES
    # the skipped call left the views fully usable
    assert spark.table("documents").count() > 0


def test_new_sf_dir_reregisters(spark, registrations):
    _views(spark, SF)
    before = spark.table("lineitem").count()
    _views(spark, "/root/testdata/sf0.01")
    assert registrations == queries.TABLES * 2
    assert spark.table("lineitem").count() > before


def test_new_session_gets_own_views(spark, registrations):
    _views(spark, SF)
    other = spark.newSession()
    assert other.sparkContext.applicationId == spark.sparkContext.applicationId
    _views(other, SF)  # same app, same (path, mtime): still registers
    assert registrations == queries.TABLES * 2
    assert other.table("documents").count() == spark.table("documents").count()
