"""Session settings: shuffle sizing in ``get_spark`` and the runtime SQL
settings ``cli`` applies to a session it did not build."""

from __future__ import annotations

import os

from addressparser_spark import session


def test_explicit_cores_size_shuffle_partitions(spark, monkeypatch):
    """``cores`` sizes the shuffle partitions even when the host has more
    CPUs: max(8, 2) = 8, not cpu_count() = 32."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    monkeypatch.setattr(os, "cpu_count", lambda: 32)
    try:
        # an existing session takes the builder's runtime SQL settings
        assert session.get_spark(cores=2).conf.get(key) == "8"
    finally:
        spark.conf.set(key, before)


def test_apply_sql_settings_on_new_session(spark):
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
    session.apply_sql_settings(s)
    assert {k: s.conf.get(k) for k in session.SQL_SETTINGS} == session.SQL_SETTINGS
