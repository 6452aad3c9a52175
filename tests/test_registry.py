"""Registry contract: no entry writes to the session it is handed, and an
entry sized on a session of its own still runs under the caller's conf."""

import sys

from pyspark.sql.conf import RuntimeConfig

from hive_json_spark import registry

_KEYS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")


def test_sized_entries_leave_the_callers_session_alone(spark, sf_dir, monkeypatch):
    """The bounded harnesses (every ``q_stream_*`` entry and
    q_dedup_method_eval) size their sessions on a session of their own: no
    conf write reaches the caller's ``spark.conf``."""
    calls = []
    original = RuntimeConfig.set

    def recording_set(self, key, value):
        calls.append((id(self), key))
        return original(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    before = {k: spark.conf.get(k) for k in _KEYS}
    sized = sorted(n for n in registry.QUERIES if n.startswith("q_stream_")) + ["q_dedup_method_eval"]
    for name in sized:
        registry.QUERIES[name](spark, sf_dir).collect()
    assert [key for conf, key in calls if conf == id(spark.conf)] == []
    assert {k: spark.conf.get(k) for k in _KEYS} == before
    # the sizing itself still happens, on the entries' own sessions
    assert {"spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"} <= {key for _, key in calls}


def test_own_session_keeps_the_callers_runtime_conf(spark, monkeypatch):
    """A sized entry's session carries what the caller set at runtime (here
    the session time zone, which rollup and session buckets depend on),
    with only the entry's own keys on top."""
    monkeypatch.setattr(registry, "QUERIES", {})
    monkeypatch.setattr(registry, "ORACLES", {})
    # the decorator also fills the defining module's own QUERIES view
    monkeypatch.setattr(sys.modules[__name__], "QUERIES", {}, raising=False)
    seen = {}

    def probe(session, sf_dir):
        seen.update(
            tz=session.conf.get("spark.sql.session.timeZone"),
            parts=session.conf.get("spark.sql.shuffle.partitions"),
            shared=session.sparkContext is spark.sparkContext,
        )
        return session.range(1)

    registry.query("q_probe", "SELECT 0 AS id", session_conf={"spark.sql.shuffle.partitions": "3"})(probe)
    caller_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
    try:
        registry.QUERIES["q_probe"](spark, "unused")
    finally:
        spark.conf.set("spark.sql.session.timeZone", caller_tz)
    assert seen == {"tz": "Asia/Kathmandu", "parts": "3", "shared": True}
    assert spark.conf.get("spark.sql.shuffle.partitions") != "3"
