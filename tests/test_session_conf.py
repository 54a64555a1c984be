"""Every ``spark.sql.*`` conf that ``session.get_spark`` sets does
something: Spark knows the key, and the value differs from Spark's
default. A conf that fails this is dead weight (or a typo)."""

from __future__ import annotations

from pyspark.errors import SparkNoSuchElementException

from dist_map_reduce_spark import session


class _Recorder:
    """Stands in for ``SparkSession.builder`` and the session it
    returns; records ``config`` calls and absorbs every other call."""

    def __init__(self):
        self.conf = {}

    def __getattr__(self, _name):
        return self

    def __call__(self, *args, **kwargs):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self


def test_engine_sql_confs_are_known_and_not_default(spark, monkeypatch):
    rec = _Recorder()

    class _Session:
        builder = rec

    monkeypatch.setattr(session, "SparkSession", _Session)
    session.get_spark()
    # the zone's default is the JVM's local zone, which varies by host;
    # the engine pins UTC whatever the host runs
    keys = {
        k: v
        for k, v in rec.conf.items()
        if k.startswith("spark.sql.") and k != "spark.sql.session.timeZone"
    }
    assert keys, rec.conf
    fresh = spark._jvm.org.apache.spark.sql.internal.SQLConf()
    dead = []
    for key, value in sorted(keys.items()):
        try:
            default = fresh.getConfString(key)
        except SparkNoSuchElementException:  # SQL_CONF_NOT_FOUND
            dead.append(f"{key}: unknown to Spark")
            continue
        if default == value:
            dead.append(f"{key}: {value!r} is the default")
    assert not dead, "\n".join(dead)
