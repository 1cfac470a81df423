"""Session-factory conf tests."""

from __future__ import annotations

import os

SHUFFLE = "spark.sql.shuffle.partitions"


def test_get_spark_derives_shuffle_width_from_cores(spark, monkeypatch):
    """Unset, ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` leaves the shuffle width
    at 2 × the cores get_spark resolves (argument, else
    ``SPARK_GRAFT_CPUS``); set, the variable wins. get_spark reuses the
    running session, so each call re-applies the runtime conf to it."""
    from cql_xmlpipe_spark.session import get_spark

    before = spark.conf.get(SHUFFLE)
    try:
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        assert spark.sparkContext.defaultParallelism == cores
        assert get_spark("session-test").conf.get(SHUFFLE) == str(2 * cores)
        assert get_spark("session-test", cpus=3).conf.get(SHUFFLE) == "6"
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
        assert get_spark("session-test").conf.get(SHUFFLE) == "10"
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "7")
        assert get_spark("session-test").conf.get(SHUFFLE) == "7"
        assert get_spark("session-test", cpus=3).conf.get(SHUFFLE) == "7"
    finally:
        spark.conf.set(SHUFFLE, before)


def test_default_driver_mem_is_a_quarter_of_the_host(monkeypatch):
    """The default heap never exceeds what the host has (a 48g cap on a
    16 GiB host got the driver OOM-killed mid-suite): a quarter of
    physical memory, clamped to 1..48 GiB."""
    from cql_xmlpipe_spark import session as S

    page = 4096
    for phys_gib, want in [(16, "4g"), (15.6, "3g"), (2, "1g"), (1024, "48g")]:
        pages = int(phys_gib * 2**30) // page
        monkeypatch.setattr(
            S.os, "sysconf",
            lambda name, pages=pages: page if name == "SC_PAGE_SIZE" else pages,
        )
        assert S.default_driver_mem() == want, phys_gib
