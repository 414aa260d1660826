"""Session defaults: the core count and driver heap fit the host, and
DataFrame calls capture no Python call site."""

import os

from neleval_spark.session import host_defaults


def test_host_defaults_fit_the_host():
    cpus, mem = host_defaults({})
    assert int(cpus) == len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert mem.endswith("g")
    assert 1 <= int(mem[:-1]) <= max(1, phys >> 30)


def test_host_defaults_env_overrides():
    assert host_defaults({"SPARK_GRAFT_CPUS": "3",
                          "SPARK_GRAFT_MEM": "5g"}) == ("3", "5g")


def test_session_captures_no_call_sites(spark, monkeypatch):
    """``get_spark`` turns off PySpark's per-expression stack capture;
    the flag is cached per process, so clear it to re-read the conf."""
    from pyspark.errors import utils

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    assert utils.is_debugging_enabled() is False
