"""``session``'s `file:` filesystem: NioLocalFileSystem keeps the modes,
sticky bit, checksum twins and no-overwrite rename of the filesystem it
replaces, and its class is compiled once per source text and Spark version
into the user cache (or skipped, with a warning, when the host has no
javac). The per-query constants: a repeated working set of queries
compiles no generated class twice, building a query captures no Python
call site, and the default driver heap leaves room for a second JVM."""

from __future__ import annotations

import logging
import os
import stat
import subprocess

import pyspark
import pyspark.errors.utils
from conftest import SF_SMALL

from spark_streaming_twitch_analytics_spark import registry, session
from spark_streaming_twitch_analytics_spark.cache import release_all

# perfbench's batch_mix: one session re-running these registry queries
BATCH_MIX = (
    "flagship_wordcount", "update_table_merge", "threshold_decode", "training_prep",
    "q1_pricing_summary", "q18_large_orders", "sessionize",
)


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_nio_local_fs_keeps_modes_sticky_bit_and_crc_twins(spark, tmp_path):
    jvm = spark._jvm
    hadoop = jvm.org.apache.hadoop.fs
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    fs = hadoop.FileSystem.getLocal(conf)  # still a LocalFileSystem cast
    assert fs.getClass().getName() == session.NIO_FS_CLASS
    perm = hadoop.permission.FsPermission

    out = fs.create(
        hadoop.Path(str(tmp_path / "f640")), perm(0o640), False, 4096, 1, 1 << 20, None
    )
    out.write(bytearray(b"payload"))
    out.close()
    assert _mode(tmp_path / "f640") == 0o640
    assert (tmp_path / ".f640.crc").is_file()  # the ChecksumFileSystem twin

    assert fs.mkdirs(hadoop.Path(str(tmp_path / "d750")), perm(0o750))
    assert _mode(tmp_path / "d750") == 0o750

    fs.mkdirs(hadoop.Path(str(tmp_path / "sticky")))
    fs.setPermission(hadoop.Path(str(tmp_path / "sticky")), perm(0o1777))
    assert _mode(tmp_path / "sticky") == 0o1777

    # a default create: Hadoop's 0666 under its 022 umask, as on the stock FS
    out = fs.create(hadoop.Path(str(tmp_path / "d750" / "plain")))
    out.close()
    assert _mode(tmp_path / "d750" / "plain") == 0o644
    assert (tmp_path / "d750" / ".plain.crc").is_file()

    # rename never replaces an existing file (as on HDFS and on Hive's
    # ProxyLocalFileSystem, which Spark's jars register for `file:`); onto
    # a free name it moves the file with its twin
    src = hadoop.Path(str(tmp_path / "f640"))
    assert not fs.rename(src, hadoop.Path(str(tmp_path / "d750" / "plain")))
    assert (tmp_path / "d750" / "plain").read_bytes() == b""
    assert fs.rename(src, hadoop.Path(str(tmp_path / "moved")))
    assert (tmp_path / "moved").read_bytes() == b"payload"
    assert (tmp_path / ".moved.crc").is_file() and not (tmp_path / ".f640.crc").exists()


def test_nio_fs_build_is_cached_per_source_text(tmp_path, monkeypatch, caplog):
    """First build runs javac, the second reuses the directory, a changed
    source or Spark version gets its own key, a failed build leaves
    nothing behind, and with no javac on PATH the conf additions are
    empty."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    javac_runs = []
    real_run = subprocess.run

    def counting_run(cmd, *args, **kwargs):
        javac_runs.append(cmd)
        return real_run(cmd, *args, **kwargs)

    monkeypatch.setattr(subprocess, "run", counting_run)

    first = session.nio_fs_classes()
    assert len(javac_runs) == 1
    assert os.path.isfile(os.path.join(first, "graft", "NioLocalFileSystem.class"))
    assert os.path.isfile(os.path.join(first, "graft", "NioLocalFileSystem$Raw.class"))
    assert session.nio_fs_classes() == first
    assert len(javac_runs) == 1

    changed = tmp_path / "v2" / "NioLocalFileSystem.java"
    changed.parent.mkdir()
    changed.write_text(session.NIO_FS_SOURCE.read_text() + "// v2\n")
    second = session.nio_fs_classes(changed)
    assert len(javac_runs) == 2
    assert second != first and os.path.isdir(second)

    # a Spark upgrade brings other jars to compile against: same source,
    # new directory; back on the old version the old build is reused
    with monkeypatch.context() as m:
        m.setattr(pyspark, "__version__", pyspark.__version__ + ".next")
        upgraded = session.nio_fs_classes()
    assert len(javac_runs) == 3
    assert upgraded not in (first, second) and os.path.isdir(upgraded)
    assert session.nio_fs_classes() == first
    assert len(javac_runs) == 3

    broken = tmp_path / "v3" / "NioLocalFileSystem.java"
    broken.parent.mkdir()
    broken.write_text("package graft; class {")
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.nio_fs_classes(broken) is None
    assert len(javac_runs) == 4
    assert len(caplog.records) == 1
    cache = tmp_path / "cache" / "spark_streaming_twitch_analytics_spark"
    assert sorted(os.listdir(cache)) == sorted(
        os.path.basename(d) for d in (first, second, upgraded)
    )  # no staging directory left behind

    assert session.nio_fs_conf("local[2]") == {
        "spark.driver.extraClassPath": first,
        "spark.hadoop.fs.file.impl": session.NIO_FS_CLASS,
    }
    assert session.nio_fs_conf("spark://master:7077") == {}

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cold"))
    monkeypatch.setenv("PATH", str(tmp_path / "empty"))
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.nio_fs_classes() is None
        assert session.nio_fs_conf("local[2]") == {}
    assert len(javac_runs) == 4
    assert [r.levelno for r in caplog.records] == [logging.WARNING] * 2


def test_codegen_cache_holds_a_repeated_working_set(spark):
    """A cycle of more generated classes than Spark's default cache of 100
    holds (about 25 per Guava segment): 120 distinct projections plus the
    batch_mix queries. Run twice, the second cycle compiles nothing."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def cycle() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for i in range(120):
            # the driver compiles a whole-stage class when the plan's RDD is
            # made, so no job is needed to use the cache
            plan = spark.range(8).selectExpr(f"id * {i} + {i} AS v")._jdf.queryExecution()
            plan.executedPlan().execute()
        for name in BATCH_MIX:
            release_all()
            registry.get(name).fn(spark, SF_SMALL).write.format("noop").mode(
                "overwrite"
            ).save()
        release_all()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    assert cycle() > 100  # more classes than the default cache holds
    assert cycle() == 0


def test_building_a_query_captures_no_call_site(spark):
    """PySpark's DataFrame call-site capture is off for the process: the
    flagship builds without PySparkCurrentOrigin lookups, in about half
    the Py4J round trips it takes with the capture on (572)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert pyspark.errors.utils.is_debugging_enabled() is False
    assert pyspark.errors.utils._enable_debugging_cache is False

    build = registry.get("flagship_wordcount").fn
    build(spark, SF_SMALL)  # the table's schema is inferred on first open
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    commands = []

    def recording(command, *args, **kwargs):
        commands.append(command)
        return send(command, *args, **kwargs)

    client.send_command = recording
    try:
        build(spark, SF_SMALL)
    finally:
        del client.send_command  # back to the class's method
    assert not [c for c in commands if "PySparkCurrentOrigin" in c]
    # leave out Py4J's deletes of garbage-collected proxies: when they are
    # sent depends on the collector, not on the build
    calls = [c for c in commands if not c.startswith("m\nd\n")]
    assert 0 < len(calls) <= 350, len(calls)  # 272 with PySpark 4.1.2


def test_driver_memory_defaults_to_half_the_host_up_to_16g(monkeypatch):
    def host(gib: int):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib << 18}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    host(16)
    assert session.driver_memory() == "8192m"
    host(15)
    assert session.driver_memory() == "7680m"
    host(32)
    assert session.driver_memory() == "16384m"
    host(256)
    assert session.driver_memory() == "16384m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.driver_memory() == "2g"
