"""``session``'s `file:` filesystem: NioLocalFileSystem keeps the modes,
sticky bit, checksum twins and no-overwrite rename of the filesystem it
replaces, and its class is compiled once per source text and Spark version
into the user cache (or skipped, with a warning, when the host has no
javac)."""

from __future__ import annotations

import logging
import os
import stat
import subprocess

import pyspark

from spark_streaming_twitch_analytics_spark import session


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
