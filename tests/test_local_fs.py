"""The local filesystem of built sessions (``jvm/NoFork.java``): Hadoop's
own behaviour, minus a child process for every chmod and readlink."""

from __future__ import annotations

import logging
import os
import shutil

import pytest
from py4j.protocol import Py4JJavaError

from udacitydatawarehouseprj_spark import session as S

NO_FORK = "udacitydatawarehouseprj_spark.jvm.NoFork"
KEYS = ("spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl",
        "spark.driver.extraClassPath")


def _jvm_child_ticks(spark) -> int:
    """CPU ticks of the JVM's reaped children (``cutime`` + ``cstime``)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[13]) + int(fields[14])


def _raw_filesystems(spark):
    """Stock ``RawLocalFileSystem`` and the no-fork subclass, both
    initialized on the session's Hadoop conf."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    pair = (jvm.org.apache.hadoop.fs.RawLocalFileSystem(),
            getattr(jvm.udacitydatawarehouseprj_spark.jvm, "NoFork$RawLocalFileSystem")())
    for fs in pair:
        fs.initialize(uri, conf)
    return pair


def _link_status(fs, path):
    try:
        st = fs.getFileLinkStatus(path)
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    return (st.getPath().toString(), st.isSymlink(),
            st.getSymlink().toString() if st.isSymlink() else None,
            st.isDirectory(), st.getLen(), st.getModificationTime(),
            st.getPermission().toString(), st.getOwner(), st.getGroup())


def _error(call):
    try:
        call()
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    return None


def test_raw_filesystem_matches_stock(spark, tmp_path):
    """Link status (result or exception class) of a file, a directory, a
    symlink, a dangling symlink and a missing path, bare and qualified;
    and the mode each create and mkdirs leaves, the sticky bit and a
    missing path's chmod error included."""
    jvm = spark.sparkContext._jvm
    Path, FsPermission = jvm.org.apache.hadoop.fs.Path, jvm.org.apache.hadoop.fs.permission.FsPermission
    stock, no_fork = _raw_filesystems(spark)
    (tmp_path / "file").write_text("x" * 10)
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    for name in ("file", "dir", "link", "dangling", "missing"):
        for p in (str(tmp_path / name), f"file:{tmp_path / name}"):
            assert _link_status(no_fork, Path(p)) == _link_status(stock, Path(p)), p
    assert _link_status(no_fork, Path(str(tmp_path / "link")))[1] is True

    for i, fs in enumerate((stock, no_fork)):
        root = tmp_path / f"modes{i}"
        fs.create(Path(str(root / "default"))).close()
        fs.create(Path(str(root / "owner")), FsPermission("600"), True, 4096, 1, 1 << 20, None).close()
        for name, mode in (("d755", "755"), ("d700", "700"), ("d1777", "1777")):
            fs.mkdirs(Path(str(root / name)), FsPermission(mode))  # umask drops the sticky bit
        fs.mkdirs(Path(str(root / "plain")))
        fs.setPermission(Path(str(root / "plain")), FsPermission("1777"))
    modes = [{n: oct(os.stat(tmp_path / f"modes{i}" / n).st_mode)
              for n in os.listdir(tmp_path / f"modes{i}")} for i in (0, 1)]
    assert modes[1] == modes[0]
    assert modes[1]["plain"] == "0o41777" and modes[1]["owner"] == "0o100600"

    missing = Path(str(tmp_path / "missing"))
    assert (_error(lambda: no_fork.setPermission(missing, FsPermission("644")))
            == _error(lambda: stock.setPermission(missing, FsPermission("644"))) is not None)


def test_built_session_writes_files_and_checkpoints_without_forks(spark, tmp_path):
    """A parquet dataset of 24 part files and a one-batch stateful stream
    with a checkpoint leave the JVM's reaped-children CPU at 0 ticks, and
    every data and checkpoint file still gets its ``.crc``. The same JVM
    writing through stock Hadoop reads above 0, so the probe sees forks."""
    from pyspark.sql import functions as F

    spark.range(4, numPartitions=1).mapInPandas(lambda it: it, "id long").count()  # warm the daemon
    data, ckpt = str(tmp_path / "data"), str(tmp_path / "ckpt")
    before = _jvm_child_ticks(spark)
    spark.range(0, 2400, numPartitions=24).write.parquet(data)
    q = (spark.readStream.schema("id long").parquet(data)
         .groupBy((F.col("id") % 7).alias("k")).count()
         .writeStream.format("memory").queryName("no_fork_state").outputMode("complete")
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q.awaitTermination(300)
    assert q.exception() is None
    assert spark.table("no_fork_state").count() == 7
    assert _jvm_child_ticks(spark) - before == 0

    written = []
    for top in (data, ckpt):
        for d, _, files in os.walk(top):
            written += [os.path.join(d, f) for f in files if not f.startswith(".")]
    assert sum(p.endswith(".parquet") for p in written) >= 20
    assert any("/state/" in p for p in written) and any("/commits/" in p for p in written)
    missing_crc = [p for p in written
                   if not os.path.exists(os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc"))]
    assert missing_crc == []

    jvm = spark.sparkContext._jvm
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
    before = _jvm_child_ticks(spark)
    for i in range(40):
        stock.create(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "stock" / str(i)))).close()
    assert _jvm_child_ticks(spark) - before > 0


def test_local_sessions_resolve_file_scheme_to_no_fork(spark):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert fs.getClass().getName() == f"{NO_FORK}$LocalFileSystem"
    assert fs.getRawFileSystem().getClass().getName() == f"{NO_FORK}$RawLocalFileSystem"
    assert jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf).getClass().getName() == f"{NO_FORK}$LocalFileSystem"
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    assert fc.getDefaultFileSystem().getClass().getName() == f"{NO_FORK}$LocalFs"
    assert set(KEYS) <= set(S.build_conf("local[2]"))
    for master in ("spark://h:7077", "local-cluster[2,1,1024]"):
        assert not set(KEYS) & set(S.build_conf(master))


def test_without_javac_sessions_keep_stock_hadoop(monkeypatch, caplog):
    which = shutil.which
    monkeypatch.setattr(S.shutil, "which",
                        lambda cmd, *a, **k: None if cmd == "javac" else which(cmd, *a, **k))
    S._warn_stock_local_fs.cache_clear()
    with caplog.at_level(logging.WARNING, logger=S.__name__):
        conf = S.build_conf("local[4]")
        S.build_conf("local[4]")
    assert not set(KEYS) & set(conf)
    assert conf["spark.sql.sources.parallelPartitionDiscovery.threshold"] == str(2**31 - 1)
    warnings = [r.getMessage() for r in caplog.records if r.name == S.__name__]
    assert len(warnings) == 1 and "forks chmod" in warnings[0]


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs a JDK")
def test_compile_error_raises(monkeypatch, tmp_path):
    broken = tmp_path / "NoFork.java"
    broken.write_text("package udacitydatawarehouseprj_spark.jvm; class NoFork { int x = ; }\n")
    monkeypatch.setattr(S, "NO_FORK_SOURCE", str(broken))
    with pytest.raises(RuntimeError, match="javac failed"):
        S._compile_no_fork.__wrapped__(os.path.realpath(shutil.which("javac")))
