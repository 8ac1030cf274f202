"""The session's local file system (``InJvmLocalFileSystem.java``): bound
to ``file:`` for both Hadoop APIs, and indistinguishable from stock
Hadoop in what it writes — modes, symlink answers, the checkpoint's
file set — while answering ``chmod``/``readlink`` inside the JVM."""

from __future__ import annotations

import json
import os
import shutil
import stat

import pytest

from flink_streaming_2_10_spark import session

needs_jdk = pytest.mark.skipif(
    shutil.which("javac") is None,
    reason="no JDK: the session keeps Hadoop's stock local FS",
)


FS_CLASS = "flink_streaming_2_10_spark.localfs.InJvmLocalFileSystem"


def _hadoop(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    return jvm, conf, fs


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


@needs_jdk
def test_session_binds_both_hadoop_apis(spark):
    jvm, conf, fs = _hadoop(spark)
    assert fs.getClass().getName() == FS_CLASS
    assert fs.getRawFileSystem().getClass().getName() == FS_CLASS + "$Raw"
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == FS_CLASS + "$Fs"


@needs_jdk
@pytest.mark.parametrize("mode", [0o600, 0o640, 0o755])
def test_created_file_mode_round_trips(spark, tmp_path, mode):
    jvm, _, fs = _hadoop(spark)
    path = tmp_path / f"f{mode:o}"
    out = fs.create(
        jvm.org.apache.hadoop.fs.Path(str(path)),
        jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}"),
        True, 4096, 1, 1 << 20, None,
    )
    out.write(b"x")
    out.close()
    assert _mode(path) == mode
    assert _mode(tmp_path / f".f{mode:o}.crc") == mode


@needs_jdk
def test_sticky_directory_keeps_sticky_bit(spark, tmp_path):
    jvm, _, fs = _hadoop(spark)
    d = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "shared"))
    assert fs.mkdirs(d)
    fs.setPermission(d, jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
    assert _mode(tmp_path / "shared") == 0o1777


@needs_jdk
def test_link_status_matches_stock_hadoop(spark, tmp_path):
    jvm, conf, fs = _hadoop(spark)
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    (tmp_path / "plain").write_text("abc")
    os.symlink(tmp_path / "plain", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")

    def answer(impl, p):
        try:
            st = impl.getFileLinkStatus(p)
        except Exception as exc:  # noqa: BLE001 — the exception is the answer
            return exc.java_exception.getClass().getName()
        return (
            st.getPath().toString(), st.isFile(), st.isDirectory(),
            st.isSymlink(), st.getLen(), st.getModificationTime(),
            st.getSymlink().toString() if st.isSymlink() else None,
        )

    raw = fs.getRawFileSystem()
    for name in ("plain", "link", "dangling", "missing"):
        # qualified (what FileContext passes) and bare paths
        for spelling in (f"file:{tmp_path / name}", str(tmp_path / name)):
            p = jvm.org.apache.hadoop.fs.Path(spelling)
            want = answer(stock, p)
            assert answer(raw, p) == want, spelling
            assert answer(fs, p) == want, spelling
    # the symlink case really is one for stock Hadoop on a bare path
    assert answer(stock, jvm.org.apache.hadoop.fs.Path(str(tmp_path / "link")))[3]


@needs_jdk
def test_rename_matches_stock_binding(spark, tmp_path):
    """FileSystem.rename onto a missing path, an existing file and an
    existing directory: same result and same files as the class the JVM
    binds to ``file:`` without the session's setting."""
    jvm, _, fs = _hadoop(spark)
    fresh = jvm.org.apache.hadoop.conf.Configuration()
    stock_cls = jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass("file", fresh)
    stock = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance(stock_cls, fresh)
    stock.initialize(jvm.java.net.URI("file:///"), fresh)

    def outcome(impl, root):
        got = []
        for dst in ("missing", "file", "dir"):
            d = root / dst
            d.mkdir(parents=True)
            (d / "src").write_text("new")
            (d / "file").write_text("old")
            (d / "dir").mkdir()
            ok = impl.rename(jvm.org.apache.hadoop.fs.Path(str(d / "src")),
                             jvm.org.apache.hadoop.fs.Path(str(d / dst)))
            files = sorted(
                (os.path.relpath(os.path.join(r, f), d), open(os.path.join(r, f)).read())
                for r, _, names in os.walk(d) for f in names
            )
            got.append((dst, ok, files))
        return got

    assert outcome(fs, tmp_path / "ours") == outcome(stock, tmp_path / "stock")


@needs_jdk
def test_window_join_checkpoint_keeps_every_checksum_file(spark, tmp_path):
    """Per state store and batch version: the delta, Hadoop's .crc of it,
    Spark's checksum file and that file's .crc; every checkpoint file is
    mode 0644 (0666 under Hadoop's default 022 umask), as stock Hadoop
    writes them."""
    from flink_streaming_2_10_spark.streaming.runners import window_join_stream
    from tests.stream_util import collect_stream

    schema = {"g": "ts TIMESTAMP, name STRING, grade INT",
              "s": "ts TIMESTAMP, name STRING, salary INT"}
    for side, col in (("g", "grade"), ("s", "salary")):
        os.makedirs(tmp_path / side)
        for b in range(2):
            path = tmp_path / side / f"part-{b}.json"
            path.write_text("\n".join(
                json.dumps({"ts": f"2024-01-01 00:00:0{2 * b + i}", "name": "ab"[i], col: i})
                for i in range(2)
            ))
            os.utime(path, (1e9 + b, 1e9 + b))

    def src(side):
        return (spark.readStream.option("maxFilesPerTrigger", 1)
                .schema(schema[side]).json(str(tmp_path / side)))

    ck = tmp_path / "ck"
    collect_stream(window_join_stream(src("g"), src("s")), str(ck), "append")

    stores = {
        r: set(files) for r, _, files in os.walk(ck / "state")
        if any(f.endswith(".delta") for f in files)
    }
    # 4 stores (key→count, key+index→value, per side) per shuffle partition
    assert len(stores) == 4 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    for store, files in stores.items():
        versions = {f.split(".")[0] for f in files if f.endswith(".delta")}
        assert files == {
            name for v in versions
            for name in (f"{v}.delta", f".{v}.delta.crc", f"{v}.delta.crc", f".{v}.delta.crc.crc")
        }, store
    modes = {
        _mode(os.path.join(r, f)) for r, _, files in os.walk(ck) for f in files
    }
    assert modes == {0o644}


@needs_jdk
def test_classes_compile_once_then_come_from_the_cache(tmp_path, monkeypatch):
    monkeypatch.setenv("HOME", str(tmp_path))
    out = session._local_fs_classes()
    assert out is not None and out.startswith(str(tmp_path / ".cache"))
    assert len(os.listdir(os.path.join(out, "flink_streaming_2_10_spark", "localfs"))) == 4
    # published by rename: no temporary directory is left behind
    assert os.listdir(os.path.dirname(out)) == [os.path.basename(out)]

    def no_javac(*args, **kwargs):
        raise AssertionError("javac ran with a warm cache")

    monkeypatch.setattr("subprocess.run", no_javac)
    assert session._local_fs_classes() == out


def test_without_javac_the_session_keeps_stock_hadoop(tmp_path, monkeypatch):
    monkeypatch.setenv("HOME", str(tmp_path))
    monkeypatch.setattr(shutil, "which", lambda name: None)
    assert session._local_fs_classes() is None
    assert session._local_fs_conf() == {}
