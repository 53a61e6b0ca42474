"""The engine's local `file:` store (unstract_spark/jvm/NioRawLocalFileSystem)
against Hadoop's stock one: the same statuses, checksums and rename
semantics, without forking a process per call."""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError

from unstract_spark.streaming.incremental import streaming_kmv_pipeline

NIO = "unstract_spark.jvm.NioRawLocalFileSystem"


@pytest.fixture(scope="module")
def stores(spark):
    """(session FileSystem, stock FileSystem, session FileContext, stock
    FileContext). The stock ones come from a Hadoop Configuration without
    the session's settings: the class Hadoop's service loader picks."""
    jvm = spark._jvm
    hadoop = jvm.org.apache.hadoop
    conf, stock_conf = spark._jsc.hadoopConfiguration(), hadoop.conf.Configuration()
    uri = jvm.java.net.URI("file:///")
    fs = hadoop.fs.FileSystem.get(uri, conf)
    stock = hadoop.fs.FileSystem.newInstance(uri, stock_conf)
    fc = hadoop.fs.FileContext.getFileContext(conf)
    stock_fc = hadoop.fs.FileContext.getFileContext(stock_conf)
    yield fs, stock, fc, stock_fc
    stock.close()


def _path(spark, p):
    return spark._jvm.org.apache.hadoop.fs.Path(str(p))


def _status(st):
    return (
        st.getLen(), st.isDirectory(), st.getModificationTime(), st.getAccessTime(),
        st.getPermission().toShort(), st.getOwner(), st.getGroup(), st.isSymlink(),
        st.getSymlink().toString() if st.isSymlink() else None, st.getPath().toString(),
        st.getReplication(), st.getBlockSize(),
    )


def _rename_args(spark):
    """(no create options, no rename options, [OVERWRITE]) as Java arrays."""
    opts, gateway = spark._jvm.org.apache.hadoop.fs.Options, spark.sparkContext._gateway
    overwrite = gateway.new_array(opts.Rename, 1)
    overwrite[0] = opts.Rename.OVERWRITE
    return gateway.new_array(opts.CreateOpts, 0), gateway.new_array(opts.Rename, 0), overwrite


def _java_error(fn):
    with pytest.raises(Py4JJavaError) as e:
        fn()
    return e.value.java_exception.getClass().getName()


def _build(spark, fs, root):
    """The same tree, written by `fs`: a file, nested dirs, dirs chmodded
    to 0640 and 01777, a symlink and a dangling one."""
    perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission
    out = fs.create(_path(spark, root / "f"))
    out.write(bytearray(b"hello"))
    out.close()
    assert fs.mkdirs(_path(spark, root / "a" / "b" / "c"))
    for name, mode in (("p640", 0o640), ("p1777", 0o1777)):
        assert fs.mkdirs(_path(spark, root / name))
        fs.setPermission(_path(spark, root / name), perm(mode))
    os.symlink("f", root / "ln")
    os.symlink("gone", root / "dangling")


def test_statuses_checksums_and_modes_match_the_stock_store(spark, tmp_path, stores):
    fs, stock, fc, stock_fc = stores
    assert fs.getClass().getName() == f"{NIO}$Local"
    assert fc.getDefaultFileSystem().getClass().getName() == f"{NIO}$Fs"
    assert stock.getRawFileSystem().getClass().getName() == "org.apache.hadoop.fs.RawLocalFileSystem"
    assert stock_fc.getDefaultFileSystem().getClass().getName() == "org.apache.hadoop.fs.local.LocalFs"
    for name, store in (("nio", fs), ("stock", stock)):
        (tmp_path / name).mkdir()
        _build(spark, store, tmp_path / name)
    tree = {}
    for name in ("nio", "stock"):
        base = tmp_path / name
        tree[name] = sorted(
            (os.path.relpath(os.path.join(d, e), base), os.lstat(os.path.join(d, e)).st_mode)
            for d, dirs, files in os.walk(base)
            for e in dirs + files
        )
    assert tree["nio"] == tree["stock"]
    names = {rel for rel, _ in tree["nio"]}
    assert {".f.crc", "p640", "p1777", "a/b/c", "ln", "dangling"} <= names
    assert dict(tree["nio"])["p1777"] & 0o7777 == 0o1777
    for rel in sorted(names - {"dangling"}) + [""]:
        for base in (tmp_path / "nio", tmp_path / "stock"):
            for p in (_path(spark, base / rel), _path(spark, f"file:{base / rel}")):
                assert _status(fs.getFileStatus(p)) == _status(stock.getFileStatus(p)), p
                assert _status(fs.getFileLinkStatus(p)) == _status(stock.getFileLinkStatus(p)), p
    dangling = _path(spark, tmp_path / "nio" / "dangling")
    assert _status(fs.getFileLinkStatus(dangling)) == _status(stock.getFileLinkStatus(dangling))
    assert fs.getFileLinkStatus(_path(spark, tmp_path / "nio" / "ln")).isSymlink()
    missing = _path(spark, tmp_path / "missing")
    for store in (fs, stock):
        assert _java_error(lambda: store.getFileStatus(missing)) == "java.io.FileNotFoundException"
        assert _java_error(lambda: store.getFileLinkStatus(missing)) == "java.io.FileNotFoundException"


def test_rename_onto_a_file_matches_the_stock_store(spark, tmp_path, stores):
    jvm = spark._jvm
    fs, stock, fc, stock_fc = stores
    flag = jvm.org.apache.hadoop.fs.CreateFlag
    no_opts, refuse, overwrite = _rename_args(spark)
    outcomes = []
    for name, ctx in (("nio", fc), ("stock", stock_fc)):
        base = tmp_path / name
        base.mkdir()
        for f, body in (("src", b"new"), ("dst", b"old")):
            out = ctx.create(_path(spark, f"file:{base / f}"), jvm.java.util.EnumSet.of(flag.CREATE), no_opts)
            out.write(bytearray(body))
            out.close()
        src, dst = _path(spark, f"file:{base / 'src'}"), _path(spark, f"file:{base / 'dst'}")
        refused = _java_error(lambda: ctx.rename(src, dst, refuse))
        ctx.rename(src, dst, overwrite)
        outcomes.append((refused, sorted(os.listdir(base)), (base / "dst").read_bytes()))
    assert outcomes[0] == outcomes[1]
    assert outcomes[0] == ("org.apache.hadoop.fs.FileAlreadyExistsException", [".dst.crc", "dst"], b"new")
    # the FileSystem API's rename onto an existing file
    renamed = []
    for name, store in (("fs_nio", fs), ("fs_stock", stock)):
        base = tmp_path / name
        for f in ("x", "y"):
            store.create(_path(spark, base / f)).close()
        renamed.append((store.rename(_path(spark, base / "x"), _path(spark, base / "y")), sorted(os.listdir(base))))
    assert renamed[0] == renamed[1]


def test_local_store_calls_do_not_fork(spark, tmp_path, stores, count_forks):
    """Stock: a chmod per mkdir and create, readlinks per FileContext
    rename; at least 160 processes for these 60 calls."""
    jvm = spark._jvm
    fs, _, fc, _ = stores
    flag = jvm.org.apache.hadoop.fs.CreateFlag
    no_opts, _, overwrite = _rename_args(spark)
    create = jvm.java.util.EnumSet.of(flag.CREATE, flag.OVERWRITE)

    def calls():
        for i in range(20):
            fs.mkdirs(_path(spark, tmp_path / f"m{i}" / "x"))
        for i in range(20):
            fs.create(_path(spark, tmp_path / f"f{i}")).close()
        for i in range(20):
            tmp, dst = _path(spark, f"file:{tmp_path}/.t{i}"), _path(spark, f"file:{tmp_path}/f{i}")
            fc.create(tmp, create, no_opts).close()
            fc.rename(tmp, dst, overwrite)

    _, n = count_forks(calls)
    assert n < 20, n


def test_steady_kmv_fire_does_not_fork(spark, tmp_path, count_forks):
    """The stock store makes about 95 shell-out processes and threads per
    steady fire (offset log, commit log, parquet commit): 107 in all at
    the parent. What is left is thread creation, which varies from fire
    to fire while the session's pools warm up, so the guard takes the
    quietest of four steady fires."""
    src, ckpt, store, out = (str(tmp_path / d) for d in ("src", "ckpt", "store", "out"))
    schema = "doc_id long, text string"
    counts = []
    for lo in range(0, 240, 40):
        spark.createDataFrame([(i, f"value {i}") for i in range(lo, lo + 60)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        fired, n = count_forks(lambda: streaming_kmv_pipeline(spark, src, ckpt, store, out, k=32))
        assert fired == 1
        counts.append(n)
    assert min(counts[2:]) < 30, counts
