"""The fork-free local filesystem (silvia_spark/jvm/NioLocalFs.java) is a
differential twin of Hadoop's stock ``file:`` classes: the same operations
through both must leave the same trees — files, ``.crc`` sidecars, modes,
symlink targets — and raise the same FileNotFoundException. The stock side
comes from a copy of the session's Hadoop conf without the overrides.
"""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
import textwrap

import pytest
from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError

from silvia_spark.session import LOCAL_FS_CONFS

NIO_FS = LOCAL_FS_CONFS["spark.hadoop.fs.file.impl"]
NIO_AFS = LOCAL_FS_CONFS["spark.hadoop.fs.AbstractFileSystem.file.impl"]
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def hadoop(spark):
    gw = spark.sparkContext._gateway
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    stock = gw.jvm.org.apache.hadoop.conf.Configuration(conf)
    stock.unset("fs.file.impl")
    stock.set("fs.AbstractFileSystem.file.impl",
              "org.apache.hadoop.fs.local.LocalFs")
    return gw, conf, stock


def _sides(hadoop):
    """(FileSystem, FileContext) for the session's classes, then stock."""
    gw, conf, stock = hadoop
    fs = gw.jvm.org.apache.hadoop.fs
    uri = gw.jvm.java.net.URI("file:///")
    return [(fs.FileSystem.newInstance(uri, c),
             fs.FileContext.getFileContext(uri, c)) for c in (conf, stock)]


def test_file_scheme_resolves_to_nio_classes(hadoop):
    gw, conf, stock = hadoop
    fs = gw.jvm.org.apache.hadoop.fs
    uri = gw.jvm.java.net.URI("file:///")
    assert fs.FileSystem.get(uri, conf).getClass().getName() == NIO_FS
    ctx = fs.FileContext.getFileContext(uri, conf)
    assert ctx.getDefaultFileSystem().getClass().getName() == NIO_AFS
    stock_fs = fs.FileSystem.newInstance(uri, stock)
    assert stock_fs.getClass().getName() != NIO_FS
    assert (stock_fs.getRaw().getClass().getName()
            == "org.apache.hadoop.fs.RawLocalFileSystem")
    ctx = fs.FileContext.getFileContext(uri, stock)
    assert (ctx.getDefaultFileSystem().getClass().getName()
            == "org.apache.hadoop.fs.local.LocalFs")


def _link_status(call):
    """getFileLinkStatus as comparable data, or the Java exception name."""
    try:
        st = call()
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    return {"file": st.isFile(), "dir": st.isDirectory(),
            "link": st.isSymlink(), "len": st.getLen(),
            "perm": st.getPermission().toShort(),
            "name": st.getPath().getName()}


def _exercise(gw, fs, fc, root: str) -> dict:
    """Every operation under test, through one (FileSystem, FileContext)
    pair rooted at ``root``; returns the results the API reports."""
    hfs = gw.jvm.org.apache.hadoop.fs
    perm = hfs.permission.FsPermission

    def P(rel):
        return hfs.Path("file://" + os.path.join(root, rel))

    def java_array(cls, *items):
        arr = gw.new_array(JavaClass(cls, gw._gateway_client), len(items))
        for i, x in enumerate(items):
            arr[i] = x
        return arr

    out = {}
    for body in (b"first body", b"second, longer body"):  # create+overwrite
        s = fs.create(P("f"), True)
        s.write(bytearray(body))
        s.close()
    out["mkdirs"] = fs.mkdirs(P("d750"), perm(0o750))
    s = fs.create(P("d750/g"), True)
    s.write(bytearray(b"g"))
    s.close()
    fs.setPermission(P("d750/g"), perm(0o640))
    fs.mkdirs(P("sticky"))
    fs.setPermission(P("sticky"), perm(0o1777))
    # the checkpoint path (FileContextBasedCheckpointFileManager): a
    # FileContext create of a temp file, then rename OVERWRITE onto the
    # existing log entry
    flags = gw.jvm.java.util.EnumSet.of(hfs.CreateFlag.CREATE,
                                        hfs.CreateFlag.OVERWRITE)
    no_opts = java_array("org.apache.hadoop.fs.Options$CreateOpts")
    fs.mkdirs(P("ck"))
    for name, body in (("ck/0", b"offsets v0"), ("ck/.0.tmp", b"v1")):
        s = fc.create(P(name), flags, no_opts)
        s.write(bytearray(body))
        s.close()
    rename = JavaClass("org.apache.hadoop.fs.Options$Rename",
                       gw._gateway_client)
    fc.rename(P("ck/.0.tmp"), P("ck/0"),
              java_array("org.apache.hadoop.fs.Options$Rename",
                         rename.OVERWRITE))
    # FileSystem.rename onto an existing file
    out["rename_onto_file"] = fs.rename(P("d750/g"), P("f"))
    os.symlink("f", os.path.join(root, "ln"))
    for rel in ("f", "d750", "ln", "missing"):
        out[f"fs_link:{rel}"] = _link_status(
            lambda: fs.getFileLinkStatus(P(rel)))
        out[f"fc_link:{rel}"] = _link_status(
            lambda: fc.getFileLinkStatus(P(rel)))
    return out


def _tree(root: str) -> dict:
    """Every entry under ``root``: type+mode, bytes, symlink target."""
    tree = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            full = os.path.join(d, name)
            st = os.lstat(full)
            rel = os.path.relpath(full, root)
            if stat.S_ISLNK(st.st_mode):
                tree[rel] = ("link", os.readlink(full))
            elif stat.S_ISDIR(st.st_mode):
                tree[rel] = ("dir", oct(st.st_mode))
            else:
                with open(full, "rb") as f:
                    tree[rel] = ("file", oct(st.st_mode), f.read())
    return tree


def test_operations_match_stock(hadoop, tmp_path):
    results, trees = [], []
    for i, (fs, fc) in enumerate(_sides(hadoop)):
        root = str(tmp_path / f"side{i}")
        os.makedirs(root)
        results.append(_exercise(hadoop[0], fs, fc, root))
        trees.append(_tree(root))
        fs.close()
    nio, stock = results
    assert nio == stock
    assert trees[0] == trees[1]
    # the comparison is not vacuous: sidecars, modes and errors are there
    assert {".f.crc", "d750/.g.crc", "ck/.0.crc"} <= set(trees[0])
    assert trees[0]["d750"][1] == oct(stat.S_IFDIR | 0o750)
    assert trees[0]["d750/g"][1] == oct(stat.S_IFREG | 0o640)
    assert trees[0]["sticky"][1] == oct(stat.S_IFDIR | 0o1777)
    assert trees[0]["ck/0"][2] == b"v1"
    assert nio["fs_link:missing"] == "java.io.FileNotFoundException"
    assert nio["fc_link:missing"] == "java.io.FileNotFoundException"
    assert nio["rename_onto_file"] is False


def _path_without(tool: str, farm: str) -> str:
    """$PATH with ``tool`` removed: each directory holding it is replaced
    by a directory of symlinks to everything else it holds."""
    dirs = []
    for i, d in enumerate(os.environ["PATH"].split(os.pathsep)):
        if not os.path.exists(os.path.join(d, tool)):
            dirs.append(d)
            continue
        sub = os.path.join(farm, str(i))
        os.makedirs(sub)
        for name in os.listdir(d):
            if name != tool:
                os.symlink(os.path.join(d, name), os.path.join(sub, name))
        dirs.append(sub)
    return os.pathsep.join(dirs)


def test_no_javac_keeps_stock_and_warns_once(tmp_path):
    """A fresh process with ``javac`` off PATH: get_session (twice) keeps
    the stock class and warns exactly once."""
    script = textwrap.dedent("""
        import json, warnings
        from silvia_spark.session import get_session
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            s = get_session("no-javac", master="local[1]")
            get_session("no-javac", master="local[1]")
        jvm = s.sparkContext._jvm
        uri = jvm.java.net.URI("file:///")
        conf = s.sparkContext._jsc.hadoopConfiguration()
        print(json.dumps({
            "cls": jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
                   .getClass().getName(),
            "warned": [str(x.message) for x in w
                       if "stock local filesystem" in str(x.message)]}))
        s.stop()
    """)
    env = dict(os.environ, PATH=_path_without("javac", str(tmp_path)),
               PYTHONPATH=REPO, SPARK_DRIVER_MEMORY="512m")
    p = subprocess.run([sys.executable, "-c", script], env=env, cwd=REPO,
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    got = json.loads(p.stdout.strip().splitlines()[-1])
    assert got["cls"] != NIO_FS
    assert len(got["warned"]) == 1 and "no javac" in got["warned"][0]
