"""fsio: Hadoop-FS-layer helpers — POSIX fallback (no JVM) and the
scheme-resolved Hadoop path are both exercised (the Hadoop path also
runs throughout test_shards/test_compact via file:// sinks)."""
from __future__ import annotations

import os

import pytest

from feathr_spark import fsio


@pytest.fixture()
def no_jvm(monkeypatch):
    # force the POSIX fallback even though the test session has a JVM
    monkeypatch.setattr(fsio, "_active", lambda: None)


def test_posix_fallback_roundtrip(no_jvm, tmp_path):
    d = str(tmp_path / "store")
    assert not fsio.exists(d)
    fsio.mkdirs(d)
    assert fsio.is_dir(d)
    fsio.write_text_atomic(d + "/m.json", '{"a": 1}')
    assert fsio.read_text(d + "/m.json") == '{"a": 1}'
    assert fsio.listdir(d) == ["m.json"]
    # Hadoop rename contract: refuses an existing target
    fsio.write_text_atomic(d + "/n.json", "x")
    assert not fsio.rename(d + "/m.json", d + "/n.json")
    assert fsio.rename(d + "/m.json", d + "/r.json")
    assert sorted(fsio.listdir(d)) == ["n.json", "r.json"]
    assert fsio.delete(d + "/n.json")
    assert not fsio.delete(d + "/n.json")  # already gone
    assert fsio.delete(d, recursive=True)
    assert not fsio.exists(d)
    assert fsio.listdir(d) == []  # nonexistent dir -> empty, not raise


def test_posix_fallback_file_sizes_and_uri(no_jvm, tmp_path):
    d = tmp_path / "ds"
    (d / "sub").mkdir(parents=True)
    (d / "a.parquet").write_bytes(b"x" * 10)
    (d / "sub" / "b.parquet").write_bytes(b"y" * 20)
    (d / "_meta.parquet").write_bytes(b"z")     # underscore: skipped
    (d / ".hidden.parquet").write_bytes(b"z")   # dot: skipped
    assert sorted(fsio.file_sizes(str(d))) == [10, 20]
    # file:// URIs strip the scheme in the fallback
    assert fsio.exists("file://" + str(d / "a.parquet"))
    assert fsio.read_text("file://" + str(d / "a.parquet")) == "x" * 10


def test_hadoop_path_matches_posix(spark, tmp_path):
    # same operations through the real Hadoop FileSystem (file:// URI)
    d = "file://" + str(tmp_path / "hstore")
    fsio.mkdirs(d, spark)
    fsio.write_text_atomic(d + "/m.json", "hello", spark)
    assert fsio.read_text(d + "/m.json", spark) == "hello"
    assert fsio.listdir(d, spark) == ["m.json"]
    assert not fsio.rename(d + "/m.json", d + "/m.json", spark)
    assert fsio.rename(d + "/m.json", d + "/k.json", spark)
    assert fsio.exists(d + "/k.json", spark)
    assert fsio.delete(d, recursive=True, spark=spark)
    assert not fsio.exists(d, spark)


def test_concurrent_atomic_writers_never_tear(no_jvm, tmp_path):
    """Two writers racing the same path: the survivor is always ONE
    writer's complete document (writer-unique tmp names — a shared tmp
    name would let writer A rename writer B's half-written file)."""
    import json
    import threading

    target = str(tmp_path / "m.json")
    docs = [json.dumps({"writer": i, "pad": "x" * 5000}) for i in range(2)]
    errs = []

    def w(i):
        try:
            for _ in range(50):
                fsio.write_text_atomic(target, docs[i])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=w, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert fsio.read_text(target) in docs  # complete, untorn


def test_concurrent_writers_hadoop_path(spark, tmp_path):
    """Same race through the real Hadoop FileSystem: losers of the
    delete+rename race accept the winner's complete document instead of
    raising; no torn file, no stray failure."""
    import json
    import threading

    target = "file://" + str(tmp_path / "h.json")
    docs = [json.dumps({"writer": i, "pad": "y" * 2000}) for i in range(2)]
    errs = []

    def w(i):
        try:
            for _ in range(20):
                fsio.write_text_atomic(target, docs[i], spark)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=w, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert fsio.read_text(target, spark) in docs


def test_posix_rewrite_of_hadoop_written_file_reads_back(spark, tmp_path,
                                                         monkeypatch):
    """A session-less (POSIX) rewrite of a file Hadoop wrote must not
    leave the stale checksum sibling behind: Hadoop's local FS would
    refuse the new content with a ChecksumException."""
    target = "file://" + str(tmp_path / "p.json")
    fsio.write_text_atomic(target, '{"v": 1}', spark)
    assert (tmp_path / ".p.json.crc").exists()
    with monkeypatch.context() as m:
        m.setattr(fsio, "_active", lambda: None)
        fsio.write_text_atomic(target, '{"v": 22, "longer": true}')
    assert fsio.read_text(target, spark) == '{"v": 22, "longer": true}'
    fsio.write_text_atomic(target, '{"v": 3}', spark)  # and back again
    assert fsio.read_text(target, spark) == '{"v": 3}'
