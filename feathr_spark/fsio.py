"""Sink-filesystem I/O through the Hadoop FileSystem API.

The resumability machinery (materialize/shards manifest commits,
streaming-dedup epoch discovery, parquet compaction's atomic swap)
needs a handful of metadata operations on the SINK filesystem:
exists / list / mkdirs / rename / delete / tiny-JSON read+write. On a
real cluster the sink is HDFS or an object store, not the driver's
POSIX filesystem, so these must go through Hadoop's ``FileSystem``
abstraction — the same layer Spark's own writers use and the analogue
of the reference's ``offline/util/HdfsUtils`` / ``SparkIOUtils``
(feathr-impl offline/util/HdfsUtils.scala, SparkIOUtils.scala).

Every helper resolves the filesystem from the path's scheme via the
active session's Hadoop configuration (``file://``, ``hdfs://``,
``s3a://``, ... all behave identically), so the sandbox's local-path
tests exercise the exact code path a cluster run takes. When no JVM is
reachable (no active SparkSession — e.g. a post-run report on a plain
local directory) the helpers fall back to equivalent POSIX ``os``
calls, which only local paths can hit.

Scale note: these are driver-side METADATA calls — O(#partitions)
tiny RPCs per job, never data movement; the data files themselves are
always written by Spark executors.
"""

from __future__ import annotations

import os
import shutil
from typing import List, Optional

from pyspark.sql import SparkSession


def _jfs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``, resolved by scheme."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsc.hadoopConfiguration()
    return jpath.getFileSystem(conf), jpath


def _active() -> Optional[SparkSession]:
    try:
        return SparkSession.getActiveSession()
    except Exception:
        return None


def _local_part(path: str) -> str:
    # strip a file:// scheme for the POSIX fallback
    return path[len("file://"):] if path.startswith("file://") else path


def exists(path: str, spark: Optional[SparkSession] = None) -> bool:
    spark = spark or _active()
    if spark is None:
        return os.path.exists(_local_part(path))
    fs, p = _jfs(spark, path)
    return bool(fs.exists(p))


def is_dir(path: str, spark: Optional[SparkSession] = None) -> bool:
    spark = spark or _active()
    if spark is None:
        return os.path.isdir(_local_part(path))
    fs, p = _jfs(spark, path)
    return bool(fs.exists(p)) and bool(fs.getFileStatus(p).isDirectory())


def listdir(path: str, spark: Optional[SparkSession] = None) -> List[str]:
    """Child basenames of a directory (empty list if it doesn't exist)."""
    spark = spark or _active()
    if spark is None:
        lp = _local_part(path)
        return sorted(os.listdir(lp)) if os.path.isdir(lp) else []
    fs, p = _jfs(spark, path)
    if not fs.exists(p):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(p))


def mkdirs(path: str, spark: Optional[SparkSession] = None) -> None:
    spark = spark or _active()
    if spark is None:
        os.makedirs(_local_part(path), exist_ok=True)
        return
    fs, p = _jfs(spark, path)
    fs.mkdirs(p)


def delete(path: str, recursive: bool = True,
           spark: Optional[SparkSession] = None) -> bool:
    """Delete a file or tree; True if something was removed."""
    spark = spark or _active()
    if spark is None:
        lp = _local_part(path)
        if os.path.isdir(lp):
            shutil.rmtree(lp, ignore_errors=True)
            return True
        if os.path.exists(lp):
            os.remove(lp)
            return True
        return False
    fs, p = _jfs(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, bool(recursive)))


def rename(src: str, dst: str, spark: Optional[SparkSession] = None) -> bool:
    """Hadoop-contract rename: fails (False) if ``dst`` exists — callers
    that want replace semantics delete ``dst`` first."""
    spark = spark or _active()
    if spark is None:
        lsrc, ldst = _local_part(src), _local_part(dst)
        if os.path.exists(ldst):
            return False
        os.replace(lsrc, ldst)
        return True
    fs, ps = _jfs(spark, src)
    _, pd = _jfs(spark, dst)
    return bool(fs.rename(ps, pd))


def read_text(path: str, spark: Optional[SparkSession] = None) -> str:
    spark = spark or _active()
    if spark is None:
        with open(_local_part(path)) as fh:
            return fh.read()
    fs, p = _jfs(spark, path)
    stream = fs.open(p)
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def write_text_atomic(path: str, text: str,
                      spark: Optional[SparkSession] = None) -> None:
    """Write ``text`` to ``path`` via tmp-file + rename so readers never
    observe a torn write. Hadoop rename refuses an existing target, so
    an existing ``path`` is deleted first; a crash in the gap leaves NO
    file — for commit markers that reads as "uncommitted" and the
    partition is safely rewritten on resume (never half-trusted).
    The tmp name is writer-unique (pid + thread), so CONCURRENT writers
    to the same path never interleave into one tmp file — the last
    completed rename wins with one writer's complete document (the
    mkstemp discipline of the pre-fsio local commit path). A crash can
    strand a ``.tmp.*`` sibling; it is never read (readers open exactly
    ``path``) and the next successful writer's delete+rename ignores it."""
    spark = spark or _active()
    import threading
    tmp = f"{path}.tmp.{os.getpid()}-{threading.get_ident()}"
    if spark is None:
        lp, ltmp = _local_part(path), _local_part(tmp)
        with open(ltmp, "w") as fh:
            fh.write(text)
        # drop a Hadoop local-FS checksum sibling: it would no longer
        # match, and Hadoop reads would fail with ChecksumException
        head, name = os.path.split(lp)
        crc = os.path.join(head, f".{name}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        os.replace(ltmp, lp)  # atomic on POSIX
        return
    fs, p = _jfs(spark, path)
    _, pt = _jfs(spark, tmp)
    out = fs.create(pt, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(pt, p):
        # a concurrent writer can win the delete+rename race (Hadoop
        # rename refuses an existing target): if a complete document is
        # now in place, drop our tmp and accept theirs — the invariant
        # is "path holds ONE writer's complete document", not "ours"
        if fs.exists(p):
            fs.delete(pt, False)
            return
        raise IOError(f"rename {tmp} -> {path} failed")


def file_sizes(path: str, suffix: str = ".parquet",
               spark: Optional[SparkSession] = None) -> List[int]:
    """Sizes of all data files under ``path`` (recursive), skipping
    hidden/metadata names (``.``/``_`` prefixes, Spark convention)."""
    spark = spark or _active()
    out: List[int] = []
    if spark is None:
        for root, _dirs, names in os.walk(_local_part(path)):
            for n in names:
                if n.endswith(suffix) and not n.startswith((".", "_")):
                    out.append(os.path.getsize(os.path.join(root, n)))
        return out
    fs, p = _jfs(spark, path)
    if not fs.exists(p):
        return []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(suffix) and not name.startswith((".", "_")):
            out.append(int(st.getLen()))
    return out
