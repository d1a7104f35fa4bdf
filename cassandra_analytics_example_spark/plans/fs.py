"""Object-store-safe filesystem helpers via the Hadoop FileSystem API.

Job plumbing must never touch ``os.listdir``/``os.path`` on DATA paths: a
100 TB engine's paths are ``s3a://``/``hdfs://``/``gs://`` URIs where POSIX
calls simply break. Every helper here resolves the path's own FileSystem
from the active Hadoop configuration, so ``file:/``, ``s3a://`` and
``hdfs://`` all behave identically. (The reference has the same need met by
its library's S3-compat transport; its driver-side file listing at
``App.scala:76`` is exactly the pattern we avoid.)

These run on the DRIVER over py4j — fine for control-plane metadata (file
inventories, manifests, markers), never for data movement: listing is O(n
files) RPC-light, and manifest reads/writes are a few KB.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def list_data_files(
    spark: SparkSession, path: str, suffix: str | None = None
) -> list[tuple[str, int]]:
    """Recursive (path, size) inventory of data files under ``path``,
    skipping hidden/marker entries (``_SUCCESS``, ``.crc``, ``_snapshots``)
    exactly as Spark's own readers do."""
    fs, jpath = _fs_and_path(spark, path)
    # listFiles yields qualified paths (file:/..., s3a://...); compare the
    # parent walk against the qualified root, or a scheme-less root never
    # matches and the walk climbs into the root's own hidden ancestors
    root = fs.makeQualified(jpath).toString()
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        status = it.next()
        p = status.getPath()
        name = p.getName()
        if name.startswith(("_", ".")):
            continue
        # skip anything inside a hidden directory (e.g. _snapshots/)
        parent_hidden = False
        parent = p.getParent()
        while parent is not None and parent.toString() != root:
            if parent.getName().startswith(("_", ".")):
                parent_hidden = True
                break
            parent = parent.getParent()
        if parent_hidden:
            continue
        if suffix is not None and not name.endswith(suffix):
            continue
        out.append((p.toString(), int(status.getLen())))
    return sorted(out)


def write_text(spark: SparkSession, path: str, content: str) -> None:
    """Atomically-ish write a small text/JSON control file (manifests,
    markers). Overwrites."""
    fs, jpath = _fs_and_path(spark, path)
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(content.encode("utf-8")))
    finally:
        stream.close()


def read_text(spark: SparkSession, path: str) -> str:
    fs, jpath = _fs_and_path(spark, path)
    stream = fs.open(jpath)
    try:
        util = spark._jvm.org.apache.commons.io.IOUtils
        data = util.toByteArray(stream)
        return bytes(data).decode("utf-8")
    finally:
        stream.close()


def delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path``; a missing path is not an error."""
    fs, jpath = _fs_and_path(spark, path)
    fs.delete(jpath, True)
