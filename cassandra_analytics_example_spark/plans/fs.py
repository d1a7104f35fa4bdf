"""Object-store-safe filesystem helpers via the Hadoop FileSystem API.

Job plumbing must never touch ``os.listdir``/``os.path`` on DATA paths: a
100 TB engine's paths are ``s3a://``/``hdfs://``/``gs://`` URIs where POSIX
calls simply break. Every helper here resolves the path's own FileSystem
from the active Hadoop configuration, so ``file:/``, ``s3a://`` and
``hdfs://`` all behave identically. (The reference has the same need met by
its library's S3-compat transport; its driver-side file listing at
``App.scala:76`` is exactly the pattern we avoid.)

These run on the DRIVER over py4j — fine for control-plane metadata (file
inventories, manifests, markers): listing is O(n files) RPC-light, and
manifest reads/writes are a few KB. Inventories walk ``listStatus``, never
``listFiles``: the latter builds a ``LocatedFileStatus`` per file, which
copies the file's permission, and on a local filesystem without the
native-hadoop library reading a permission forks a shell command.

The one data-movement helper is ``import_files``, the file-level import of
a staged write (the reference imports its uploaded SSTables the same way).
It streams the staged bytes through the driver's Hadoop client once per
target. At 100 TB on an object store the right primitive is a server-side
copy, which the Hadoop ``FileSystem`` API does not expose.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

_SUCCESS = "_SUCCESS"


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _walk(fs, root):
    """Yield ``(relative path, FileStatus)`` of every data file under
    ``root``, skipping hidden/marker entries (``_SUCCESS``, ``.crc``,
    ``_snapshots/``) exactly as Spark's own readers do. Hidden directories
    are pruned as the walk meets them, so the root's own ancestors are
    never looked at."""
    stack = [(root, "")]
    while stack:
        directory, prefix = stack.pop()
        for status in fs.listStatus(directory):
            p = status.getPath()
            name = p.getName()
            if name.startswith(("_", ".")):
                continue
            if status.isDirectory():
                stack.append((p, f"{prefix}{name}/"))
            else:
                yield f"{prefix}{name}", status


def list_data_files(
    spark: SparkSession, path: str, suffix: str | None = None
) -> list[tuple[str, int]]:
    """Recursive (qualified path, size) inventory of the data files under
    ``path`` (see ``_walk``)."""
    fs, jpath = _fs_and_path(spark, path)
    return sorted(
        (status.getPath().toString(), int(status.getLen()))
        for rel, status in _walk(fs, jpath)
        if suffix is None or rel.endswith(suffix)
    )


def data_file_sizes(spark: SparkSession, path: str) -> dict[str, int]:
    """Size of each data file under ``path``, keyed by its path relative
    to ``path`` (see ``_walk``)."""
    fs, jpath = _fs_and_path(spark, path)
    return {rel: int(status.getLen()) for rel, status in _walk(fs, jpath)}


def import_files(
    spark: SparkSession, src: str, files: list[str], dst: str, overwrite: bool
) -> None:
    """Copy the data files ``files`` (paths relative to ``src``) into
    ``dst``, then ``src``'s ``_SUCCESS`` marker if it has one, so a reader
    that waits for the marker sees every file. Each file is one Hadoop
    ``FileUtil.copy``; a checksummed destination writes its own ``.crc``.

    ``overwrite`` clears ``dst``'s children (not ``dst`` itself: a mount
    point such as a ``viewfs`` link cannot be deleted) or makes ``dst``.
    Otherwise the files are added next to ``dst``'s own, and a data file
    whose name is already there raises ``FileExistsError`` before anything
    is copied."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    src_fs, src_root = _fs_and_path(spark, src)
    dst_fs, dst_root = _fs_and_path(spark, dst)
    if overwrite:
        if dst_fs.exists(dst_root):
            for status in dst_fs.listStatus(dst_root):
                dst_fs.delete(status.getPath(), True)
        else:
            dst_fs.mkdirs(dst_root)
    elif dst_fs.exists(dst_root):
        taken = sorted(set(files) & data_file_sizes(spark, dst).keys())
        if taken:
            raise FileExistsError(f"{dst} already holds {taken}")
    copy = jvm.org.apache.hadoop.fs.FileUtil.copy
    Path = jvm.org.apache.hadoop.fs.Path
    for rel in files:
        src_file, dst_file = Path(src_root, rel), Path(dst_root, rel)
        copy(src_fs, src_file, dst_fs, dst_file, False, False, conf)
    marker = Path(src_root, _SUCCESS)
    if src_fs.exists(marker):
        copy(src_fs, marker, dst_fs, Path(dst_root, _SUCCESS), False, True, conf)


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
