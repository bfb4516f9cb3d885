"""Filesystem abstraction for lake metadata + staging operations.

The table/engine code paths that touch files directly (snapshot JSON,
version hint, staged dead-letter adoption, data-file listing) must work
both on a local filesystem (this sandbox, unit tests) and on the DFS /
object store a 100-TB deployment actually uses. Everything funnels
through :class:`FileIO`:

- :class:`LocalFileIO` — ``os``/``shutil``; POSIX rename is atomic.
- :class:`HadoopFileIO` — the JVM gateway's
  ``org.apache.hadoop.fs.FileSystem`` (bundled with Spark, no extra
  jar): works for ``hdfs://``, ``s3a://``, ``gs://``, ``abfss://`` and
  ``file://`` alike. HDFS rename is atomic; S3A rename is copy+delete,
  so for object stores the single-writer commit guarantee degrades to
  create-exclusive on the version hint — same trade-off stock Iceberg
  HadoopCatalog documents.

``fileio_for(spark, path)`` picks by scheme: a bare path or ``file:``
URI gets LocalFileIO (no JVM round-trips in unit tests); anything with
a non-file scheme gets HadoopFileIO.

Only metadata-scale payloads travel through this interface (manifest
JSON, directory listings, staged-file moves); bulk data IO stays on
``spark.read/write`` which is already DFS-native.
"""

from __future__ import annotations

import os
import shutil
import uuid


class FileIO:
    """Minimal FS contract used by LakeTable / CDCEngine."""

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        """Raises :class:`FileNotFoundError` for an absent path (every
        backend normalizes its native not-found error to this, so
        callers can distinguish expiry/absence from IO failure with
        one read instead of an exists() probe plus a read)."""
        raise NotImplementedError

    def write_text_atomic(self, path: str, data: str, fail_if_exists: bool = False) -> None:
        """Write via temp file + rename. With ``fail_if_exists`` the
        write must NOT replace an existing file (optimistic-concurrency
        commit)."""
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        """Child names (not full paths); [] for a missing dir."""
        raise NotImplementedError

    def move(self, src: str, dst: str) -> None:
        """Move a file or directory tree; parent of ``dst`` is created."""
        raise NotImplementedError

    def rmtree(self, path: str) -> None:
        raise NotImplementedError

    def remove(self, path: str) -> None:
        """Delete a single file; no-op if absent."""
        raise NotImplementedError

    def mtime(self, path: str) -> float:
        """Modification time (epoch seconds)."""
        raise NotImplementedError

    def size(self, path: str) -> int:
        """File length in bytes."""
        raise NotImplementedError

    def tree_has_suffix(self, path: str, suffix: str) -> bool:
        """True if any file under ``path`` (recursive) ends in suffix."""
        raise NotImplementedError

    def tree_newest_mtime(self, path: str) -> float | None:
        """Newest file mtime under ``path`` (recursive); None when the
        tree holds no files. Used by vacuum's min-age guards: a tree
        containing any young file may be an in-flight write."""
        raise NotImplementedError

    def copy(self, src: str, dst: str) -> None:
        """Byte-exact copy of a single file; parent of ``dst`` is
        created. Metadata-scale use only (deep-clone file copies run
        through here one at a time on the driver; a 100-TB deep clone
        belongs to a distributed copy job, not this interface)."""
        raise NotImplementedError


class LocalFileIO(FileIO):
    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text_atomic(self, path: str, data: str, fail_if_exists: bool = False) -> None:
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        if fail_if_exists:
            # create-EXCLUSIVE, not check-then-rename: os.rename atomically
            # REPLACES an existing destination on POSIX, so two racing
            # writers could both pass an exists() check and the loser's
            # header would silently overwrite the winner's. link(2) fails
            # with EEXIST atomically (same kernel op Iceberg's
            # HadoopTableOperations relies on via rename-without-replace).
            try:
                os.link(tmp, path)
            except FileExistsError:
                raise FileExistsError(
                    f"{path} already exists (concurrent writer)"
                )
            finally:
                os.unlink(tmp)
        else:
            os.replace(tmp, path)

    def listdir(self, path: str) -> list[str]:
        if not os.path.isdir(path):
            return []
        return sorted(os.listdir(path))

    def move(self, src: str, dst: str) -> None:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.move(src, dst)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def remove(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def mtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def tree_has_suffix(self, path: str, suffix: str) -> bool:
        for _, _, files in os.walk(path):
            if any(f.endswith(suffix) for f in files):
                return True
        return False

    def tree_newest_mtime(self, path: str) -> float | None:
        newest = None
        for root, _, files in os.walk(path):
            for f in files:
                try:
                    m = os.path.getmtime(os.path.join(root, f))
                except FileNotFoundError:
                    continue  # racing writer renamed its temp file
                if newest is None or m > newest:
                    newest = m
        return newest

    def copy(self, src: str, dst: str) -> None:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(src, dst)


class HadoopFileIO(FileIO):
    """DFS-backed IO via ``org.apache.hadoop.fs.FileSystem`` on the
    driver's JVM gateway. One FileSystem handle per (scheme, authority),
    resolved from the active Hadoop configuration (so credentials /
    endpoints come from the normal Spark conf)."""

    def __init__(self, spark, root: str):
        self._jvm = spark.sparkContext._jvm
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()
        self._root = root
        self.__fs = None  # lazy: resolving hdfs:// contacts the namenode

    @property
    def _fs(self):
        if self.__fs is None:
            self.__fs = self._path(self._root).getFileSystem(self._conf)
        return self.__fs

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._path(path)))

    def isdir(self, path: str) -> bool:
        p = self._path(path)
        return bool(self._fs.exists(p) and self._fs.getFileStatus(p).isDirectory())

    def makedirs(self, path: str) -> None:
        self._fs.mkdirs(self._path(path))

    def read_text(self, path: str) -> str:
        try:
            stream = self._fs.open(self._path(path))
        except Exception as e:  # py4j wraps java.io.FileNotFoundException
            if "FileNotFoundException" in str(e):
                raise FileNotFoundError(path) from e
            raise
        try:
            util = self._jvm.org.apache.commons.io.IOUtils
            charset = self._jvm.java.nio.charset.StandardCharsets.UTF_8
            return util.toString(stream, charset)
        finally:
            stream.close()

    def write_text_atomic(self, path: str, data: str, fail_if_exists: bool = False) -> None:
        tmp = self._path(f"{path}.tmp-{uuid.uuid4().hex}")
        out = self._fs.create(tmp, True)
        try:
            out.write(bytearray(data.encode("utf-8")))
            out.hsync() if hasattr(out, "hsync") else None
        finally:
            out.close()
        dst = self._path(path)
        if fail_if_exists:
            if self._fs.exists(dst):
                self._fs.delete(tmp, False)
                raise FileExistsError(f"{path} already exists (concurrent writer)")
            if not self._fs.rename(tmp, dst):
                self._fs.delete(tmp, False)
                raise FileExistsError(f"{path}: rename lost the commit race")
        else:
            # HDFS rename won't replace; emulate os.replace
            if self._fs.exists(dst):
                self._fs.delete(dst, False)
            if not self._fs.rename(tmp, dst):
                self._fs.delete(tmp, False)
                raise OSError(f"rename to {path} failed")

    def listdir(self, path: str) -> list[str]:
        p = self._path(path)
        if not self._fs.exists(p):
            return []
        return sorted(st.getPath().getName() for st in self._fs.listStatus(p))

    def move(self, src: str, dst: str) -> None:
        dstp = self._path(dst)
        parent = dstp.getParent()
        if parent is not None:
            self._fs.mkdirs(parent)
        if not self._fs.rename(self._path(src), dstp):
            raise OSError(f"move {src} -> {dst} failed")

    def rmtree(self, path: str) -> None:
        p = self._path(path)
        if self._fs.exists(p):
            self._fs.delete(p, True)

    def remove(self, path: str) -> None:
        p = self._path(path)
        if self._fs.exists(p):
            self._fs.delete(p, False)

    def mtime(self, path: str) -> float:
        return self._fs.getFileStatus(self._path(path)).getModificationTime() / 1000.0

    def size(self, path: str) -> int:
        return int(self._fs.getFileStatus(self._path(path)).getLen())

    def tree_has_suffix(self, path: str, suffix: str) -> bool:
        p = self._path(path)
        if not self._fs.exists(p):
            return False
        it = self._fs.listFiles(p, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(suffix):
                return True
        return False

    def tree_newest_mtime(self, path: str) -> float | None:
        p = self._path(path)
        if not self._fs.exists(p):
            return None
        newest = None
        it = self._fs.listFiles(p, True)
        while it.hasNext():
            m = it.next().getModificationTime() / 1000.0
            if newest is None or m > newest:
                newest = m
        return newest

    def copy(self, src: str, dst: str) -> None:
        dstp = self._path(dst)
        parent = dstp.getParent()
        if parent is not None:
            self._fs.mkdirs(parent)
        # the source may live on a DIFFERENT filesystem than this IO's
        # root (deep clone promoting hdfs:// state to s3a://, say):
        # resolve the source FS from the source path, or Hadoop raises
        # "Wrong FS" on any cross-filesystem copy
        srcp = self._path(src)
        srcfs = srcp.getFileSystem(self._conf)
        util = self._jvm.org.apache.hadoop.fs.FileUtil
        if not util.copy(srcfs, srcp, self._fs, dstp, False, True, self._conf):
            raise OSError(f"copy {src} -> {dst} failed")


def _scheme(path: str) -> str | None:
    if "://" in path:
        return path.split("://", 1)[0]
    if path.startswith("file:"):
        return "file"
    return None


def write_parquet_local(tbl, directory: str) -> str | None:
    """Write the Arrow table ``tbl`` as one new snappy parquet file in
    ``directory`` from the driver and return its path — or None, writing
    nothing, when ``directory`` carries a URI scheme: pyarrow reaches
    only the local filesystem, so the caller must write through Spark.

    Write-to-temp + atomic rename keeps concurrent readers from seeing a
    partial file (the dot-prefixed temp name is hidden from Spark
    listings); a failed write or rename removes the temp file."""
    if _scheme(directory) is not None:
        return None
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}-driver.parquet"
    tmp = os.path.join(directory, f".{name}.tmp")
    path = os.path.join(directory, name)
    try:
        pq.write_table(tbl, tmp, compression="snappy", store_schema=False,
                       use_dictionary=_dictionary_columns(tbl))
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return path


def _dictionary_columns(tbl) -> list[str]:
    """Leaf columns to dictionary-encode, as Spark's parquet writer ends
    up encoding them: it falls back to plain encoding when a dictionary
    does not shrink the column, which near-unique columns (content,
    hashes, paths) never do; pyarrow would keep their dictionaries."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def leaves(name, t):
        if pa.types.is_struct(t):
            return [p for f in t for p in leaves(f"{name}.{f.name}", f.type)]
        if pa.types.is_list(t):
            return leaves(f"{name}.list.element", t.value_type)
        return [name]

    out = []
    for f in tbl.schema:
        if pa.types.is_nested(f.type):
            out += leaves(f.name, f.type)
        elif 2 * pc.count_distinct(tbl.column(f.name)).as_py() <= tbl.num_rows:
            out.append(f.name)
    return out


def fileio_for(spark, path: str) -> FileIO:
    """LocalFileIO for bare paths; HadoopFileIO for ANY URI scheme —
    including ``file:``, whose URIs would otherwise reach LocalFileIO's
    raw ``os.*`` calls unstripped and split-brain metadata (written to a
    literal ``./file:...`` tree) from data (written by Spark to the real
    local path)."""
    scheme = _scheme(path)
    if scheme is None:
        return LocalFileIO()
    return HadoopFileIO(spark, path)
