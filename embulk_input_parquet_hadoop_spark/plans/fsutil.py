"""Filesystem helpers: one URI-aware path layer for the whole pipeline.

Two families of filesystems, two commit primitives:

- **Rename-capable** (local, ``file:``, ``hdfs:``): the commit point is an
  atomic rename — write to a temp name, ``os.replace``/``fs.move`` to the
  final name. A reader never sees a partial object.
- **PUT-atomic object stores** (``s3:``, ``gs:``, and the test-only
  ``mock-s3:`` emulation): there is no rename, but a PUT only becomes
  visible when the upload *completes* (S3 multipart completion, GCS
  compose) — so the commit point is writing the FINAL key directly and
  letting the store's own all-or-nothing PUT provide atomicity. Partial
  uploads are never visible; retries overwrite the same deterministic key.

Callers never branch on scheme themselves: ``put_bytes``/``put_file``
publish an object atomically-at-visibility on EITHER family, and
``supports_atomic_rename`` tells the pipeline which protocol it got.

``mock-s3://bucket/abs/local/path`` maps to the local path
``/abs/local/path`` but is treated as an object store: the protocol layer
uses only PUT-style operations on it (no rename at the protocol level —
the mock's *internal* temp+replace emulates the store's own atomic PUT,
exactly as S3 internally materializes a multipart upload). The mapping is
embedded in the URI, so Spark tasks resolve it with no shared driver
state. Reference analogue: the reference operates over any Hadoop
``FileSystem`` via glob + config injection
(``ParquetHadoopInputPlugin.java:85-93``, ``ConfigurationFactory.java:59-84``).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

_LOCAL_SCHEMES = ("", "file")
MOCK_SCHEME = "mock-s3"
# schemes whose pyarrow filesystem has atomic rename (move) semantics
_RENAME_SCHEMES = ("", "file", "hdfs", "viewfs")


def _scheme(path: str) -> str:
    head, sep, _ = path.partition("://")
    return head if sep else ""


def is_local(path: str) -> bool:
    return _scheme(path) in _LOCAL_SCHEMES


def strip_file_scheme(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path


def supports_atomic_rename(path: str) -> bool:
    """True iff the path's filesystem commits via atomic rename; False
    means object-store semantics (commit = direct PUT of the final key)."""
    return _scheme(path) in _RENAME_SCHEMES


def mock_local_path(path: str) -> str:
    """``mock-s3://bucket/abs/path`` -> ``/abs/path`` (bucket is decorative:
    the key space IS an absolute local path, so workers resolve the URI
    with no side channel)."""
    rest = path[len(MOCK_SCHEME) + 3:]
    _bucket, _, key = rest.partition("/")
    return "/" + key


def get_fs(path: str):
    """(pyarrow FileSystem, fs-native path) for any supported URI."""
    from pyarrow import fs as pafs
    if _scheme(path) == MOCK_SCHEME:
        return pafs.LocalFileSystem(), mock_local_path(path)
    return pafs.FileSystem.from_uri(path)


def spark_path(path: str) -> str:
    """Path the Spark JVM can read for this URI. mock-s3 resolves to its
    local backing path; real remote URIs pass through unchanged (the JVM
    needs the matching Hadoop filesystem connector on its classpath, e.g.
    hadoop-aws for s3a://)."""
    return mock_local_path(path) if _scheme(path) == MOCK_SCHEME else path


def is_hidden(relpath: str) -> bool:
    """Any path component starting with '.' or '_' — the reference
    filters these everywhere (``HiddenFileFilter.INSTANCE``,
    ``ParquetHadoopInputPlugin.java:208,:230``): a ``_temporary``
    straggler or a dot-file must never be read as data. Checking every
    component also skips files *under* hidden directories. The single
    home of this rule — pipeline and the staging listers delegate."""
    return any(part and part[0] in "._" for part in relpath.split("/"))


def listdir(path: str) -> list[str]:
    """Base names of entries directly under ``path``; [] if absent."""
    if is_local(path):
        p = strip_file_scheme(path)
        return os.listdir(p) if os.path.isdir(p) else []
    from pyarrow import fs as pafs
    filesystem, root = get_fs(path)
    info = filesystem.get_file_info(root)
    if info.type != pafs.FileType.Directory:
        return []
    sel = pafs.FileSelector(root, recursive=False)
    return [f.base_name for f in filesystem.get_file_info(sel)]


def isdir(path: str) -> bool:
    """True iff ``path`` exists and is a directory (any scheme)."""
    if is_local(path):
        return os.path.isdir(strip_file_scheme(path))
    from pyarrow import fs as pafs
    filesystem, root = get_fs(path)
    return filesystem.get_file_info(root).type == pafs.FileType.Directory


def exists(path: str) -> bool:
    """True iff ``path`` exists (file or directory, any scheme)."""
    if is_local(path):
        return os.path.exists(strip_file_scheme(path))
    from pyarrow import fs as pafs
    filesystem, root = get_fs(path)
    return filesystem.get_file_info(root).type != pafs.FileType.NotFound


def has_parquet_files(dir_path: str) -> bool:
    return any(n.endswith(".parquet") for n in listdir(dir_path))


def read_json(path: str) -> dict:
    if is_local(path):
        with open(strip_file_scheme(path)) as fh:
            return json.load(fh)
    filesystem, root = get_fs(path)
    with filesystem.open_input_stream(root) as fh:
        return json.loads(fh.read().decode())


def read_bytes(path: str) -> bytes:
    """Whole-object read for any scheme."""
    if is_local(path):
        with open(strip_file_scheme(path), "rb") as fh:
            return fh.read()
    filesystem, root = get_fs(path)
    with filesystem.open_input_stream(root) as fh:
        return fh.read()


def file_size(path: str) -> int:
    """Object/file size in bytes for any scheme."""
    if is_local(path):
        return os.path.getsize(strip_file_scheme(path))
    filesystem, root = get_fs(path)
    return int(filesystem.get_file_info(root).size)


def file_sizes(paths: list[str]) -> list[int]:
    """Sizes in bytes of many files, 0 for one that does not exist: one
    ``os.stat`` per local path, one batched ``get_file_info`` call per
    remote filesystem (paths grouped by scheme and authority)."""
    from pyarrow import fs as pafs
    sizes = [0] * len(paths)
    remote: dict[str, list[int]] = {}
    for i, p in enumerate(paths):
        if is_local(p):
            try:
                sizes[i] = os.stat(strip_file_scheme(p)).st_size
            except OSError:
                pass
        else:
            scheme, _, rest = p.partition("://")
            remote.setdefault(f"{scheme}://{rest.split('/', 1)[0]}",
                              []).append(i)
    for prefix, idx in remote.items():
        filesystem, root = get_fs(paths[idx[0]])
        tail = paths[idx[0]][len(prefix):]
        if root.endswith(tail):
            # the fs-native path is a fixed prefix + the URI's path part
            base = root[:len(root) - len(tail)]
            native = [base + paths[i][len(prefix):] for i in idx]
        else:  # the scheme rewrites paths (percent-decoding): per path
            native = [get_fs(paths[i])[1] for i in idx]
        for i, info in zip(idx, filesystem.get_file_info(native)):
            if info.type == pafs.FileType.File:
                sizes[i] = int(info.size)
    return sizes


def mtime_ms(path: str) -> int:
    """Last-modified time in epoch milliseconds for any scheme —
    Delta's commit-timestamp fallback (the spec resolves
    ``timestampAsOf`` by log-file modification time when in-commit
    timestamps are absent)."""
    if is_local(path):
        return int(os.stat(strip_file_scheme(path)).st_mtime * 1000)
    filesystem, root = get_fs(path)
    mt = filesystem.get_file_info(root).mtime
    if mt is None:
        raise OSError(f"filesystem reports no mtime for {path}")
    return int(mt.timestamp() * 1000)


def read_bytes_range(path: str, offset: int, length: int) -> bytes:
    """Ranged read ([offset, offset+length)) for any scheme — object
    stores serve this as one GET with a Range header (pyarrow
    ``open_input_file`` random access), so callers can pull a blob or
    footer out of a large object without downloading it."""
    if is_local(path):
        with open(strip_file_scheme(path), "rb") as fh:
            fh.seek(offset)
            return fh.read(length)
    filesystem, root = get_fs(path)
    with filesystem.open_input_file(root) as fh:
        fh.seek(offset)
        return fh.read(length)


def parquet_file(path: str):
    """``pyarrow.parquet.ParquetFile`` for any scheme."""
    import pyarrow.parquet as pq
    if is_local(path):
        return pq.ParquetFile(strip_file_scheme(path))
    filesystem, root = get_fs(path)
    return pq.ParquetFile(filesystem.open_input_file(root))


def read_parquet(path: str, columns: list[str] | None = None,
                 filters=None):
    """``pyarrow.parquet.read_table`` for any scheme."""
    import pyarrow.parquet as pq
    if is_local(path):
        return pq.read_table(strip_file_scheme(path), columns=columns,
                             filters=filters)
    filesystem, root = get_fs(path)
    return pq.read_table(root, columns=columns, filters=filters,
                         filesystem=filesystem)


def makedirs_any(path: str) -> None:
    """Ensure the directory exists. Object stores have no directories —
    a no-op there except the mock, whose local backing tree needs one."""
    if is_local(path):
        os.makedirs(strip_file_scheme(path), exist_ok=True)
    elif _scheme(path) == MOCK_SCHEME:
        os.makedirs(mock_local_path(path), exist_ok=True)
    else:
        filesystem, root = get_fs(path)
        filesystem.create_dir(root, recursive=True)


def rmtree_any(path: str) -> None:
    """Recursive delete, missing-ok — the retry-cleanup primitive
    (``shutil.rmtree`` locally, prefix delete on object stores)."""
    if is_local(path):
        shutil.rmtree(strip_file_scheme(path), ignore_errors=True)
        return
    if _scheme(path) == MOCK_SCHEME:
        shutil.rmtree(mock_local_path(path), ignore_errors=True)
        return
    from pyarrow import fs as pafs
    filesystem, root = get_fs(path)
    if filesystem.get_file_info(root).type != pafs.FileType.NotFound:
        filesystem.delete_dir(root)


def delete_quiet(path: str) -> None:
    """Delete one object/file, missing-ok (failed-attempt rollback)."""
    if is_local(path):
        try:
            os.remove(strip_file_scheme(path))
        except OSError:
            pass
        return
    if _scheme(path) == MOCK_SCHEME:
        try:
            os.remove(mock_local_path(path))
        except OSError:
            pass
        return
    from pyarrow import fs as pafs
    filesystem, root = get_fs(path)
    if filesystem.get_file_info(root).type == pafs.FileType.File:
        filesystem.delete_file(root)


def _put_stream(dest: str, write_fn) -> None:
    """Atomic-at-visibility publish to ``dest`` on a NON-local filesystem.

    Object stores: write the final key directly — visibility happens at
    successful close (the store's atomic PUT). The mock emulates that
    atomicity with an internal temp+replace (store-internal, not protocol
    rename). Rename-capable remote filesystems (hdfs): temp key + move.
    """
    if _scheme(dest) == MOCK_SCHEME:
        local = mock_local_path(dest)
        os.makedirs(os.path.dirname(local), exist_ok=True)
        fd, tmp = tempfile.mkstemp(prefix=".put.", dir=os.path.dirname(local))
        try:
            with os.fdopen(fd, "wb") as fh:
                write_fn(fh)
            os.replace(tmp, local)  # the mock store's internal PUT commit
        except BaseException:
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise
        return
    filesystem, root = get_fs(dest)
    if supports_atomic_rename(dest):
        parent = root.rsplit("/", 1)[0]
        filesystem.create_dir(parent, recursive=True)
        tmp = f"{parent}/.{root.rsplit('/', 1)[1]}.{uuid.uuid4().hex}.tmp"
        try:
            with filesystem.open_output_stream(tmp) as fh:
                write_fn(fh)
            filesystem.move(tmp, root)
        except BaseException:
            try:
                filesystem.delete_file(tmp)
            except OSError:
                pass
            raise
        return
    with filesystem.open_output_stream(root) as fh:
        write_fn(fh)


def put_bytes(dest: str, data: bytes) -> None:
    """Publish ``data`` at ``dest`` atomically-at-visibility (any scheme).
    Local paths use temp + ``os.replace``."""
    if is_local(dest):
        p = strip_file_scheme(dest)
        d = os.path.dirname(p)
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(prefix=".put.", dir=d)
        try:
            with os.fdopen(fd, "wb") as fh:
                fh.write(data)
            os.replace(tmp, p)
        except BaseException:
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise
        return
    _put_stream(dest, lambda fh: fh.write(data))


def put_file(dest: str, local_src: str) -> None:
    """Publish the local file ``local_src`` at ``dest``
    atomically-at-visibility — the task-side chunk-commit primitive for
    non-local out_dirs (the local fast path keeps in-place tmp+rename and
    never spools)."""
    def _copy(fh):
        with open(local_src, "rb") as src:
            shutil.copyfileobj(src, fh, length=8 << 20)

    if is_local(dest):
        p = strip_file_scheme(dest)
        d = os.path.dirname(p)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".put.{uuid.uuid4().hex}.tmp")
        try:
            shutil.copyfile(local_src, tmp)
            os.replace(tmp, p)
        except BaseException:
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise
        return
    _put_stream(dest, _copy)


def write_json_atomic(dir_path: str, name: str, obj: dict) -> None:
    """Write ``{dir_path}/{name}`` atomically-at-visibility — the wave
    commit point. Rename-capable filesystems commit via temp + rename;
    object stores commit via direct PUT of the final key (all-or-nothing
    at upload completion), per SCALE.md's commit-protocol design."""
    put_bytes(f"{dir_path}/{name}", json.dumps(obj).encode())
