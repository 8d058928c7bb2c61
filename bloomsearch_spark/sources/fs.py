"""Filesystem abstraction — the reference's pluggable DataStore/MetaStore
storage contract (data_store.go:12-22, meta_store.go:8-22) re-expressed
over ``pyarrow.fs``.

Every byte the engine itself reads or writes (block parquet files, the
versioned manifest dirs, ``meta.json``, the ``CURRENT`` pointer, vacuum
deletes) goes through this module, keyed by the index root's URI scheme:

- plain paths / ``file://`` URIs  -> ``pyarrow.fs.LocalFileSystem``
- ``s3://`` / ``gs://`` / ``hdfs://`` -> whatever
  ``pyarrow.fs.FileSystem.from_uri`` resolves (S3FileSystem needs
  credentials in the environment, HDFS needs libhdfs — standard pyarrow
  deployment requirements, nothing engine-specific)
- any scheme registered via :func:`register_scheme` — used by tests to run
  the whole write/commit path against an in-memory mock filesystem, and
  available to users for custom stores (the DataStore contract's point:
  the engine never assumes POSIX).

Spark's own scans (manifest parquet, block data, staging) keep receiving
the caller's URI untouched — Spark has its own Hadoop-FS resolution and
understands the same schemes.

Atomicity contract (mirrors SURVEY.md §3.4):

- on a **local** filesystem, single-file writes are written to a temp name
  and ``os.replace``d — fully atomic, concurrent writers safe;
- on an **object store**, a single-stream write IS the atomic unit (a PUT
  is all-or-nothing); the ``CURRENT`` pointer swap degrades to documented
  last-writer-wins, which is safe here because version directories are
  immutable once referenced — a lost CURRENT race re-points to another
  fully-committed version, never a partial one (the same guarantee
  Iceberg's catalog swap provides; use a real catalog/conditional-put for
  serialized commits).
"""

from __future__ import annotations

import contextlib
import os
import posixpath
import re
import uuid

from pyarrow import fs as pafs

# user-registered scheme -> FileSystem (tests register an in-memory mock;
# deployments may register pre-configured S3/GCS instances)
_SCHEMES: dict[str, pafs.FileSystem] = {}


def register_scheme(scheme: str, fs: pafs.FileSystem) -> None:
    """Route ``<scheme>://...`` URIs to a caller-supplied FileSystem.

    The registry is per-Python-process: a scheme used inside Spark tasks
    (block writes, vacuum deletes) must also be registered in the executor
    interpreters (e.g. a small module imported via ``spark.submit.pyFiles``
    that registers on import).  Standard schemes (file/s3/gs/hdfs) resolve
    everywhere without registration via ``FileSystem.from_uri``."""
    _SCHEMES[scheme] = fs


def unregister_scheme(scheme: str) -> None:
    _SCHEMES.pop(scheme, None)


# scheme -> callable(uri) returning a context manager that holds an
# exclusive commit lock for that uri while entered.  Deployments back this
# with whatever their store offers: a DynamoDB/ZooKeeper lock, an
# S3 conditional-PUT retry loop, a catalog transaction — the pluggable
# serialized-commit hook the reference's atomic MetaStore.Update implies
# (meta_store.go:21).
_COMMIT_LOCKS: dict[str, object] = {}


def register_commit_lock(scheme: str, factory) -> None:
    """Serialize manifest commits for ``<scheme>://`` roots through
    ``factory(uri)`` (must return a context manager).  Without a registered
    lock, non-local schemes fall back to the documented last-writer-wins
    CURRENT swap."""
    _COMMIT_LOCKS[scheme] = factory


def unregister_commit_lock(scheme: str) -> None:
    _COMMIT_LOCKS.pop(scheme, None)


class CommitLockTimeout(RuntimeError):
    """Could not acquire the commit lease within ``timeout`` seconds."""


def register_cas_commit_lock(
    scheme: str,
    get,
    put_if,
    *,
    lease_ttl: float = 120.0,
    poll: float = 0.05,
    timeout: float = 600.0,
) -> None:
    """Commit lock for ``scheme`` built from the two conditional-put
    primitives every real object store offers — the reference adapter for
    the ``register_commit_lock`` hook (S3 ``If-None-Match``/``If-Match``
    conditional writes, GCS ``ifGenerationMatch`` preconditions, ABS
    etags):

    - ``get(path) -> (bytes | None, etag)`` — current object + an opaque
      version tag (``(None, None)`` if absent);
    - ``put_if(path, data, etag) -> bool`` — atomic write iff the object
      still carries ``etag`` (``etag=None`` = create-only-if-absent);
      False on precondition failure.

    The lock is a LEASE object at ``<path>.lock`` holding
    ``{"owner", "expires"}``: acquire = conditional-create, or
    conditional-replace of an expired/released lease (crash of a holder
    never wedges the root — the lease expires); release = conditional
    write of a released lease (best-effort: expiry is the backstop).
    ``lease_ttl`` must comfortably exceed the commit critical section,
    which is O(meta.json) by design — the default 120 s is ~3 orders of
    magnitude above a typical finalize.  Clock skew between committers
    eats into the margin; keep it <<= lease_ttl."""
    import json as _json
    import time as _time

    @contextlib.contextmanager
    def lease(uri: str):
        lock = uri + ".lock"
        me = uuid.uuid4().hex
        deadline = _time.monotonic() + timeout
        while True:
            data, etag = get(lock)
            claim = _json.dumps(
                {"owner": me, "expires": _time.time() + lease_ttl}
            ).encode()
            if data is None:
                if put_if(lock, claim, None):
                    break
            else:
                try:
                    cur = _json.loads(data)
                    free = not cur.get("owner") or cur.get("expires", 0) < _time.time()
                except (ValueError, AttributeError):
                    # undecodable JSON or text, or not an object: an
                    # unreadable lease names no holder, so it never expires
                    # — treat it as released rather than wedge the root
                    free = True
                if free and put_if(lock, claim, etag):  # released/expired: take over
                    break
            if _time.monotonic() >= deadline:
                raise CommitLockTimeout(
                    f"commit lease at {lock} not acquired within {timeout}s"
                )
            _time.sleep(poll)
        try:
            yield
        finally:
            data, etag = get(lock)
            if data is not None:
                try:
                    if _json.loads(data).get("owner") == me:
                        put_if(
                            lock,
                            _json.dumps({"owner": "", "expires": 0}).encode(),
                            etag,
                        )
                except (ValueError, AttributeError):
                    pass  # not our lease any more; its holder releases it

    register_commit_lock(scheme, lease)


def scheme_of(uri: str) -> str | None:
    """RFC-3986 scheme of ``uri``, or None for a plain path."""
    m = _SCHEME_RE.match(uri.split("/", 1)[0])
    return m.group(1) if m else None


@contextlib.contextmanager
def commit_lock(uri: str):
    """Exclusive lock bracketing a manifest commit's read-check-swap
    critical section.

    - registered scheme lock -> the user's primitive (strict);
    - local filesystem -> ``flock`` on ``<path>.lock``: kernel-released on
      process death (no stale-lock risk), exclusive across processes AND
      across threads (each entry opens its own file description);
    - otherwise (object store, no registered lock) -> **no-op**: the
      commit degrades to the documented last-writer-wins swap; the
      conflict CHECK in ``manifest.publish_commit`` still narrows the race
      window but cannot close it — register a lock for strict
      serialization."""
    scheme = scheme_of(uri)
    if scheme in _COMMIT_LOCKS:
        with _COMMIT_LOCKS[scheme](uri):
            yield
        return
    fs, p = resolve(uri)
    if _is_local(fs):
        import fcntl

        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        fd = os.open(p + ".lock", os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)
        return
    yield


def join(base: str, *parts: str) -> str:
    """Path join that is correct for both plain paths and URIs (always
    ``/`` — manifest ``data_path`` values are scheme-relative POSIX)."""
    return posixpath.join(base, *parts)


_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*):")


def resolve(path_or_uri: str) -> tuple[pafs.FileSystem, str]:
    """URI/path -> (FileSystem, filesystem-local path).

    Plain paths and ``file:`` URIs (both ``file:///x`` and Spark's
    ``file:/x`` spelling) resolve to the local filesystem; registered
    schemes take precedence over ``pyarrow.fs.FileSystem.from_uri``.

    Only an RFC-3986 scheme (letter-led, before the first ``/``) is
    treated as one, and an *unregistered* scheme is routed to pyarrow only
    when followed by ``//`` — so a legal relative local path containing a
    colon (``run:3/data``) stays local instead of failing inside
    ``FileSystem.from_uri`` (ADVICE r03).  A SINGLE-slash scheme spelling
    (``hdfs:/nn/path`` — Hadoop accepts it, pyarrow does not) is rejected
    loudly: silently treating it as a local path would scatter index bytes
    across executor-local disks with no error."""
    s = path_or_uri
    m = _SCHEME_RE.match(s.split("/", 1)[0])
    if m:
        scheme = m.group(1)
        if scheme in _SCHEMES:
            rest = s.split(":", 1)[1]
            return _SCHEMES[scheme], rest.lstrip("/")
        if scheme == "file":
            p = s[len("file:") :]
            while p.startswith("//"):
                p = p[1:]
            return pafs.LocalFileSystem(), p
        rest = s[len(scheme) + 1 :]
        if rest.startswith("//"):
            fs, p = pafs.FileSystem.from_uri(s)
            return fs, p
        if rest.startswith("/"):
            raise ValueError(
                f"ambiguous single-slash URI {s!r}: spell it "
                f"'{scheme}://...' or register_scheme({scheme!r}, fs)"
            )
    return pafs.LocalFileSystem(), s


def _is_local(fs: pafs.FileSystem) -> bool:
    return isinstance(fs, pafs.LocalFileSystem)


def exists(uri: str) -> bool:
    fs, p = resolve(uri)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def mkdirs(uri: str) -> None:
    fs, p = resolve(uri)
    fs.create_dir(p, recursive=True)


def read_bytes(uri: str) -> bytes:
    fs, p = resolve(uri)
    with fs.open_input_stream(p) as f:
        return f.read()


def write_bytes_atomic(uri: str, data: bytes) -> None:
    """Single-file write with the strongest atomicity the scheme offers:
    temp + fsync + rename on local; one-shot stream (atomic PUT) elsewhere.
    Concurrent readers of an existing path never observe a partial file."""
    fs, p = resolve(uri)
    if _is_local(fs):
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        tmp = f"{p}.tmp.{os.getpid()}.{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, p)
    else:
        with fs.open_output_stream(p) as f:
            f.write(data)


def write_parquet_atomic(dir_uri: str, table, filename: str, **write_kwargs) -> int:
    """Write one parquet file into ``dir_uri`` (created if needed) such
    that readers never see a partial file; returns its byte size.  Local:
    temp-in-dir + ``os.replace``; object store: direct single-object write
    (atomic PUT).  Idempotent under task retry — the last completed attempt
    wins with identical content (build ids are deterministic)."""
    import pyarrow.parquet as pq

    fs, d = resolve(dir_uri)
    final = posixpath.join(d, filename)
    if _is_local(fs):
        os.makedirs(d, exist_ok=True)
        tmp = posixpath.join(d, f".tmp-{uuid.uuid4().hex}.parquet")
        pq.write_table(table, tmp, **write_kwargs)
        os.replace(tmp, final)
        return os.path.getsize(final)
    fs.create_dir(d, recursive=True)
    pq.write_table(table, final, filesystem=fs, **write_kwargs)
    return fs.get_file_info(final).size


def read_parquet_dir(dir_uri: str, filter=None, columns=None):
    """Concatenate every ``*.parquet`` file in a directory (skipping
    temp/hidden names) into one Arrow table, each read by
    :func:`read_parquet_file`.

    ``filter``: optional pyarrow dataset Expression, pushed into the
    parquet read (row-group statistics pruning + row filtering) — the
    caller owns its soundness.  ``columns``: optional projection pushed
    into the read (column-chunk I/O pruning); filter columns need not be
    in it."""
    import pyarrow as pa

    fs, d = resolve(dir_uri)
    infos = fs.get_file_info(pafs.FileSelector(d, recursive=False))
    names = sorted(
        i.base_name
        for i in infos
        if i.type == pafs.FileType.File
        and i.base_name.endswith(".parquet")
        and not i.base_name.startswith(".")
    )
    return pa.concat_tables(
        [read_parquet_file(join(dir_uri, n), filter, columns) for n in names],
        promote_options="default",
    )


def read_parquet_file(uri: str, filter=None, columns=None):
    """One parquet file as an Arrow table (``filter``/``columns`` as in
    :func:`read_parquet_dir`).  Page CRCs are always verified (files
    without stored checksums verify vacuously): block consolidation and
    rewrites must never carry corrupt bytes into a new block."""
    import pyarrow.parquet as pq

    fs, p = resolve(uri)
    kw = {}
    if filter is not None:
        kw["filters"] = filter
    if columns is not None:
        kw["columns"] = list(columns)
    return pq.read_table(p, filesystem=fs, page_checksum_verification=True, **kw)


def parquet_dir_rows(dir_uri: str) -> int:
    """Total row count of a parquet directory from FOOTERS only — no data
    read, no Spark job; cost is one listing + one footer read per part
    file (bounded by part-file count, not row count)."""
    import pyarrow.parquet as pq

    fs, d = resolve(dir_uri)
    total = 0
    for i in fs.get_file_info(pafs.FileSelector(d, recursive=False)):
        if (
            i.type == pafs.FileType.File
            and i.base_name.endswith(".parquet")
            and not i.base_name.startswith(".")
        ):
            total += pq.ParquetFile(i.path, filesystem=fs).metadata.num_rows
    return total


def driver_rows(dir_uri: str) -> int | None:
    """:func:`parquet_dir_rows`, or None when the driver cannot read
    ``dir_uri`` — no pyarrow filesystem for its URI, or the store failed
    or refused the driver (an ``OSError``, e.g. credentials only in
    Spark's Hadoop conf) — so the caller falls back to a Spark job.  Any
    other error (a corrupt footer, a bug) raises."""
    try:
        resolve(dir_uri)
    except (ValueError, NotImplementedError):
        return None
    try:
        return parquet_dir_rows(dir_uri)
    except OSError:
        return None


def list_parquet_files(dir_uri: str) -> list[str]:
    """URIs (``dir_uri``-joined, so they stay resolvable in any process)
    of the ``*.parquet`` files directly under ``dir_uri``; [] if missing."""
    fs, d = resolve(dir_uri)
    if fs.get_file_info(d).type == pafs.FileType.NotFound:
        return []
    infos = fs.get_file_info(pafs.FileSelector(d, recursive=False))
    return sorted(
        join(dir_uri, i.base_name)
        for i in infos
        if i.type == pafs.FileType.File
        and i.base_name.endswith(".parquet")
        and not i.base_name.startswith(".")
    )


def list_subdirs(uri: str) -> list[str]:
    """Immediate child directory NAMES of ``uri`` ([] if it doesn't exist)."""
    fs, p = resolve(uri)
    if fs.get_file_info(p).type == pafs.FileType.NotFound:
        return []
    infos = fs.get_file_info(pafs.FileSelector(p, recursive=False))
    return sorted(
        i.base_name for i in infos if i.type == pafs.FileType.Directory
    )


def newest_mtime(uri: str) -> float | None:
    """Newest modification time (unix seconds) of any entry under ``uri``
    (recursive), or of ``uri`` itself if it has no entries; None if it does
    not exist.  Used by vacuum_manifest's staging TTL — an actively-written
    staging tree keeps a recent mtime, a crashed build's goes stale."""
    fs, p = resolve(uri)
    info = fs.get_file_info(p)
    if info.type == pafs.FileType.NotFound:
        return None
    newest = info.mtime.timestamp() if info.mtime is not None else None
    if info.type == pafs.FileType.Directory:
        for i in fs.get_file_info(pafs.FileSelector(p, recursive=True)):
            if i.mtime is not None:
                t = i.mtime.timestamp()
                if newest is None or t > newest:
                    newest = t
    return newest


def delete_dir(uri: str) -> None:
    fs, p = resolve(uri)
    try:
        fs.delete_dir(p)
    except FileNotFoundError:
        pass


def delete_dir_if_empty(uri: str) -> bool:
    """Delete ``uri`` only if it is an existing, fully-empty directory."""
    fs, p = resolve(uri)
    if fs.get_file_info(p).type != pafs.FileType.Directory:
        return False
    if fs.get_file_info(pafs.FileSelector(p, recursive=False)):
        return False
    fs.delete_dir(p)
    return True
