"""Storage backend abstraction: one filesystem layer for every lifecycle
operator, so a measurement root may be a local directory OR an object-store
prefix (``s3://``/``s3a://bucket/prefix``, or any registered scheme).

Reference parity: the reference's storage root is an interface with
local/S3/MinIO/Azure implementations
(/root/reference/internal/storage/backend.go:16-60, s3.go, azure.go); every
deployment of size runs on object storage. Spark itself reads/writes any
Hadoop-supported URI — what needs the abstraction is the ENGINE's metadata
plane: catalog listing, manifest IO, compaction file swaps, retention
deletes, tiering moves. Those run here through :mod:`pyarrow.fs`, which has
the same local/S3/GCS/Azure spread.

Split of responsibilities (how arc-on-Spark runs against S3 in production):

- data plane — Spark jobs read/write ``s3a://...`` URLs natively
  (:meth:`StorageBackend.spark_url` maps a logical root to the URL Spark
  understands);
- metadata plane — listings, parquet-footer probes, JSON manifests,
  file swaps/deletes run through the backend's ``pyarrow.fs.FileSystem``
  (no Spark job, no driver-side data read).

Tests exercise the non-local path by registering a scheme (``mock://``)
backed by a :class:`pyarrow.fs.SubTreeFileSystem` — every operator call
then flows through the same non-``os.path`` code a real S3 root uses,
with Spark data access translated to the subtree's local files.

Object-store semantics honored:

- no empty directories: :meth:`isdir`/listings treat a non-empty prefix
  as a directory; :meth:`mkdirs` is a no-op where directories aren't real;
- mtime may be missing on some backends: :meth:`mtime` returns 0.0 then
  (callers treat unknown age as "old enough", matching the reference's
  conservative compaction-age check on stores without LastModified).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import posixpath

import pyarrow.fs as pafs

__all__ = [
    "StorageBackend",
    "backend_for",
    "register_scheme",
    "unregister_scheme",
]

# shared mmap-enabled LocalFileSystem (constructed once, lazily)
_MMAP_LOCAL_FS: pafs.LocalFileSystem | None = None


def _split_scheme(path: str) -> tuple[str | None, str]:
    """('s3', 'bucket/key') for 's3://bucket/key'; (None, path) otherwise."""
    if "://" in path:
        scheme, rest = path.split("://", 1)
        return scheme, rest
    if path.startswith("file:"):
        # Spark emits both file:///p and file:/p — either way an absolute
        # local path follows the prefix
        rest = path[len("file:"):]
        return "file", "/" + rest.lstrip("/")
    return None, path


class StorageBackend:
    """A filesystem + URL-translation pair for one storage scheme.

    ``path`` arguments to every method are LOGICAL paths — the same strings
    the rest of the engine passes around (``mock://bucket/db/meas/year=…``
    or plain ``/tmp/root/db/meas``). :meth:`fs_path` strips the scheme for
    the underlying ``pyarrow.fs`` calls; :meth:`spark_url` produces the URL
    a Spark job should use for the same bytes.
    """

    def __init__(
        self,
        fs: pafs.FileSystem,
        scheme: str | None = None,
        spark_prefix: str | None = None,
    ):
        """``spark_prefix``: what replaces ``scheme://`` to form the URL a
        Spark job reads the same bytes from — ``"s3a://"`` for S3 roots, or
        ``"file:/<subtree-dir>/"`` for a test subtree backend. ``None``
        means logical paths already ARE Spark-readable (local)."""
        self.fs = fs
        self.scheme = scheme
        self.spark_prefix = spark_prefix

    @property
    def fs_read(self) -> pafs.FileSystem:
        """Filesystem tuned for BULK READS of committed (immutable) files.
        Local backends return a memory-mapping LocalFileSystem — parquet
        scans skip the read()-into-fresh-pages copy (~20% off a 100k-row
        serving scan); POSIX keeps mapped pages valid after unlink, so a
        compaction deleting a committed file mid-scan stays safe. Remote
        stores return the normal fs.

        ``ARC_SPARK_NO_MMAP=1`` opts out for local-LOOKING mounts that
        don't honor those semantics (NFS can SIGBUS a reader whose file
        was unlinked mid-scan; some FUSE filesystems reject mmap) — the
        buffered read path is then used everywhere."""
        if (isinstance(self.fs, pafs.LocalFileSystem)
                and os.environ.get("ARC_SPARK_NO_MMAP", "") != "1"):
            global _MMAP_LOCAL_FS
            if _MMAP_LOCAL_FS is None:
                _MMAP_LOCAL_FS = pafs.LocalFileSystem(use_mmap=True)
            return _MMAP_LOCAL_FS
        return self.fs

    # -- path algebra (pure string ops, no IO) ------------------------------
    def fs_path(self, path: str) -> str:
        scheme, rest = _split_scheme(path)
        return rest

    def _logical(self, fs_path: str) -> str:
        return f"{self.scheme}://{fs_path}" if self.scheme else fs_path

    def join(self, path: str, *parts: str) -> str:
        return posixpath.join(path, *parts)

    def relpath(self, path: str, start: str) -> str:
        return posixpath.relpath(self.fs_path(path), self.fs_path(start))

    def basename(self, path: str) -> str:
        return posixpath.basename(path.rstrip("/"))

    def dirname(self, path: str) -> str:
        scheme, rest = _split_scheme(path)
        d = posixpath.dirname(rest)
        return f"{scheme}://{d}" if scheme else d

    def spark_url(self, path: str) -> str:
        """The URL a Spark read/write should use for this logical path."""
        if self.spark_prefix is None:
            return path
        return self.spark_prefix + self.fs_path(path)

    def from_spark_url(self, url: str) -> str:
        """Reverse of :meth:`spark_url` — maps a path Spark reports (e.g.
        ``input_file_name()``) back to the logical path. Handles the
        ``file:``-prefix forms Spark emits for local files."""
        p = url.removeprefix("file://").removeprefix("file:")
        if self.spark_prefix is None:
            return p if self.scheme is None else url
        prefix = self.spark_prefix.removeprefix("file://").removeprefix("file:")
        if p.startswith(prefix):
            return self._logical(p[len(prefix):].lstrip("/"))
        return url

    # -- metadata ----------------------------------------------------------
    def _info(self, path: str) -> pafs.FileInfo:
        return self.fs.get_file_info(self.fs_path(path))

    def exists(self, path: str) -> bool:
        return self._info(path).type != pafs.FileType.NotFound

    def isdir(self, path: str) -> bool:
        return self._info(path).type == pafs.FileType.Directory

    def isfile(self, path: str) -> bool:
        return self._info(path).type == pafs.FileType.File

    def size(self, path: str) -> int:
        """File size in bytes (0 when unknown)."""
        return self._info(path).size or 0

    def mtime(self, path: str) -> float:
        """POSIX mtime; 0.0 when the backend carries no timestamp (callers
        treat that as arbitrarily old — conservative for age gates)."""
        m = self._info(path).mtime
        if m is None:
            return 0.0
        if isinstance(m, dt.datetime):
            return m.timestamp()
        return float(m)

    # -- listing -----------------------------------------------------------
    def listdir(self, path: str) -> list[pafs.FileInfo]:
        try:
            return self.fs.get_file_info(
                pafs.FileSelector(self.fs_path(path), recursive=False)
            )
        except (FileNotFoundError, OSError):
            return []

    def list_dirs(self, path: str) -> list[str]:
        """Names (not paths) of immediate subdirectories, sorted."""
        return sorted(
            info.base_name
            for info in self.listdir(path)
            if info.type == pafs.FileType.Directory
            and not info.base_name.startswith(".")
        )

    def list_files(self, path: str, suffix: str | None = None) -> list[str]:
        """Logical paths of immediate files, sorted."""
        return sorted(
            self._logical(info.path)
            for info in self.listdir(path)
            if info.type == pafs.FileType.File
            and (suffix is None or info.path.endswith(suffix))
        )

    def find_files(self, path: str, suffix: str | None = None) -> list[str]:
        """Recursive file listing (logical paths), sorted. One listing call —
        on object stores this is a single paginated LIST, not a crawl."""
        try:
            infos = self.fs.get_file_info(
                pafs.FileSelector(self.fs_path(path), recursive=True)
            )
        except (FileNotFoundError, OSError):
            return []
        return sorted(
            self._logical(i.path)
            for i in infos
            if i.type == pafs.FileType.File
            and (suffix is None or i.path.endswith(suffix))
        )

    def find_dirs(self, path: str, marker: str) -> list[str]:
        """Recursive listing of directories whose basename contains
        ``marker`` (logical paths, sorted). Implicit object-store
        directories (prefixes that exist only as file ancestry) count."""
        base = self.fs_path(path).rstrip("/")
        try:
            infos = self.fs.get_file_info(
                pafs.FileSelector(base, recursive=True)
            )
        except (FileNotFoundError, OSError):
            return []
        dirs: set[str] = set()
        for i in infos:
            p = i.path
            if i.type == pafs.FileType.Directory:
                dirs.add(p)
                p = posixpath.dirname(p)
            while len(p) > len(base):
                dirs.add(p)
                p = posixpath.dirname(p)
        return sorted(
            self._logical(d) for d in dirs if marker in posixpath.basename(d)
        )

    def partition_dirs(self, path: str, segments: list[str]) -> list[str]:
        """Hive partition dirs at exactly ``len(segments)`` depth whose
        segment names start with the given prefixes (e.g. ``["year=",
        "month=", "day="]``) — the glob-replacement used by compaction,
        retention, and tiering. Derived from ONE recursive listing so the
        object-store cost is a single LIST per measurement, not one call
        per directory level."""
        base = self.fs_path(path).rstrip("/")
        if not base:
            return []
        try:
            infos = self.fs.get_file_info(
                pafs.FileSelector(base, recursive=True)
            )
        except (FileNotFoundError, OSError):
            return []
        dirs: set[str] = set()
        # directories may be implicit on object stores — derive them from
        # every listed path's ancestry instead of trusting Directory infos
        for i in infos:
            rel = i.path[len(base):].lstrip("/")
            segs = rel.split("/")
            upto = len(segs) if i.type == pafs.FileType.Directory else len(segs) - 1
            for d in range(1, upto + 1):
                dirs.add("/".join(segs[:d]))
        out = []
        for rel in dirs:
            segs = rel.split("/")
            if len(segs) != len(segments):
                continue
            if all(s.startswith(p) for s, p in zip(segs, segments)):
                out.append(self._logical(posixpath.join(base, rel)))
        return sorted(out)

    # -- bytes -------------------------------------------------------------
    def read_bytes(self, path: str) -> bytes:
        with self.fs.open_input_stream(self.fs_path(path)) as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        with self.fs.open_output_stream(self.fs_path(path)) as f:
            f.write(data)

    def read_json(self, path: str) -> dict:
        return json.loads(self.read_bytes(path).decode("utf-8"))

    def read_range(self, path: str, offset: int, length: int) -> bytes:
        """Random-access slice read (bulk-LP staged payloads)."""
        with self.fs.open_input_file(self.fs_path(path)) as f:
            f.seek(offset)
            return f.read(length)

    def write_json(self, path: str, obj: dict) -> None:
        self.write_bytes(path, json.dumps(obj).encode("utf-8"))

    # -- mutation ----------------------------------------------------------
    def mkdirs(self, path: str) -> None:
        self.fs.create_dir(self.fs_path(path), recursive=True)

    def remove_file(self, path: str) -> None:
        self.fs.delete_file(self.fs_path(path))

    def remove_file_if_exists(self, path: str) -> None:
        if self.isfile(path):
            self.remove_file(path)

    def remove_data_files(self, files: list[str], top: str) -> None:
        """Delete exactly ``files`` and their Hadoop ``.name.crc``
        sidecars (a stale crc next to a rewritten file fails reads with
        ChecksumException), then every directory below ``top`` that the
        deletes left holding no file; ``top`` itself stays. Unlike
        ``remove_tree``, a file another writer put there meanwhile — a
        flush committing into a day being moved — survives with its
        directories. Only :func:`arc_spark.snapshots.retire` calls this."""
        top = top.rstrip("/")
        dirs = set()
        for f in files:
            self.remove_file_if_exists(f)
            d = self.dirname(f)
            self.remove_file_if_exists(
                self.join(d, "." + self.basename(f) + ".crc"))
            while d.startswith(top + "/"):
                dirs.add(d)
                d = self.dirname(d)
        kept: list[str] = []
        for d in sorted(dirs, key=len, reverse=True):
            # a directory above one that still holds files is not empty
            if any(k.startswith(d + "/") for k in kept) or self.find_files(d):
                kept.append(d)
            else:
                self.remove_tree(d, ignore_errors=True)

    def remove_tree(self, path: str, ignore_errors: bool = False) -> None:
        try:
            self.fs.delete_dir(self.fs_path(path))
        except (FileNotFoundError, OSError):
            if not ignore_errors:
                raise

    def move_file(self, src: str, dst: str) -> None:
        self.fs.move(self.fs_path(src), self.fs_path(dst))

    def replace_file(self, src: str, dst: str) -> None:
        """Atomically publish ``src`` at ``dst``, overwriting any existing
        ``dst``. Local filesystems get rename(2) atomicity (readers see
        the old or the new body, never a partial write — the contract
        pointer files like Iceberg's version-hint.text need); object
        stores overwrite ``dst`` with a direct PUT, which is atomic per
        object (readers see old-or-new, never absent — unlike a
        delete+move fallback, whose window leaves ``dst`` missing and
        gives concurrent readers a transient not-found), then drop the
        staged ``src``. Pointer files are tiny, so the extra read of
        ``src`` is noise."""
        fsrc, fdst = self.fs_path(src), self.fs_path(dst)
        if isinstance(self.fs, pafs.LocalFileSystem):
            os.replace(fsrc, fdst)
            return
        self.write_bytes(dst, self.read_bytes(src))
        self.remove_file_if_exists(src)

    def move_file_excl(self, src: str, dst: str) -> bool:
        """Publish ``src`` at ``dst`` ONLY if ``dst`` does not already
        exist; ``src`` is consumed either way. Returns True when this call
        created ``dst`` — the compare-and-swap primitive snapshot commits
        use for multi-PROCESS safety (version files: fail-if-exists on
        ``vN+1`` → loser rereads and retries).

        Local filesystems get a genuinely atomic check: hard-link(2) fails
        with EEXIST atomically, and the link publishes the fully written
        tmp body in one step. Backends without a conditional-create
        primitive (plain S3 without If-None-Match) fall back to
        check-then-move — a documented single-writer-per-measurement mode,
        exactly the reference's standalone (non-Raft) backend contract."""
        fsrc, fdst = self.fs_path(src), self.fs_path(dst)
        if isinstance(self.fs, pafs.LocalFileSystem):
            try:
                os.link(fsrc, fdst)
            except FileExistsError:
                os.unlink(fsrc)
                return False
            except OSError:
                # cross-device or no-hardlink fs: degrade to check-then-move
                if self.exists(dst):
                    self.remove_file(src)
                    return False
                self.move_file(src, dst)
                return True
            os.unlink(fsrc)
            return True
        if self.exists(dst):
            self.remove_file(src)
            return False
        self.move_file(src, dst)
        return True

    def stream_copy_to(self, src: str, dst_bk: "StorageBackend",
                       dst: str, chunk_bytes: int = 8 << 20) -> int:
        """Cross-backend single-file copy in bounded chunks — never holds
        a whole file in memory (the reference's backup fix for exactly
        this: reference issue #322). Returns bytes copied."""
        total = 0
        with self.fs.open_input_stream(self.fs_path(src)) as fin, \
                dst_bk.fs.open_output_stream(dst_bk.fs_path(dst)) as fout:
            while True:
                chunk = fin.read(chunk_bytes)
                if not chunk:
                    return total
                fout.write(chunk)
                total += len(chunk)

    # -- parquet metadata ---------------------------------------------------
    def parquet_metadata(self, path: str):
        """Parquet footer metadata via this filesystem — no data pages read."""
        import pyarrow.parquet as pq

        with self.fs.open_input_file(self.fs_path(path)) as f:
            return pq.ParquetFile(f).metadata

    def parquet_schema(self, path: str):
        import pyarrow.parquet as pq

        with self.fs.open_input_file(self.fs_path(path)) as f:
            return pq.ParquetFile(f).schema_arrow


class AzureBackend(StorageBackend):
    """Azure Blob Storage backend (reference internal/storage/azure.go).

    Logical paths are ``az://<container>/<path>`` (the container is the
    first segment, matching :class:`pyarrow.fs.AzureFileSystem`'s
    account-rooted view). Spark URLs use Hadoop's ABFS connector form —
    ``abfss://<container>@<account>.dfs.core.windows.net/<path>`` — unless
    a ``spark_prefix`` override is given (tests map an azure-shaped
    subtree to ``file:`` URLs the local Spark can actually read).

    Auth parity with the reference: account key via config/env, or
    pyarrow's DefaultAzureCredential chain when no key is set — which is
    how AzureUseManagedIdentity deployments authenticate. Connection
    strings and bare SAS tokens are not supported by pyarrow's
    AzureFileSystem; use the account-key or credential-chain path."""

    def __init__(self, fs: pafs.FileSystem, account_name: str,
                 scheme: str = "az", spark_prefix: str | None = None,
                 use_ssl: bool = True):
        super().__init__(fs, scheme=scheme, spark_prefix=spark_prefix)
        self.account_name = account_name
        self._abfs_scheme = "abfss" if use_ssl else "abfs"

    def spark_url(self, path: str) -> str:
        if self.spark_prefix is not None:
            return super().spark_url(path)
        container, _, key = self.fs_path(path).partition("/")
        return (f"{self._abfs_scheme}://{container}@{self.account_name}"
                f".dfs.core.windows.net/{key}")

    def from_spark_url(self, url: str) -> str:
        if self.spark_prefix is not None:
            return super().from_spark_url(url)
        for pfx in ("abfss://", "abfs://"):
            if url.startswith(pfx):
                authority, _, key = url[len(pfx):].partition("/")
                container = authority.partition("@")[0]
                return f"{self.scheme}://{container}/{key}"
        return url


def azure_filesystem_kwargs(account_key: str = "", endpoint: str = "",
                            use_ssl: bool = True) -> dict:
    """kwargs for :class:`pyarrow.fs.AzureFileSystem` from the reference's
    config surface: empty key → DefaultAzureCredential chain (covers
    managed identity); ``endpoint`` host[:port] targets Azurite."""
    kw: dict = {}
    if account_key:
        kw["account_key"] = account_key
    if endpoint:
        ep = endpoint.split("://")[-1]
        kw["blob_storage_authority"] = ep
        kw["dfs_storage_authority"] = ep
        proto = "https" if use_ssl else "http"
        kw["blob_storage_scheme"] = proto
        kw["dfs_storage_scheme"] = proto
    return kw


# ---------------------------------------------------------------------------
# scheme registry
# ---------------------------------------------------------------------------

_REGISTRY: dict[str, StorageBackend] = {}
_LOCAL: StorageBackend | None = None


def register_scheme(scheme: str, backend: StorageBackend) -> None:
    """Install a backend for ``scheme://`` roots (tests register ``mock``;
    a deployment could register a custom store the same way).

    Registration is PER-PROCESS: code that runs on executors (the fused
    bulk-LP writer) resolves its own backend there, so only schemes that
    auto-resolve — local paths, ``file:``, ``s3://``/``s3a://`` — work
    inside executor-side writes. Custom registered schemes cover the
    driver-side metadata plane (catalog, compaction, retention, tiering,
    backup), which is where every lifecycle operator runs."""
    _REGISTRY[scheme] = backend


def unregister_scheme(scheme: str) -> None:
    _REGISTRY.pop(scheme, None)


def _local_backend() -> StorageBackend:
    global _LOCAL
    if _LOCAL is None:
        _LOCAL = StorageBackend(pafs.LocalFileSystem(), scheme=None)
    return _LOCAL


def backend_for(path: str) -> StorageBackend:
    """Resolve the backend owning a logical root/path.

    - no scheme or ``file:`` → local filesystem;
    - registered scheme (tests: ``mock://``) → that backend;
    - ``s3://`` / ``s3a://`` → :class:`pyarrow.fs.S3FileSystem`, with Spark
      URLs kept on the ``s3a`` scheme (Hadoop's S3 connector name).
    """
    scheme, _ = _split_scheme(path)
    if scheme in (None, "file"):
        return _local_backend()
    if scheme in _REGISTRY:
        return _REGISTRY[scheme]
    if scheme in ("s3", "s3a"):
        fs = pafs.S3FileSystem()
        # Spark's Hadoop S3 connector is s3a:// regardless of which alias
        # the logical root used
        bk = StorageBackend(fs, scheme=scheme, spark_prefix="s3a://")
        _REGISTRY[scheme] = bk
        return bk
    if scheme in ("az", "abfs", "abfss"):
        # env-driven auto-resolution (reference ARC_STORAGE_AZURE_*);
        # config deployments register via resolve_storage_root instead
        import os as _os

        account = _os.environ.get("ARC_STORAGE_AZURE_ACCOUNT_NAME", "")
        if not account:
            raise ValueError(
                f"{scheme}:// requires ARC_STORAGE_AZURE_ACCOUNT_NAME "
                '(or configure [storage] backend="azure")')
        use_ssl = _os.environ.get(
            "ARC_STORAGE_AZURE_USE_SSL", "true").lower() not in (
                "0", "false", "no", "off")
        fs = pafs.AzureFileSystem(account, **azure_filesystem_kwargs(
            _os.environ.get("ARC_STORAGE_AZURE_ACCOUNT_KEY", ""),
            _os.environ.get("ARC_STORAGE_AZURE_ENDPOINT", ""),
            use_ssl))
        bk = AzureBackend(fs, account_name=account, scheme=scheme,
                          use_ssl=use_ssl)
        _REGISTRY[scheme] = bk
        return bk
    raise ValueError(
        f"no storage backend registered for scheme {scheme!r} "
        f"(register one with arc_spark.storage.register_scheme)"
    )
