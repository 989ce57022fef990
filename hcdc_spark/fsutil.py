"""Storage-scheme-safe driver-side file operations for the index
lifecycle (round-13 verdict, What's wrong #1).

The index and state-log maintenance layer — tombstone discovery, the
directory swap, staleness fingerprints — needs a handful of
driver-side metadata operations (exists / list / rename / delete) on
paths that are LOCAL in tests but ``hdfs://`` or ``s3a://`` in the
deployment posture the 100 TB brief targets. ``os.path`` silently
answers False for every remote URI, which turned the takedown verb
into a silent no-op on object storage. This module routes those calls
through the Hadoop FileSystem API already sitting on the driver JVM
(``Path(p).getFileSystem(hadoopConf)`` — one implementation for
``file:``, ``hdfs:``, ``s3a:`` alike), so the SAME code path runs in
tests (local FS) and production (remote FS). The reference made its
staging I/O pluggable for exactly this reason
(core/.../io/FileSystem.java:24-117 — exists/list/delete/mkdirs as an
abstract surface; S3 impl io/impl/s3/S3FileSystem.java:70-116); on
Spark the pluggability already exists as Hadoop's FS registry, so the
port is a thin adapter, not a framework.

Two hard rules encoded here:

- **Never silent.** An unresolvable scheme (no FS implementation on
  the classpath, bad URI) raises ``RuntimeError`` with the path and
  operation — a takedown can fail loudly, never report success while
  doing nothing.
- **Rename is not a commit primitive on object stores.** HDFS and
  local renames are atomic; S3/GCS/ABFS "renames" are copy+delete.
  ``require_atomic_rename`` fences every rename-as-swap call site:
  swap_dir refuses object-store paths with an actionable message
  (use the catalog-based stage-and-swap the band indexes use, or a
  table format whose commit IS atomic). Existence checks, listing,
  tombstone discovery and recursive deletes have no such constraint
  and work on every scheme.

Driver-side only: these are O(1)-per-call metadata operations (a
probe's tombstone check, a swap's two renames), never per-row work.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

#: Filesystems whose directory rename is atomic (a real metadata op):
#: safe to use as a stage-and-swap commit. Everything else — object
#: stores emulate rename as copy+delete — is refused by
#: require_atomic_rename with a pointer at the catalog-based swap.
ATOMIC_RENAME_SCHEMES = frozenset(
    {"", "file", "hdfs", "viewfs", "ofs", "o3fs"}
)


def scheme(path: str) -> str:
    """The URI scheme of ``path`` ('' for scheme-less local paths).
    ``file:/x``, ``file:///x`` → 'file'; ``s3a://b/k`` → 's3a';
    ``/x`` → ''. A single-letter prefix is treated as scheme-less
    (Windows drive letters — not a target platform, but cheap)."""
    i = path.find(":")
    if i <= 1:  # no colon, or a drive-letter-like prefix
        return ""
    head = path[:i]
    if not head.replace("+", "").replace("-", "").replace(
        ".", ""
    ).isalnum() or "/" in head:
        return ""
    return head.lower()


def is_local(path: str) -> bool:
    return scheme(path) in ("", "file")


def local_path(path: str) -> str:
    """Strip a ``file:`` prefix down to an OS path (``file:///x`` and
    ``file:/x`` both → ``/x``). Raises on non-local schemes — callers
    that need an os.* fast path must branch on is_local first."""
    s = scheme(path)
    if s == "":
        return path
    if s != "file":
        raise ValueError(f"not a local path: {path}")
    rest = path[len("file:"):]
    if rest.startswith("//"):
        # file://host/x — strip the (empty) authority
        rest = rest[2:]
        slash = rest.find("/")
        rest = rest[slash:] if slash >= 0 else "/"
    return rest


def join(base: str, *parts: str) -> str:
    """URI-safe path join: '/'-separated regardless of platform, no
    scheme mangling (os.path.join would be correct on POSIX but the
    intent — child paths under a table/index location that may be a
    URI — deserves an explicit spelling)."""
    out = base.rstrip("/")
    for p in parts:
        out += "/" + p.strip("/")
    return out


def require_atomic_rename(path: str, op: str) -> None:
    """Fence for rename-as-commit call sites (the IVF-PQ directory
    swap): refuse schemes whose rename is copy+delete — a crash
    mid-"rename" there would leave BOTH generations half-present,
    which the swap's crash-recovery contract cannot repair."""
    s = scheme(path)
    if s not in ATOMIC_RENAME_SCHEMES:
        raise RuntimeError(
            f"{op}: {path!r} is on '{s}', whose rename is copy+delete "
            "— the stage-and-rename swap needs an atomic rename "
            "(file:/hdfs:). For object storage, serve the index from "
            "a catalog table and use the catalog stage-and-swap "
            "(similarity._swap_band_table), or a table format with "
            "atomic commits."
        )


def _jfs(path: str, spark: SparkSession | None, op: str):
    """(Hadoop FileSystem, Hadoop Path) for ``path`` — loud on any
    failure: an unknown scheme / missing connector raises RuntimeError
    naming the operation, never returns a 'not there' answer."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"{op}: no active SparkSession to resolve {path!r} "
            "(the Hadoop FileSystem API lives on the driver JVM)"
        )
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        jfs = jpath.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        return jfs, jpath
    except Exception as exc:
        raise RuntimeError(
            f"{op}: cannot resolve a Hadoop FileSystem for {path!r} "
            f"(scheme {scheme(path)!r}) — refusing to guess instead "
            f"of silently no-opping: {exc}"
        ) from None


def exists(path: str, spark: SparkSession | None = None) -> bool:
    if (
        is_local(path)
        and spark is None
        and SparkSession.getActiveSession() is None
    ):
        import os

        return os.path.exists(local_path(path))
    jfs, jpath = _jfs(path, spark, "fsutil.exists")
    return bool(jfs.exists(jpath))


def is_dir(path: str, spark: SparkSession | None = None) -> bool:
    if (
        is_local(path)
        and spark is None
        and SparkSession.getActiveSession() is None
    ):
        import os

        return os.path.isdir(local_path(path))
    jfs, jpath = _jfs(path, spark, "fsutil.is_dir")
    return bool(jfs.exists(jpath)) and bool(
        jfs.getFileStatus(jpath).isDirectory()
    )


def list_names(path: str, spark: SparkSession | None = None) -> list[str]:
    """Immediate child names of a directory (empty list if absent)."""
    jfs, jpath = _jfs(path, spark, "fsutil.list_names")
    if not jfs.exists(jpath):
        return []
    return [st.getPath().getName() for st in jfs.listStatus(jpath)]


def delete(path: str, spark: SparkSession | None = None) -> None:
    """Recursive delete, silent if the path is already absent (the
    shutil.rmtree(..., ignore_errors=True) cleanup contract) — but
    LOUD if the scheme itself cannot be resolved."""
    jfs, jpath = _jfs(path, spark, "fsutil.delete")
    if jfs.exists(jpath):
        jfs.delete(jpath, True)


def rename(src: str, dst: str, spark: SparkSession | None = None) -> None:
    """Rename src → dst; raises RuntimeError on ANY failure mode —
    FileSystem.rename is allowed to either return False or throw
    (the local FS throws FileNotFound, HDFS returns False for an
    existing destination), and the swap call sites key their ROLLBACK
    on catching RuntimeError, so both modes must normalize to it."""
    jfs, jsrc = _jfs(src, spark, "fsutil.rename")
    _, jdst = _jfs(dst, spark, "fsutil.rename")
    try:
        ok = jfs.rename(jsrc, jdst)
    except Exception as exc:
        raise RuntimeError(
            f"fsutil.rename: {src!r} -> {dst!r} failed: {exc}"
        ) from None
    if not ok:
        raise RuntimeError(
            f"fsutil.rename: {src!r} -> {dst!r} failed (missing "
            "source, existing destination, or missing parent)"
        )


def copy(src: str, dst: str, spark: SparkSession | None = None) -> None:
    """Recursive copy src → dst (FileUtil.copy: works across every
    resolvable scheme); raises RuntimeError if the copy fails."""
    jfs, jsrc = _jfs(src, spark, "fsutil.copy")
    dfs, jdst = _jfs(dst, spark, "fsutil.copy")
    spark = spark or SparkSession.getActiveSession()
    ok = spark._jvm.org.apache.hadoop.fs.FileUtil.copy(
        jfs, jsrc, dfs, jdst, False,
        spark.sparkContext._jsc.hadoopConfiguration(),
    )
    if not ok:
        raise RuntimeError(f"fsutil.copy: {src!r} -> {dst!r} failed")


def _swap_names(path: str) -> tuple[str, str]:
    path = path.rstrip("/")
    return path + ".stage", path + ".old"


def swap_dir(
    path: str, write_stage, op: str, spark: SparkSession | None = None
) -> None:
    """Replace the directory ``path`` by a complete new generation —
    the one commit every rewrite-in-place job uses (the IVF-PQ index
    rebuild and compaction, compact_state_log, gc_change_data).

    ``write_stage(stage)`` writes the whole replacement to
    ``path.stage`` next to the live directory; then ``path`` is renamed
    to ``path.old``, the stage to ``path``, and the old generation is
    deleted. Readers of ``path`` see the old or the new generation,
    never a mix. A failed second rename rolls the first back. A crash
    (no rollback runs) leaves one of three states, all repaired by
    recover_swap: a partial stage beside the live path (deleted by the
    next swap), the live path missing with the complete stage and
    ``path.old`` beside it (rolled forward), or a stale ``path.old``
    (deleted by the next swap).

    Rename-as-commit, so fenced to atomic-rename filesystems."""
    require_atomic_rename(path, op)
    if not is_dir(path, spark):
        raise RuntimeError(f"{op}: no directory at {path!r} to replace")
    stage, old = _swap_names(path)
    delete(stage, spark)
    delete(old, spark)
    write_stage(stage)
    rename(path, old, spark)
    try:
        rename(stage, path, spark)
    except RuntimeError:
        rename(old, path, spark)  # roll back: the live generation survives
        raise
    delete(old, spark)


def recover_swap(path: str, spark: SparkSession | None = None) -> None:
    """Finish a swap_dir interrupted between its two renames: with the
    live path missing, the complete stage is renamed into place (or,
    with no stage, the old generation is restored). A no-op while the
    live path exists. Call it once at the start of every entry point
    that reads or writes ``path``, so nothing ever recreates the live
    directory beside a stranded generation."""
    if is_dir(path, spark):
        return
    stage, old = _swap_names(path)
    for src in (stage, old):
        if is_dir(src, spark):
            require_atomic_rename(path, "recover_swap")
            rename(src, path, spark)
            return


def list_files(
    path: str, spark: SparkSession | None = None
) -> list[tuple[str, int, int]] | None:
    """Recursive data-file listing as (path-relative name, size,
    mtime_millis), dotfiles/underscore entries excluded — the
    object-store analogue of _dir_fingerprint's os.walk (key, size,
    mtime ~ etag). None if the path does not exist."""
    jfs, jpath = _jfs(path, spark, "fsutil.list_files")
    if not jfs.exists(jpath):
        return None
    base = jfs.getFileStatus(jpath).getPath().toString()
    out: list[tuple[str, int, int]] = []
    it = jfs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        full = st.getPath().toString()
        rel = full[len(base):].lstrip("/")
        name = st.getPath().getName()
        if name.startswith(("_", ".")) or any(
            seg.startswith(("_", ".")) for seg in rel.split("/")
        ):
            continue
        out.append((rel, int(st.getLen()), int(st.getModificationTime())))
    return out
