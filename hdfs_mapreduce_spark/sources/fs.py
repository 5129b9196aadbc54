"""Hadoop FileSystem path operations for state/table directories.

Streaming state (the logtable's commit log and data dirs, which hold
every sink's state) must live wherever the cluster's
storage is — ``hdfs://``, ``s3a://``, ``file:///`` — not just on the
driver's local disk. Python ``os.*`` calls only ever see the local
filesystem, so every directory listing / existence probe / mkdir on a
state path goes through Hadoop's FileSystem API instead: the same
resolution Spark's own readers use (LocalFileSystem for bare paths,
DistributedFileSystem for hdfs://, the object-store connectors for
s3a:// etc.), reached over the session's py4j gateway. Each call is one
driver-side RPC — these helpers are for BOUNDED metadata (a handful of
version dirs per state table), never for per-row work.

Engine's warehouse verbs (engine.py) and the shell call the same
helpers, so there is exactly one implementation.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def jpath(spark: SparkSession, path_str: str):
    """org.apache.hadoop.fs.Path for any URI or bare path."""
    # JVM classes are looked up by their full name in one py4j call, as
    # pyspark's _get_jvm_function does: walking the packages one attribute
    # at a time costs a round trip per package, each a failed Class.forName
    # over the whole classpath (measured 2.0 vs 0.14 ms per Path).
    return getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path_str)


def fs_and_path(spark: SparkSession, path_str: str):
    """(FileSystem, Path) — the filesystem is resolved from the path's
    scheme against the session's Hadoop configuration, so one code path
    serves local dirs, HDFS, and object stores alike."""
    path = jpath(spark, path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def join(base: str, *names: str) -> str:
    """URI-safe child path: plain '/'-joining (os.path.join would also
    work on POSIX but reads as a local-FS operation; this never consults
    the local filesystem and keeps scheme prefixes intact)."""
    out = base.rstrip("/")
    for n in names:
        out = f"{out}/{n.strip('/')}"
    return out


def mkdirs(spark: SparkSession, path_str: str) -> None:
    """mkdir -p semantics (Hadoop mkdirs succeeds if the dir exists)."""
    fs, path = fs_and_path(spark, path_str)
    fs.mkdirs(path)


def exists(spark: SparkSession, path_str: str) -> bool:
    fs, path = fs_and_path(spark, path_str)
    return bool(fs.exists(path))


def list_child_names(spark: SparkSession, path_str: str) -> list[str]:
    """Basenames of the direct children of ``path_str``; [] when the
    directory does not exist (state dirs start empty — absence is the
    ordinary cold-start case, not an error)."""
    fs, path = fs_and_path(spark, path_str)
    if not fs.exists(path):
        return []
    return [st.getPath().getName() for st in fs.listStatus(path)]


def read_text(spark: SparkSession, path_str: str) -> str:
    """Whole small file as UTF-8 text (commit records — a few hundred
    bytes; never row data). IOUtils ships with Hadoop."""
    fs, p = fs_and_path(spark, path_str)
    stream = fs.open(p)
    try:
        return getattr(spark._jvm, "org.apache.commons.io.IOUtils").toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def write_text_atomic(spark: SparkSession, path_str: str, text: str) -> bool:
    """Publish a small text file with PUT-IF-ABSENT semantics: write to a
    dot-prefixed UNIQUE tmp sibling, then link/rename into the slot.
    Returns False when the destination already exists — the single
    collision point concurrent publishers race on; the tmp is always
    cleaned up. Never use for row data — commit records and checkpoints
    only.

    On the LOCAL filesystem the publish is a POSIX hard link, not a
    rename: Hadoop's LocalFileSystem rename checks dst existence and
    THEN calls rename(2), which overwrites — two publishers racing the
    same slot can both pass the check and both return true, one record
    silently clobbered (observed for real: a 4-process contention test
    landed 23 of 24 commits with every writer reporting success).
    link(2) fails EEXIST atomically in the kernel, restoring the exact
    contract HDFS rename gives (dst-exists → the whole operation fails).
    Non-local schemes keep the rename path: HDFS rename-to-existing is
    atomically exclusive server-side; S3-family stores need a
    conditional-put backend either way (see streaming/logtable.py)."""
    import uuid

    base, name = path_str.rstrip("/").rsplit("/", 1)
    tmp_str = f"{base}/.{name}.{uuid.uuid4().hex[:8]}.tmp"
    fs, tmp = fs_and_path(spark, tmp_str)
    out = fs.create(tmp, True)
    out.write(bytearray(text.encode("utf-8")))
    out.close()
    dst = jpath(spark, path_str)
    won = None
    try:
        scheme = fs.getScheme()
    except Exception:
        scheme = None
    if scheme == "file":
        jfile = getattr(spark._jvm, "java.io.File")
        try:
            # java.io.File(...).toPath() rather than Paths.get(...):
            # Paths.get is varargs, which py4j cannot dispatch.
            getattr(spark._jvm, "java.nio.file.Files").createLink(
                jfile(dst.toUri().getPath()).toPath(),
                jfile(tmp.toUri().getPath()).toPath(),
            )
            won = True
        except Exception as exc:
            jexc = getattr(exc, "java_exception", None)
            cls = jexc.getClass().getName() if jexc is not None else ""
            if cls.endswith("FileAlreadyExistsException"):
                won = False
            # any other failure (e.g. a hardlink-incapable mount):
            # fall through to the rename path with the tmp still intact
    if won is None:
        if fs.rename(tmp, dst):
            return True
        fs.delete(tmp, False)
        return False
    fs.delete(tmp, False)
    return won


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Hadoop FileSystem rename (atomic on HDFS/local for same-volume
    moves; returns False instead of raising when the destination exists
    or the source is missing). For directory swaps in maintenance verbs
    — never for per-row data movement."""
    fs, src_p = fs_and_path(spark, src)
    return bool(fs.rename(src_p, jpath(spark, dst)))


# Hadoop GlobPattern metacharacters; backslash is its escape character
# (verified against the local FS: an escaped base with { } [ ] matches
# literally while the raw base matches nothing).
_GLOB_META = "\\*?[]{}"


def glob_escape(name: str) -> str:
    """Escape Hadoop glob metacharacters so ``name`` matches literally
    inside a globStatus pattern. File names may legally contain
    ``{ } [ ] * ?`` (r11 ADVICE: passing such a base unescaped turns it
    into a pattern — mis-listing or a syntax error)."""
    return "".join("\\" + c if c in _GLOB_META else c for c in name)


def glob_parent_names(
    spark: SparkSession, base: str, *glob_parts: str
) -> list[str]:
    """Hadoop globStatus in ONE metadata RPC: the PARENT-directory
    basenames of every path matching ``<base>/<glob_parts...>``. The
    ``base`` is a LITERAL directory (glob metacharacters in it are
    escaped, so state dirs named with ``{ } [ ] * ?`` list correctly);
    the ``glob_parts`` are raw pattern segments. The marker-file idiom —
    ``glob_parent_names(spark, root, "batch_id=*", "_SUCCESS")`` lists
    every COMMITTED batch dir in one round trip, where a listing plus a
    per-child ``exists`` probe costs one RPC per dir (each a full HTTP
    call on an object store, and the dir count grows with stream age).
    [] when nothing matches or the base does not exist (globStatus
    returns null for a non-existent base)."""
    pattern = join(glob_escape(base), *glob_parts)
    fs, p = fs_and_path(spark, pattern)
    statuses = fs.globStatus(p)
    if statuses is None:
        return []
    return [st.getPath().getParent().getName() for st in statuses]


def dir_size(spark: SparkSession, path_str: str) -> int:
    """Total bytes under ``path_str`` (Hadoop getContentSummary — one
    namenode call on HDFS, a listing on object stores). Used by
    maintenance verbs to pick size tiers, never on a per-row path."""
    fs, p = fs_and_path(spark, path_str)
    return int(fs.getContentSummary(p).getLength())


def delete(spark: SparkSession, path_str: str, recursive: bool = True) -> bool:
    """Recursive delete; True when something was removed, False when the
    path was already absent (idempotent cleanup semantics)."""
    fs, path = fs_and_path(spark, path_str)
    if not fs.exists(path):
        return False
    return bool(fs.delete(path, recursive))
