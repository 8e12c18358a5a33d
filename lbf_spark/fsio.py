"""Filesystem-agnostic small-file IO via Hadoop's FileSystem API.

Checkpoint and table manifests must keep working when the directory is
``hdfs://`` / ``s3a://`` — plain ``os.*`` calls only understand POSIX
paths, which is fine in a sandbox and broken on the 1000-executor
cluster this engine targets. Every helper here resolves the path's
``FileSystem`` from the session's Hadoop configuration, so bare local
paths, ``file:`` URIs and DFS URIs all behave identically (the same
mechanism Spark's own checkpoint/_SUCCESS machinery uses).

Only tiny JSON manifests flow through these helpers — data always moves
through ``df.write.parquet`` — so the py4j byte-shuttling cost is nil.
"""

from __future__ import annotations

import posixpath
import uuid


def join(*parts: str) -> str:
    """URI-safe path join (os.path.join would also work on POSIX, but
    this never surprises on a scheme-prefixed base)."""
    return posixpath.join(*parts)


def _fs_path(spark, path_str: str):
    if spark is None:
        raise ValueError(
            "fsio needs an active SparkSession to reach the Hadoop "
            f"FileSystem API (path: {path_str}); create one first"
        )
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path_str)
    return jpath.getFileSystem(hconf), jpath, jvm


def exists(spark, path: str) -> bool:
    fs, p, _ = _fs_path(spark, path)
    return bool(fs.exists(p))


def read_text(spark, path: str) -> str:
    fs, p, jvm = _fs_path(spark, path)
    stream = fs.open(p)
    try:
        # commons-io ships with Spark; one call avoids a py4j read loop
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text_atomic(spark, path: str, text: str) -> None:
    """Write via a unique temp file + overwrite-rename.

    The rename goes through ``FileContext.rename(..., Rename.OVERWRITE)``
    — atomic overwrite on HDFS/POSIX, so a concurrent reader always
    observes either the previous or the new manifest, never a partial
    file and never a missing one. The temp name embeds a uuid so two
    concurrent writers cannot clobber each other's in-flight temp (last
    rename wins, each rename still atomic). If the FileContext API is
    unavailable for the scheme, falls back to delete+rename, which has
    a transient missing-destination window — for the LATEST manifest a
    reader treats the gap as "no snapshot yet" (spurious-but-safe empty
    read); for a MID-CHAIN manifest rewrite (expire_snapshots' reset
    point, exactly-once sinks patching an old snapshot) the gap would
    silently shrink the visible file set while later snapshots remain,
    so ``table._read_snaps`` refuses to replay across a missing id in
    the middle of the chain (raises instead of returning a transiently
    wrong table). Caveat: on S3A a rename is a non-atomic server-side
    copy+delete; the object PUT itself is still all-or-nothing, so
    readers can briefly race to the pre-rename object but can never see
    a torn manifest."""
    fs, p, jvm = _fs_path(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{path}.{uuid.uuid4().hex[:12]}.tmp"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    try:
        qdst = fs.makeQualified(p)
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            qdst.toUri(), spark._jsc.hadoopConfiguration()
        )
        ren = jvm.org.apache.hadoop.fs.Options.Rename
        opts = spark.sparkContext._gateway.new_array(ren, 1)
        opts[0] = ren.OVERWRITE
        fc.rename(fs.makeQualified(tmp), qdst, opts)
    except Exception:
        if fs.exists(p):  # plain FileSystem.rename refuses to clobber
            fs.delete(p, False)
        if not fs.rename(tmp, p):
            raise IOError(f"rename {tmp} -> {path} failed")


def write_text_exclusive(spark, path: str, text: str) -> None:
    """Commit ``text`` to ``path`` ONLY if nothing is there — the
    optimistic-concurrency primitive for snapshot manifests: two
    writers that both computed snapshot N race on the same name, and
    exactly one rename wins (Hadoop ``FileSystem.rename`` refuses to
    clobber an existing destination on HDFS and local FS alike — the
    same claim mechanism Iceberg's HadoopTableOperations uses). The
    loser gets ``FileExistsError`` and must re-read the table state
    and retry its commit. On S3A the no-clobber guarantee is
    best-effort (no atomic create-exclusive) — use a real catalog
    there."""
    fs, p, jvm = _fs_path(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{path}.{uuid.uuid4().hex[:12]}.tmp"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(p) or not fs.rename(tmp, p):
        fs.delete(tmp, False)
        raise FileExistsError(
            f"{path} already exists — another writer committed this "
            "snapshot id first; re-read the table state and retry"
        )


def list_names(spark, path: str) -> list[str]:
    """Immediate children's names (no recursion), [] for a missing dir."""
    fs, p, _ = _fs_path(spark, path)
    if not fs.exists(p):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(p))


def list_files_recursive(spark, path: str, suffix: str) -> list[dict]:
    """All files under ``path`` with that suffix, as
    {path (relative), bytes} — FS metadata only, no data read."""
    fs, p, _ = _fs_path(spark, path)
    if not fs.exists(p):
        return []
    base = str(fs.makeQualified(p).toUri().getPath())
    it = fs.listFiles(p, True)
    out = []
    while it.hasNext():
        st = it.next()
        full = str(st.getPath().toUri().getPath())
        if full.endswith(suffix):
            rel = full[len(base):].lstrip("/") if full.startswith(base) else full
            out.append({"path": rel, "bytes": int(st.getLen())})
    return sorted(out, key=lambda d: d["path"])


def mkdirs(spark, path: str) -> None:
    fs, p, _ = _fs_path(spark, path)
    fs.mkdirs(p)


def move_file(spark, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``, creating the destination's parent
    directories. Refuses to clobber (rename fails onto an existing
    destination) — the staged-write adopt step relies on part-file
    names being unique (Spark embeds a per-job UUID in them)."""
    fs, sp, jvm = _fs_path(spark, src)
    dp = jvm.org.apache.hadoop.fs.Path(dst)
    parent = dp.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    if not fs.rename(sp, dp):
        raise IOError(f"rename {src} -> {dst} failed")


def delete(spark, path: str, recursive: bool = False) -> bool:
    """Delete a file or directory tree; False if it didn't exist
    (Hadoop's ``FileSystem.delete`` reports that itself)."""
    fs, p, _ = _fs_path(spark, path)
    return bool(fs.delete(p, recursive))
