"""Scheme-aware filesystem helpers for driver-side metadata decisions.

The serving entry point (:meth:`plans.lake.ReadonlyLake.from_txlog`, which
asks "does this table have a log directory") and the corpus-pipeline stage
barrier ("delete this scratch dir") make small driver-side filesystem
checks.  On a laptop those are ``os.*`` calls; on the 100-TB tier the lake
root is ``s3a://`` / ``hdfs://`` / ``abfs://`` and the same checks must
route through the Hadoop ``FileSystem`` API that the transaction log
already uses (``plans/txlog.py``), or the entry point simply cannot open
the deployment it was designed for (r8 verdict #1).

Routing rule (same resolution discipline as ``TxTable.__init__``):

- explicit ``file:`` scheme, or no scheme while ``fs.defaultFS`` is the
  local filesystem → the ``os.*`` fast path (no py4j round trips);
- any other scheme (or a scheme-less path when ``fs.defaultFS`` points at
  a cluster filesystem) → ``Path.getFileSystem(hadoopConf)``, so s3a/hdfs/
  abfs/gs resolve through whatever connector the cluster ships.

These are METADATA operations (is-dir / mkdirs / delete):
a handful of py4j calls per table open, never per row — the data path
stays `spark.read.parquet`, which always went through Hadoop anyway.
"""

from __future__ import annotations

import os
import posixpath

__all__ = [
    "scheme_of",
    "strip_file_scheme",
    "join",
    "is_dir",
    "delete",
    "mkdirs",
]


def scheme_of(path: str) -> str | None:
    """URI scheme of ``path``, or None for a bare filesystem path.

    A scheme must be immediately followed by ``/`` (``file:/x``,
    ``s3a://b/k``) and be at least 2 chars (so Windows-style ``C:``
    drive letters are not mistaken for one — matching Hadoop ``Path``'s
    own rule).  A relative path whose first component merely CONTAINS a
    colon (``run:2026/data``) is a bare path, not a URI — treating it
    as scheme ``run`` would route a local path to ``Path.getFileSystem``
    and fail on the unknown scheme (r9 ADVICE #3)."""
    head = path.split("/", 1)[0]
    if not head.endswith(":") or head.count(":") != 1:
        return None
    s = head[:-1]
    # RFC-3986 scheme chars (s3a has a digit); ≥2 chars rules out drives
    ok = (
        len(s) >= 2
        and s[0].isalpha()
        and all(c.isalnum() or c in "+-." for c in s)
    )
    return s.lower() if ok else None


def strip_file_scheme(path: str) -> str:
    """``file:///x`` / ``file:/x`` → ``/x`` (no-op for bare paths)."""
    if scheme_of(path) == "file":
        rest = path.split(":", 1)[1]
        return "/" + rest.lstrip("/")
    return path


def join(root: str, *parts: str) -> str:
    """Path join that is safe for both bare paths and URIs (both use
    ``/`` separators; ``posixpath.join`` never mangles the scheme)."""
    return posixpath.join(root, *parts)


def _is_local(spark, path: str) -> bool:
    s = scheme_of(path)
    if s is not None:
        return s == "file"
    # scheme-less: resolve through fs.defaultFS exactly as Hadoop would —
    # a bare "/lake/root" on a cluster with defaultFS=hdfs://nn lives on
    # HDFS, and an os.path.exists check there is a silent wrong answer
    # (the split-brain txlog.py guards against with the same rule)
    default = spark.sparkContext._jsc.hadoopConfiguration().get(
        "fs.defaultFS", "file:///"
    )
    return (scheme_of(default) or "file") == "file"


def _hadoop(spark, path: str):
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath


def is_dir(spark, path: str) -> bool:
    if _is_local(spark, path):
        return os.path.isdir(strip_file_scheme(path))
    fs, p = _hadoop(spark, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def delete(spark, path: str) -> None:
    """Recursive delete, missing-ok.

    Gateway-down fallback (r9 ADVICE #1): the atexit barrier backstop
    can run after the py4j gateway closed, where ``_is_local``'s
    ``fs.defaultFS`` lookup raises.  A ``file:``/scheme-less path can
    still be removed with ``os`` tools (harmless if it actually lived
    on a remote defaultFS — the local rmtree is missing-ok); a remote
    scheme genuinely cannot, so that failure propagates."""
    try:
        local = _is_local(spark, path)
    except Exception:
        if scheme_of(path) in (None, "file"):
            import shutil

            shutil.rmtree(strip_file_scheme(path), ignore_errors=True)
            return
        raise
    if local:
        import shutil

        shutil.rmtree(strip_file_scheme(path), ignore_errors=True)
        return
    fs, p = _hadoop(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def mkdirs(spark, path: str) -> None:
    if _is_local(spark, path):
        os.makedirs(strip_file_scheme(path), exist_ok=True)
        return
    fs, p = _hadoop(spark, path)
    fs.mkdirs(p)
