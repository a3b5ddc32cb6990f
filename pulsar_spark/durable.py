"""Durable state — the engine's only sidecar reads, sidecar writes and
directory swaps.

Pulsar keeps topic, cursor and schema metadata as atomic metadata-store
records; sparklog keeps them as JSON sidecars next to the parquet log,
and rewrites whole directories (tiered offload, transaction
materialize, kv sink, dedupe store compaction) beside the original.
After a crash at any step each is the old state or the new one, never
torn: a sidecar through ``write_atomic``, a directory through
``swap_in`` plus ``recover_swap`` on the writer's next entry.

Swaps go through the Hadoop FileSystem API so remote stores (hdfs://,
s3a://) swap and recover too; local paths resolve to
``RawLocalFileSystem`` under the engine session (``session.py`` sets
``fs.file.impl``), so a local swap is plain directory renames.
"""

from __future__ import annotations

import json
import os
import tempfile


def read_json(path: str, default=None):
    """The JSON record at ``path``, or ``default`` when there is none."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return default


def write_atomic(path: str, obj) -> None:
    """Replace ``path`` with ``obj`` (bytes as-is, anything else as
    JSON): temp file in the same directory, fsync, ``os.replace``, then
    an fsync of the directory. Readers never see a torn record, the
    file's existing permissions are kept (mkstemp creates 0600), and
    every failure before the replace removes the temp file."""
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(
        prefix="_" + os.path.basename(path) + "_", suffix=".tmp", dir=d
    )
    try:
        with os.fdopen(fd, "wb" if isinstance(obj, bytes) else "w") as fh:
            try:
                mode = os.stat(path).st_mode & 0o777
            except FileNotFoundError:
                mode = 0o644
            os.fchmod(fh.fileno(), mode)
            if isinstance(obj, bytes):
                fh.write(obj)
            else:
                json.dump(obj, fh, indent=1)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    dfd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def rewrite_path(path: str) -> str:
    """Where a rewrite of ``path`` is staged before ``swap_in``."""
    return path.rstrip("/") + "__rewrite"


def _fs(spark, path: str):
    """The FileSystem and the (base, rewrite, old) Paths of a swap of
    ``path``. The swap names are true SIBLINGS of ``path``: the
    trailing slash is stripped first, or ``path + '__old'`` would be a
    child of the directory itself."""
    P = spark._jvm.org.apache.hadoop.fs.Path
    base = path.rstrip("/")
    fs = P(base).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, P(base), P(rewrite_path(base)), P(base + "__old")


def _rename(fs, src, dst) -> None:
    """Hadoop ``fs.rename`` returns False instead of raising on most
    failures (missing parent, existing destination, cross-store move).
    A swap step that silently no-ops would strand a rewrite with no
    error — check the boolean and fail loudly."""
    if not fs.rename(src, dst):
        raise IOError(f"fs.rename({src}, {dst}) returned false")


def swap_in(spark, path: str) -> None:
    """Install ``rewrite_path(path)`` as ``path``: rename the current
    directory (if any) away to ``path__old``, rename the rewrite in,
    delete ``path__old``. Callers run ``recover_swap`` first, so no
    stale ``__old`` is in the way."""
    fs, base, tmp, old = _fs(spark, path)
    had_base = fs.exists(base)
    if had_base:
        _rename(fs, base, old)
    _rename(fs, tmp, base)
    if had_base:
        fs.delete(old, True)


def recover_swap(spark, path: str, cleanup: bool = True) -> None:
    """Complete or roll back an interrupted ``swap_in``.

    The rewrite is complete before the swap begins, so when ``path`` is
    missing the swap is completed forward from ``path__rewrite``, and
    rolled back to ``path__old`` only when the rewrite is gone.
    ``cleanup`` (the write path) then deletes a leftover ``__old`` or
    ``__rewrite`` beside an intact ``path``; ``cleanup=False`` (the
    read path) only renames, and only when ``path`` is missing — a
    reader never deletes. Single writer per path, as in the reference.
    """
    fs, base, tmp, old = _fs(spark, path)
    if not fs.exists(base):
        if fs.exists(tmp):
            _rename(fs, tmp, base)  # crash between the two renames
        elif fs.exists(old):
            _rename(fs, old, base)  # rewrite lost: roll back
        else:
            return
    if cleanup:
        for p in (old, tmp):
            if fs.exists(p):
                fs.delete(p, True)
