"""The per-user cache: files the engine builds once per machine and then
reuses, each in a subdirectory named for its kind (the executor package
zip, the compiled fill kernel, the driver JVM's class-data archive).

The cache lives under ``$XDG_CACHE_HOME`` (``~/.cache`` when that is
unset), so it outlives a process's temp directory: a runner that empties
``$TMPDIR`` between runs does not make every run rebuild it.
"""

from __future__ import annotations

import os
import tempfile


def cache_dir(kind: str) -> str:
    """``$XDG_CACHE_HOME/python_fmask_spark/<kind>``, made if missing, or
    ``<tempdir>/python_fmask_spark_<uid>/<kind>`` when that cannot be
    made or written. Raises OSError when neither can."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    for root in (os.path.join(base, "python_fmask_spark"),
                 os.path.join(tempfile.gettempdir(),
                              f"python_fmask_spark_{os.getuid()}")):
        d = os.path.join(root, kind)
        try:
            os.makedirs(d, exist_ok=True)
        except OSError:
            continue
        if os.access(d, os.W_OK | os.X_OK):
            return d
    raise OSError(f"no writable cache directory for {kind!r}")
