"""Per-user cache of artifacts compiled from this package's sources:
the C fast scan (kernel/fastscan.py) and the local-file-system jar
(spark/session.py).

Each artifact is named by a hash of what it is built from, so a changed
source builds a new one and a stale one is never loaded. The build is
atomic (the builder writes a unique temp name, then os.replace), so
concurrent builders race safely: the first one in wins, the rest see
the finished file. Any failure returns None and the caller runs without
the artifact.
"""

from __future__ import annotations

import hashlib
import os
import stat
import tempfile
from typing import Callable


def cache_dir() -> str | None:
    """Per-user 0700 cache dir. A predictable world-writable /tmp path
    would let any local user pre-plant an artifact that we would load,
    so the cache lives in a directory OWNED by us with mode 0700,
    verified by lstat after creation; anything off disables the cache
    (and with it the artifacts) rather than loading from it."""
    d = os.path.join(tempfile.gettempdir(), f"hp_build_u{os.getuid()}")
    try:
        os.makedirs(d, mode=0o700, exist_ok=True)
        st = os.lstat(d)
        if (not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid()
                or (st.st_mode & 0o077)):
            return None
    except OSError:
        return None
    return d


def cached_build(stem: str, suffix: str, key: bytes,
                 build: Callable[[str], bool]) -> str | None:
    """The path of `<stem>_<hash of key><suffix>` in the cache, built by
    `build(tmp_path)` if it is not there yet; `build` writes the
    artifact to `tmp_path` and returns whether it succeeded. None when
    the cache is unusable or the build fails."""
    cache = cache_dir()
    if cache is None:
        return None
    digest = hashlib.sha256(key).hexdigest()[:16]
    out = os.path.join(cache, f"{stem}_{digest}{suffix}")
    if os.path.exists(out):
        return out
    tmp_out = f"{out}.build.{os.getpid()}"
    try:
        if not build(tmp_out):
            return None
        os.replace(tmp_out, out)  # atomic: racing builders converge
        return out
    except Exception:
        return None
    finally:
        try:
            if os.path.exists(tmp_out):
                os.unlink(tmp_out)
        except OSError:
            pass
