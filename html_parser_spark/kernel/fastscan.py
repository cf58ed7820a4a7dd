"""Loader/integration for the optional C fast-scan tokenizer.

The accelerator (kernel/_fastscan.c) is an all-or-nothing subset
scanner: `make_feed(text, errors)` returns a drop-in replacement for
the Tokenizer drive interface (next()/state/allow_cdata/errors/skipped)
when the document lies in the provably-token-identical subset, else
None and the caller uses the pure-Python tokenizer.  See the C file's
header comment for the exact subset contract.

Build strategy (no Cython/mypyc in this environment; plain cc + the
CPython headers suffice): compile on first use into a content-hashed
cache under /tmp, loaded via importlib from the explicit path.  The
build is atomic (compile to a unique temp name, os.replace), so
concurrent Spark workers race safely: first one in wins, the rest see
the finished .so.  Any failure (no compiler, bad flags) degrades to
None and the pure-Python path runs — behavior is identical either way,
only speed differs.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import sysconfig

_mod = None
_tried = False


def _source_path() -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "_fastscan.c")


def _cache_dir() -> str | None:
    """Per-user 0700 cache dir. A predictable world-writable /tmp path
    would let any local user pre-plant a .so that we'd dlopen (review
    finding) — so the cache lives in a directory OWNED by us with mode
    0700, verified by lstat after creation; anything off disables the
    accelerator rather than loading from it."""
    import stat
    import tempfile

    d = os.path.join(tempfile.gettempdir(),
                     f"hp_fastscan_u{os.getuid()}")
    try:
        os.makedirs(d, mode=0o700, exist_ok=True)
        st = os.lstat(d)
        if (not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid()
                or (st.st_mode & 0o077)):
            return None
    except OSError:
        return None
    return d


def _build(src: str) -> str | None:
    """Compile the extension into the user cache keyed by source hash;
    atomic."""
    try:
        with open(src, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()[:16]
    except OSError:
        return None
    cache = _cache_dir()
    if cache is None:
        return None
    tag = f"hp_fastscan_{sys.version_info.major}{sys.version_info.minor}"
    out = os.path.join(cache, f"{tag}_{digest}.so")
    if os.path.exists(out):
        return out
    include = sysconfig.get_paths()["include"]
    tmp_out = f"{out}.build.{os.getpid()}"
    cmd = ["cc", "-O2", "-fPIC", "-shared", "-std=c11",
           f"-I{include}", src, "-o", tmp_out]
    try:
        proc = subprocess.run(cmd, capture_output=True, timeout=120)
        if proc.returncode != 0:
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


def _load():
    global _mod, _tried
    if _tried:
        return _mod
    _tried = True
    so = _build(_source_path())
    if so is None:
        return None
    try:
        import importlib.util

        spec = importlib.util.spec_from_file_location("_fastscan", so)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        _mod = mod
    except Exception:
        _mod = None
    return _mod


# raw/special context tags whose fragment tokenizer starts outside the
# DATA state (tokenizer_init_with_context): the scanner only models a
# DATA start, so those contexts stay on the Python tokenizer
_NON_DATA_CONTEXTS = frozenset((
    "title", "textarea", "style", "xmp", "iframe", "noembed",
    "noframes", "script",
))


def make_feed(input_text: str, errors: list, context_tag: str | None = None):
    """Return a tokenizer-compatible feed, or None to use the Python
    tokenizer.  Safe default for every input: bails are silent."""
    mod = _load()
    if mod is None or not input_text:
        return None
    if context_tag and context_tag[:31].lower() in _NON_DATA_CONTEXTS:
        return None
    if context_tag and "<![CDATA[" in input_text:
        # allow_cdata (builder feedback) can be true from the first
        # token in a foreign-namespace fragment context; the scanner's
        # seen_foreign gate only covers the document path, so any
        # context + a case-exact CDATA opener stays on the Python
        # tokenizer
        return None
    try:
        # the scanner delegates charref-bearing regions to the SAME
        # decode function the Python tokenizer uses (charref.py), so
        # decoded text and error strings are identical by construction
        from .charref import decode_character_references

        return mod.make_feed(input_text, errors,
                             decode_character_references)
    except Exception:
        return None


def bail_reason() -> str | None:
    """Reason for the most recent make_feed() bail (test/diagnostics)."""
    mod = _load()
    if mod is None:
        return "unavailable"
    return mod.bail_reason()
