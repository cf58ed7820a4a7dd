"""Loader/integration for the optional C fast-scan tokenizer.

The accelerator (kernel/_fastscan.c) is an all-or-nothing subset
scanner: `make_feed(text, errors)` returns a drop-in replacement for
the Tokenizer drive interface (next()/state/allow_cdata/errors/skipped)
when the document lies in the provably-token-identical subset, else
None and the caller uses the pure-Python tokenizer.  See the C file's
header comment for the exact subset contract.

Build strategy (no Cython/mypyc in this environment; plain cc + the
CPython headers suffice): compile on first use into the package's
content-hashed build cache (html_parser_spark/buildcache.py), loaded
via importlib from the explicit path.  Concurrent Spark workers race
safely on the atomic build.  Any failure (no compiler, bad flags)
degrades to None and the pure-Python path runs — behavior is identical
either way, only speed differs.
"""

from __future__ import annotations

import os
import subprocess
import sys
import sysconfig

from ..buildcache import cached_build

_mod = None
_tried = False


def _source_path() -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "_fastscan.c")


def _build(src: str) -> str | None:
    """Compile the extension into the build cache, keyed by the source
    bytes."""
    try:
        with open(src, "rb") as f:
            key = f.read()
    except OSError:
        return None
    include = sysconfig.get_paths()["include"]

    def compile_to(tmp_out: str) -> bool:
        cmd = ["cc", "-O2", "-fPIC", "-shared", "-std=c11",
               f"-I{include}", src, "-o", tmp_out]
        return subprocess.run(cmd, capture_output=True,
                              timeout=120).returncode == 0

    tag = f"hp_fastscan_{sys.version_info.major}{sys.version_info.minor}"
    return cached_build(tag, ".so", key, compile_to)


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
