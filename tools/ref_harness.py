"""Build helper for the from-tokens C harness (tools/ref_tokens_demo.c).

Used by tests/test_tokens_build.py to build (and staleness-check) the
binary.
"""

from __future__ import annotations

import glob
import os
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS_SRC = os.path.join(REPO, "tools", "ref_tokens_demo.c")
HARNESS_BIN_NAME = "ref_tokens_demo"

C_DEPS = ["src/tree_builder.c", "src/tokenizer.c", "src/token.c",
          "src/tree.c", "src/encoding.c", "src/foreign.c"]


def build_tokens_harness(refbuild: str) -> str | None:
    """Return the harness binary path, building it with the reference
    Makefile's flags if missing or stale; None if the build fails.

    Staleness covers the harness source, the linked .c files AND every
    include/*.h header — a header-only reference change must rebuild,
    or the binary would silently mint wrong goldens."""
    harness = os.path.join(refbuild, HARNESS_BIN_NAME)
    deps = [HARNESS_SRC] + [os.path.join(refbuild, d) for d in C_DEPS]
    deps += glob.glob(os.path.join(refbuild, "include", "*.h"))
    if os.path.isfile(harness):
        bin_mtime = os.path.getmtime(harness)
        if all(bin_mtime >= os.path.getmtime(d) for d in deps
               if os.path.exists(d)):
            return harness
    # -DHAVE_ICONV matters: without it convert_to_utf8 silently falls
    # back to UTF-8 for every iconv-backed label and the encoding
    # fixtures mis-sniff
    r = subprocess.run(
        ["gcc", "-std=c11", "-O2", "-DHAVE_ICONV", "-I", "include",
         "-o", harness, HARNESS_SRC] + C_DEPS,
        cwd=refbuild, capture_output=True,
    )
    return harness if r.returncode == 0 else None
