"""Every `html_parser_spark` import outside the package resolves.

Jobs and tools import the package inside `main()`, and the tests
replicate job bodies rather than call them, so a job that still names
a deleted function would otherwise fail only when it runs. This test
parses every import statement of the scripts with `ast` (at any
nesting level) and checks that each module imports and provides each
name. No SparkSession is started.
"""

import ast
import glob
import importlib
import os

ROOT = os.path.join(os.path.dirname(__file__), "..")
SCRIPTS = sorted(
    glob.glob(os.path.join(ROOT, "jobs", "*.py"))
    + glob.glob(os.path.join(ROOT, "tools", "*.py"))
    + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    + [os.path.join(ROOT, "__spark_entry__.py"),
       os.path.join(ROOT, "bench.py")]
)
PACKAGE = "html_parser_spark"


def _package_imports(path):
    """(line, module, name) per package import in `path`; name is None
    for a plain `import module`."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and node.module.split(".")[0] == PACKAGE:
            for alias in node.names:
                yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    yield node.lineno, alias.name, None


def _provides(module, name):
    """`from module import name` succeeds: an attribute, or a
    submodule the statement would import."""
    if hasattr(module, name):
        return True
    try:
        importlib.import_module(f"{module.__name__}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_package_imports_resolve():
    seen, broken = 0, []
    for path in SCRIPTS:
        rel = os.path.relpath(path, ROOT)
        for line, modname, name in _package_imports(path):
            seen += 1
            where = f"{rel}:{line}"
            try:
                module = importlib.import_module(modname)
            except ImportError as e:
                broken.append(f"{where}: import {modname}: {e}")
                continue
            if name is not None and not _provides(module, name):
                broken.append(f"{where}: {modname} has no {name!r}")
    assert not broken, "\n".join(broken)
    # the census found the scripts' imports (dozens of statements)
    assert seen >= 50, seen
