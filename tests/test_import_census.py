"""Two `ast` censuses of the repository; no SparkSession is started.

Every `html_parser_spark` import outside the package resolves. Jobs
and tools import the package inside `main()`, and the tests replicate
job bodies rather than call them, so a job that still names a deleted
function would otherwise fail only when it runs. The first test
parses every import statement of the scripts (at any nesting level)
and checks that each module imports and provides each name.

Every defaulted parameter of a public package function is set by some
call. A parameter that every call leaves at its default is a knob
nobody turns: the second test finds each one.
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
PACKAGE_FILES = sorted(
    glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True))
CALLERS = PACKAGE_FILES + SCRIPTS + sorted(
    glob.glob(os.path.join(ROOT, "tests", "*.py")))
# get_spark's arguments are deployment settings (master, app name,
# shuffle width), and tools/bench_scaling.py sets shuffle_partitions
# inside the code string it runs in a subprocess, where no ast of the
# tool can see the call.
EXEMPT = {"get_spark"}


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _package_imports(path):
    """(line, module, name) per package import in `path`; name is None
    for a plain `import module`."""
    for node in ast.walk(_parse(path)):
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


def _defaulted_params(tree):
    """(function, parameter, position or None) per defaulted parameter
    of each public module-level function; position is None for a
    keyword-only parameter."""
    for node in tree.body:
        if not isinstance(node, ast.FunctionDef) \
                or node.name.startswith("_") or node.name in EXEMPT:
            continue
        a = node.args
        positional = a.posonlyargs + a.args
        first = len(positional) - len(a.defaults)
        for i, arg in enumerate(positional[first:], first):
            yield node.name, arg.arg, i
        for arg, default in zip(a.kwonlyargs, a.kw_defaults):
            if default is not None:
                yield node.name, arg.arg, None


def _sets(call, param, position):
    """`call` passes `param`: by keyword, by position, or through a
    `**kwargs` / `*args` expansion."""
    for kw in call.keywords:
        if kw.arg is None or kw.arg == param:
            return True
    return position is not None and (
        len(call.args) > position
        or any(isinstance(a, ast.Starred) for a in call.args))


def test_every_default_is_set_by_a_caller():
    trees = {path: _parse(path) for path in CALLERS}
    calls = {}  # callee name -> calls, matched by name only
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute)
                        else None)
                calls.setdefault(name, []).append(node)
    seen, unset = 0, []
    for path in PACKAGE_FILES:
        rel = os.path.relpath(path, ROOT)
        for func, param, position in _defaulted_params(trees[path]):
            seen += 1
            if not any(_sets(c, param, position)
                       for c in calls.get(func, [])):
                unset.append(f"{rel}: {func}({param})")
    assert not unset, (
        f"{len(unset)} defaulted parameters that no call sets:\n"
        + "\n".join(unset))
    # the census found the package's defaults (well over a hundred)
    assert seen >= 100, seen
