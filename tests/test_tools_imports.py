"""Static guards, parsed with :mod:`ast`; no script is executed and no
Spark session starts.

* The scripts outside the test suite (``tools/*.py`` and
  ``__spark_entry__.py``): no test runs them, so a deleted module,
  function or query would otherwise only surface when someone next
  launches the script.
* The stored-index log lifecycle keeps one owner, ``ext/artifact.py``.
* Persisted tables have one parquet writer, ``sinks/writers.py``.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py"))) + [
    os.path.join(REPO, "__spark_entry__.py")
]
PACKAGE = "pipeline311_spark"


def _tree(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _imports(tree):
    """``(module, name-or-None)`` for every absolute import, at any depth
    (the tools import lazily inside functions)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name, None
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            for alias in node.names:
                yield node.module, alias.name


def _resolves(module, name):
    """``module`` imports and, for ``from module import name``, ``name``
    is an attribute or a submodule of it."""
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    return hasattr(mod, "__path__") and (
        importlib.util.find_spec(f"{module}.{name}") is not None
    )


def _broken_imports(path):
    here = os.path.dirname(path)
    broken = []
    for module, name in _imports(_tree(path)):
        top = module.split(".")[0]
        if top == PACKAGE:
            ok = _resolves(module, name)
        else:
            # a script's own directory is first on sys.path when it runs,
            # so sibling scripts import by bare name
            ok = os.path.isfile(os.path.join(here, top + ".py")) or (
                importlib.util.find_spec(top) is not None
            )
        if not ok:
            broken.append(f"{module}.{name}" if name else module)
    return broken


def _registry_literals(tree):
    """String keys of every ``REGISTRY["..."]`` / ``plans.REGISTRY["..."]``."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Subscript):
            continue
        target = node.value
        named = (isinstance(target, ast.Name) and target.id == "REGISTRY") or (
            isinstance(target, ast.Attribute) and target.attr == "REGISTRY"
        )
        key = node.slice
        if named and isinstance(key, ast.Constant) and isinstance(key.value, str):
            yield key.value


def test_script_imports_resolve():
    broken = sorted(
        f"{os.path.relpath(path, REPO)}: {target}"
        for path in SCRIPTS
        for target in _broken_imports(path)
    )
    assert not broken, broken


def test_script_registry_keys_are_registered():
    from pipeline311_spark.plans import REGISTRY

    stale = sorted(
        f"{os.path.relpath(path, REPO)}: {key}"
        for path in SCRIPTS
        for key in _registry_literals(_tree(path))
        if key not in REGISTRY
    )
    assert not stale, stale


#: The log-lifecycle steps only ``ext/artifact.py`` may call: the
#: families go through its append guard, delete, load and compactor, so
#: the step order cannot fork again per family.
LIFECYCLE_STEPS = {
    "skip_if_replayed",
    "record_folded_batches",
    "compact_tombstones",
    "compact_swap",
    "assert_quiesced",
}


def _identifiers(tree):
    """Every name a module binds, reads or imports, at any depth."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.name
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]
            if node.asname:
                yield node.asname


def test_log_lifecycle_has_one_owner():
    owner = os.path.join(REPO, PACKAGE, "ext", "artifact.py")
    forked = sorted(
        f"{os.path.relpath(path, REPO)}: {name}"
        for path in glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True)
        if os.path.abspath(path) != owner
        for name in set(_identifiers(_tree(path))) & LIFECYCLE_STEPS
    )
    assert not forked, forked


def _dataframe_write_reads(tree):
    """Line numbers where a module reads a ``.write`` attribute without
    calling it: ``df.write`` is a property, while a file's or a
    stream's ``write`` is a method call (``f.write(text)``)."""
    called = {
        id(node.func)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "write" and id(node) not in called:
            yield node.lineno


def test_persisted_tables_have_one_writer():
    """Every persisted-table write goes through ``sinks/writers.py``
    (one codec, one overwrite contract); the query plans under
    ``plans/`` write their own temporary outputs."""
    root = os.path.join(REPO, PACKAGE)
    exempt_file = os.path.join(root, "sinks", "writers.py")
    exempt_dir = os.path.join(root, "plans") + os.sep
    stray = sorted(
        f"{os.path.relpath(path, REPO)}:{line}"
        for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True)
        if os.path.abspath(path) != exempt_file
        and not os.path.abspath(path).startswith(exempt_dir)
        for line in _dataframe_write_reads(_tree(path))
    )
    assert not stray, stray
