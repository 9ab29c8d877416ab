"""Static guards, parsed with :mod:`ast`; no script is executed and no
Spark session starts.

* The scripts outside the test suite (``tools/*.py`` and
  ``__spark_entry__.py``): no test runs them, so a deleted module,
  function or query would otherwise only surface when someone next
  launches the script.
* The stored-index log lifecycle keeps one owner, ``ext/artifact.py``.
* Persisted tables have one parquet writer, ``sinks/writers.py``.
* Every top-level package def is reached from a judged surface, and
  every allowlist entry is needed.
"""

from __future__ import annotations

import ast
import functools
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
#: the step order cannot fork again per family, and no family writes a
#: batch dir itself and skips its log's layout (``RowLog.cluster_by``).
LIFECYCLE_STEPS = {
    "write_batch_partition",
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


#: Package defs no registered query, benchmark op or entry point reaches,
#: each kept for the reason given.
UNREACHED_OK = {
    "api.Warehouse": "user entry point documented in README",
    "session.get_spark": "user entry point documented in README",
    "sources.validate": "input checks are safety code kept for callers",
    "sources.rest_transport": "the real Salesforce client the reference job calls",
    "pipelines.philly311.publish_enterprise": "silver tier of the reference job",
    "pipelines.philly311.viewer_merge": "gold tier of the reference job",
    "plans.registry.DRIVER_SAMPLE": "oracle-sample size tests/test_entry.py checks the head against",
    "plans.curation3.bm25_scored_frame": "query-local BM25 reference for the stored index's serve",
    "ext.ann_store.load_ann_index": "reads a stored IVF-PQ index back for the store tests",
    "ext.similarity.brute_force_topk": "exact top-k reference (tools/recall_probe.py, tests/test_ext.py)",
    "ext.cache.cache_scope": "releases the operators' persisted intermediates (README)",
    # library operators with no registry query, kept with the tests that
    # pin them; a query that needs one makes its entry redundant
    "ext.codecs": "stdlib PNG/WAV codecs under the multimodal decode operators",
    "ext.multimodal.decode_image_features": "image decode operator (tests/test_codecs.py)",
    "ext.multimodal.audio_pcm_window_features": "WAV window operator (tests/test_codecs.py)",
    "ext.multimodal.resize_png": "PNG resize operator (tests/test_codecs.py)",
    "ext.multimodal.frame_sample": "byte-window frame sampler (tests/test_ext.py)",
    "ext.similarity.embedding_near_dup_pairs": "embedding near-dup pairs (tests/test_cross_cap.py)",
    "ext.similarity.semantic_dedup_keep": "SemDeDup keeper (tests/test_ext.py, tests/test_properties.py)",
    "functions.geo.esri_polygon_geometry_json": "AGO polygon layer encoding (tests/test_functions_misc.py)",
    "functions.geo.esri_polyline_geometry_json": "AGO polyline layer encoding (tests/test_functions_misc.py)",
    "functions.geo.esri_multipoint_geometry_json": "AGO multipoint layer encoding (tests/test_geo.py)",
    "functions.geo.reproject_identity": "refuses unsupported CRS pairs (tests/test_functions_misc.py)",
    "functions.timeparse.to_local_string_with_offset": "offset-stamped local time (tests/test_functions_misc.py)",
}


def _package_modules():
    root = os.path.join(REPO, PACKAGE)
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, root)[: -len(".py")].replace(os.sep, ".")
        yield rel.removesuffix(".__init__"), _tree(path)


def _names(node):
    """Every identifier ``node`` reads or binds (not string literals)."""
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            yield sub.id
        elif isinstance(sub, ast.Attribute):
            yield sub.attr
        elif isinstance(sub, ast.alias):
            yield sub.name.rsplit(".", 1)[-1]


def _defined(stmt):
    """Names a top-level statement defines, or ``()`` for module code."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return (stmt.name,)
    targets = stmt.targets if isinstance(stmt, ast.Assign) else (
        [stmt.target] if isinstance(stmt, ast.AnnAssign) else []
    )
    names = tuple(t.id for t in targets if isinstance(t, ast.Name))
    return tuple(n for n in names if not (n.startswith("__") and n.endswith("__")))


def _registered(stmt):
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
        for d in getattr(stmt, "decorator_list", ())
    )


def _covers(key, qual):
    return qual == key or qual.startswith(key + ".")


def _private(name):
    return name.startswith("_") and not name.endswith("__")


def _private_imports(tree):
    """``{name: module}`` for every ``from pipeline311_spark.x import
    _name`` in a module, at any depth."""
    return {
        alias.name: node.module.removeprefix(PACKAGE + ".")
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE + ".")
        for alias in node.names
        if _private(alias.name)
    }


@functools.cache
def _def_index():
    """The scan's inputs, parsed once: ``defs`` maps each top-level
    name to its ``(module, qualified name, names it references,
    registered)``, ``imports`` each module to its private imports, and
    ``roots`` are the references of module-level code,
    ``perfbench/*.py`` and ``__spark_entry__.py``."""
    defs, imports, roots = {}, {}, []
    for mod, tree in _package_modules():
        imports[mod] = _private_imports(tree)
        for stmt in tree.body:
            names = _defined(stmt)
            if not names:
                if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    roots += [(mod, n) for n in _names(stmt)]
                continue
            refs = frozenset(_names(stmt))
            for n in names:
                defs.setdefault(n, []).append((mod, f"{mod}.{n}", refs, _registered(stmt)))
    for path in glob.glob(os.path.join(REPO, "perfbench", "*.py")) + [
        os.path.join(REPO, "__spark_entry__.py")
    ]:
        roots += [(None, n) for n in _names(_tree(path))]
    return defs, imports, roots


def unreached_defs(allow=UNREACHED_OK):
    """``module.name`` of every top-level package def outside the fixpoint
    of name references from the roots: the registered queries, the
    module-level code, every name ``perfbench/*.py`` and
    ``__spark_entry__.py`` use, and the defs ``allow`` names.

    A public name reaches every def of that name in the package; an
    underscore name only the def in the referring module or the one it
    imports it from.  Imports alone reach nothing (a re-export in an
    ``__init__`` is not a use); tests and tools are not roots."""
    defs, imports, roots = _def_index()
    todo, reached = list(roots), set()
    for ds in defs.values():
        for mod, qual, refs, registered in ds:
            if registered or any(_covers(k, qual) for k in allow):
                todo += [(mod, r) for r in refs]
                reached.add(qual)
    seen = set()
    while todo:
        ref = todo.pop()
        if ref in seen:
            continue
        seen.add(ref)
        src, name = ref
        for mod, qual, refs, _ in defs.get(name, ()):
            if src is not None and _private(name) and mod not in (
                src, imports[src].get(name)
            ):
                continue
            if qual not in reached:
                reached.add(qual)
                todo += [(mod, r) for r in refs]
    return sorted(q for ds in defs.values() for _, q, _, _ in ds if q not in reached)


def test_every_package_def_is_reached():
    """A def that no judged query, benchmark op or entry point reaches is
    dead weight: delete it with the query that last called it.  An
    allowlist entry whose defs are reached without it keeps nothing
    alive: drop it."""
    quals = {q for ds in _def_index()[0].values() for _, q, _, _ in ds}
    stale = sorted(k for k in UNREACHED_OK if not any(_covers(k, q) for q in quals))
    assert not stale, f"allowlist entries naming no package def: {stale}"
    dead = unreached_defs()
    assert not dead, dead
    redundant = sorted(
        k
        for k in UNREACHED_OK
        if not any(
            _covers(k, q)
            for q in unreached_defs({o: r for o, r in UNREACHED_OK.items() if o != k})
        )
    )
    assert not redundant, f"allowlist entries whose defs are reached without them: {redundant}"
