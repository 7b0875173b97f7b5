"""Every module under ocr_spark/ is reached by an import walk from the
entry points (jobs, the driver contract, the benchmarks and scripts),
except a named list of test oracles and support modules. A module that
only its own tests import is dead code and should be deleted, not kept.
Within modules, every top-level function and class is named somewhere
in the repo's Python files besides its own definition.

The checks read source files with ``ast`` and a word scan; they import
nothing."""

from __future__ import annotations

import ast
import glob
import os
import re
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ocr_spark"

ROOT_GLOBS = (
    "jobs/*.py",
    "__spark_entry__.py",
    "bench.py",
    "scripts/*.py",
    "perfbench/*.py",
)

# Reached only by tests, on purpose.
ALLOWED_UNREACHED = {
    "ocr_spark.kernel.normalize",  # pandas spec oracle of the Arrow kernel
    "ocr_spark.kernel.doctags",  # reference DocTags parser, test oracle
    "ocr_spark.fixtures",  # test corpora
    "ocr_spark.plans",  # physical-plan assertions in tests
}


def _package_modules() -> dict[str, str]:
    mods = {}
    for path in glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        mods[".".join(rel)] = path
    return mods


def _imported_names(path: str, module: str | None, is_pkg: bool):
    """Dotted names a file imports: for ``from a import b`` both ``a``
    and ``a.b`` (b may be a submodule). Relative imports resolve
    against ``module``."""
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = (module or "").split(".")
                if not is_pkg:
                    parts = parts[:-1]
                parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join(parts + ([base] if base else []))
            yield base
            for alias in node.names:
                yield f"{base}.{alias.name}"


def _reached(mods: dict[str, str], roots=ROOT_GLOBS) -> set[str]:
    todo = []
    for pattern in roots:
        for path in glob.glob(os.path.join(REPO, pattern)):
            todo.extend(_imported_names(path, None, False))
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        # importing a.b.c runs a/__init__ and a/b/__init__ too
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in mods and mod not in seen:
                seen.add(mod)
                path = mods[mod]
                is_pkg = path.endswith("__init__.py")
                todo.extend(_imported_names(path, mod, is_pkg))
    return seen


def test_every_package_module_is_reached():
    mods = _package_modules()
    unreached = set(mods) - _reached(mods)
    assert unreached - ALLOWED_UNREACHED == set(), (
        "modules no job, contract query, benchmark or script imports "
        f"(delete them, or name them in ALLOWED_UNREACHED): "
        f"{sorted(unreached - ALLOWED_UNREACHED)}"
    )


def test_allowed_unreached_list_is_current():
    mods = _package_modules()
    stale = ALLOWED_UNREACHED - set(mods)
    assert not stale, f"ALLOWED_UNREACHED names missing modules: {sorted(stale)}"
    now_reached = ALLOWED_UNREACHED & _reached(mods)
    assert not now_reached, (
        f"ALLOWED_UNREACHED names reached modules: {sorted(now_reached)}"
    )


def test_every_package_function_is_referenced():
    words: Counter[str] = Counter()
    for path in glob.glob(os.path.join(REPO, "**", "*.py"), recursive=True):
        words.update(re.findall(r"\w+", open(path, encoding="utf-8").read()))
    defs: Counter[str] = Counter()
    for path in _package_modules().values():
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs[node.name] += 1
    unreferenced = sorted(n for n, k in defs.items() if words[n] <= k)
    assert not unreferenced, (
        "top-level functions/classes no *.py file names besides their "
        f"own definition (delete them): {unreferenced}"
    )


def test_no_public_name_is_defined_twice():
    """One implementation per operator: no public top-level function
    or class name is defined in two ``ocr_spark`` modules. Two
    modules defining ``bloom_build`` meant two Bloom filters with
    different layouts and hashes."""
    where: dict[str, list[str]] = {}
    for mod, path in sorted(_package_modules().items()):
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                where.setdefault(node.name, []).append(mod)
    twice = {name: mods for name, mods in where.items() if len(mods) > 1}
    assert not twice, f"public names defined in several modules: {twice}"


def test_extract_job_reaches_only_the_extraction_closure():
    """jobs/extract.py is a thin CLI over the runner, the session and
    the synthesizer: of the operator modules it may reach only the two
    the runner's checksum lineage uses. Input shaping and sidecars
    belong to jobs/curate.py. The package root re-exports nothing, so
    importing any ``ocr_spark`` module does not pull in the validator."""
    reached = _reached(_package_modules(), roots=("jobs/extract.py",))
    operators = {
        m for m in reached if m.startswith(f"{PKG}.functions.")
    } - {f"{PKG}.functions.audit", f"{PKG}.functions.hashing"}
    assert not operators, (
        f"jobs/extract.py reaches operator modules: {sorted(operators)}"
    )
    assert f"{PKG}.pipeline.validate" not in reached


def test_no_file_hardcodes_the_checkout_path():
    """Paths inside the checkout resolve from ``__file__``: a literal
    checkout path makes a suite run from a second clone silently
    check the first clone's code."""
    offenders = sorted(
        os.path.relpath(path, REPO)
        for path in glob.glob(os.path.join(REPO, "**", "*.py"), recursive=True)
        if REPO in open(path, encoding="utf-8").read()
    )
    assert not offenders, f"files naming the checkout path {REPO}: {offenders}"


def test_hadoop_fs_is_named_only_in_the_storage_module():
    """Run bookkeeping has one storage layer: of the package and job
    files only ``pipeline/storage.py`` names ``org.apache.hadoop.fs``."""
    naming = {
        os.path.relpath(path, REPO)
        for pattern in (f"{PKG}/**/*.py", "jobs/*.py")
        for path in glob.glob(os.path.join(REPO, pattern), recursive=True)
        if "org.apache.hadoop.fs" in open(path, encoding="utf-8").read()
    }
    storage = os.path.join(PKG, "pipeline", "storage.py")
    assert naming == {storage}, f"files naming org.apache.hadoop.fs: {sorted(naming)}"


def test_runner_imports_neither_os_nor_shutil():
    """The runner's manifest, lineage and markers go through the
    storage layer, never through local-disk calls."""
    path = os.path.join(REPO, PKG, "pipeline", "runner.py")
    local = sorted(
        name
        for name in _imported_names(path, f"{PKG}.pipeline.runner", False)
        if name.split(".")[0] in ("os", "shutil")
    )
    assert not local, f"pipeline/runner.py imports {local}"


# Calls that ship a Python function to the workers, and the decorators
# that make one a UDF.
_UDF_METHODS = {"mapInArrow", "mapInPandas", "applyInArrow", "applyInPandas"}
_UDF_DECORATORS = {"pandas_udf", "udf"}


def _callee_name(node) -> str | None:
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return None


def _settles_first(fn) -> bool:
    body = fn.body
    if (
        len(body) > 1
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]  # docstring
    first = body[0]
    return (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Call)
        and _callee_name(first.value) == "settle_python_worker"
    )


def test_every_udf_body_settles_the_worker_first():
    """Every function under ocr_spark/ that runs in a Python worker
    (passed to mapInArrow and its kin, or decorated as a UDF) calls
    ``session.settle_python_worker()`` as its first statement; without
    it each task of a reused worker re-reads every zip archive on the
    path and garbage-collects the whole module heap."""
    sites, offenders = set(), []
    for path in sorted(_package_modules().values()):
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        rel = os.path.relpath(path, REPO)
        defs: dict[str, list] = {}
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.setdefault(node.name, []).append(node)
        udfs = []  # a name bound by several defs checks them all
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and any(
                _callee_name(d) in _UDF_DECORATORS for d in node.decorator_list
            ):
                udfs.append(node)
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _UDF_METHODS
            ):
                arg = node.args[0] if node.args else None
                if not isinstance(arg, ast.Name) or arg.id not in defs:
                    offenders.append(f"{rel}:{node.lineno} (not a named def)")
                    continue
                udfs.extend(defs[arg.id])
        for fn in udfs:
            site = f"{rel}:{fn.lineno} {fn.name}"
            if site not in sites:
                sites.add(site)
                if not _settles_first(fn):
                    offenders.append(site)
    assert sites, "no UDF found: the scan is broken"
    assert not offenders, (
        "UDF bodies that do not call settle_python_worker() first: "
        f"{offenders}"
    )
