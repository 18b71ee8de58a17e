"""Package layout: every module under `datamart_spark/` is imported,
directly or transitively, by the engine (`index/`, `query/`, `suite/`)
or by a script that runs it. A module only tests import is dead weight,
and a package `__init__` that re-exports would hide one.
The walk reads source with `ast`; nothing is imported and no Spark job
runs."""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "datamart_spark"

ROOT_SCRIPTS = [
    "bench.py",
    "bench_extra.py",
    "__spark_entry__.py",
    "tools/check_oracle.py",
    *sorted(
        os.path.relpath(p, REPO)
        for p in glob.glob(os.path.join(REPO, "perfbench", "*.py"))
    ),
]
ROOT_PACKAGES = ["index", "query", "suite"]

# Modules no root reaches that stay on purpose, with the reason.
UNREACHED_OK = {
    f"{PKG}.streaming{sub}": "incremental ingest in front of build_index(resume=True)"
    for sub in ("", ".ingest", ".state")
}


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file path, for every .py in the package."""
    out = {}
    for path in glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        out[".".join(rel)] = path
    return out


def _imports(path: str, name: str, is_pkg: bool) -> set[str]:
    """Every dotted name an import statement in `path` could load:
    `from a import b` yields both `a` and `a.b`."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    package = name if is_pkg else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                parts = parts[: len(parts) - node.level + 1]
                base = ".".join(parts + ([base] if base else []))
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
    return found


def _reached(modules: dict[str, str]) -> set[str]:
    seen = {
        n for n in modules
        if any(f"{n}.".startswith(f"{PKG}.{p}.") for p in ROOT_PACKAGES)
    }
    todo = [
        (os.path.join(REPO, s), "__main__", False) for s in ROOT_SCRIPTS
    ] + [(modules[n], n, modules[n].endswith("__init__.py")) for n in seen]
    while todo:
        path, name, is_pkg = todo.pop()
        for imp in _imports(path, name, is_pkg):
            # importing a.b.c also runs a/__init__ and a/b/__init__
            parts = imp.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in seen:
                    seen.add(mod)
                    p = modules[mod]
                    todo.append((p, mod, p.endswith("__init__.py")))
    return seen


def test_every_module_is_reached():
    modules = _package_modules()
    reached = _reached(modules)
    unreached = sorted(set(modules) - reached - set(UNREACHED_OK))
    assert not unreached, f"modules no engine path or script imports: {unreached}"
    # an exemption for a module that is gone or now reached is stale
    assert set(UNREACHED_OK) <= set(modules) - reached


def test_no_reexports_outside_public_packages():
    """A package `__init__` that imports its modules reaches them for
    every importer of a sibling, so a test-only module would look used.
    Only the package root, the engine packages and the listed
    exceptions may re-export."""
    public = {PKG, *(f"{PKG}.{p}" for p in ROOT_PACKAGES), *UNREACHED_OK}
    reexporting = sorted(
        name for name, path in _package_modules().items()
        if path.endswith("__init__.py") and name not in public
        and _imports(path, name, True)
    )
    assert not reexporting, f"package __init__ files that import: {reexporting}"
