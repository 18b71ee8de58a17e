"""Package layout: every module under `datamart_spark/` is imported,
and every top-level name in it is used, directly or transitively, by
the engine (`index/`, `query/`, `suite/`) or by a script that runs it.
A module or a name only tests use is dead weight, and a package
`__init__` that re-exports would hide one.
The walks read source with `ast`; nothing is imported and no Spark job
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
    for sub in ("", ".ingest")
}

# Top-level names only tests use that stay on purpose, with the reason.
# Each seeds the name walk like a root.
TEST_ONLY_OK = {
    f"{PKG}.query.bm25_oracle.Bm25Oracle":
        "independent BM25 reference the rank-identity tests compare against",
    f"{PKG}.corpus.generate_documents_pandas":
        "fixture: the synthetic corpus as pandas, the oracle's input",
    f"{PKG}.index.build.extract_text":
        "html_strip front for the corpus's html:binary column",
    **{
        f"{PKG}.index.varbyte.{n}":
            "round-trip inverse the posting decoder tests encode with"
        for n in ("vb_encode", "delta_encode", "encode_postings", "decode_postings")
    },
    f"{PKG}.profiler.gazetteer.resolve":
        "name lookup the gazetteer data tests read",
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


def _base(node: ast.ImportFrom, package: str) -> str:
    """The absolute module a `from ... import` reads from."""
    base = node.module or ""
    if node.level:
        parts = package.split(".")
        parts = parts[: len(parts) - node.level + 1]
        base = ".".join(parts + ([base] if base else []))
    return base


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
            base = _base(node, package)
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


def _bindings(node, package: str) -> dict[str, tuple]:
    """Names an import statement binds: ("mod", module) for `import`,
    ("from", module, name) for `from module import name`."""
    if isinstance(node, ast.Import):
        return {
            a.asname or a.name.split(".")[0]:
                ("mod", a.name if a.asname else a.name.split(".")[0])
            for a in node.names
        }
    base = _base(node, package)
    return {a.asname or a.name: ("from", base, a.name) for a in node.names}


class _Source:
    """One file split into its top-level definitions (name -> the nodes
    that define it), its module-level import bindings and the rest of
    its top-level code, which runs at import."""

    def __init__(self, path: str, name: str, is_pkg: bool):
        with open(path, encoding="utf-8") as f:
            self.tree = ast.parse(f.read(), path)
        self.name = name
        self.package = name if is_pkg else name.rpartition(".")[0]
        self.defs: dict[str, list[ast.AST]] = {}
        self.imports: dict[str, tuple] = {}
        self.top: list[ast.AST] = []
        for stmt in self.tree.body:
            targets = _assigned_names(stmt)
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs.setdefault(stmt.name, []).append(stmt)
                self.top.extend(stmt.decorator_list)
            elif targets:
                for t in targets:
                    self.defs.setdefault(t, []).extend(
                        [stmt.value] if stmt.value is not None else []
                    )
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                self.imports.update(_bindings(stmt, self.package))
            else:
                self.top.append(stmt)


def _assigned_names(stmt) -> list[str]:
    """Targets of a top-level assignment that binds plain names only."""
    if isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    elif isinstance(stmt, ast.Assign):
        targets = stmt.targets
    else:
        return []
    names = []
    for t in targets:
        for e in t.elts if isinstance(t, ast.Tuple) else [t]:
            if not isinstance(e, ast.Name):
                return []
            names.append(e.id)
    return names


def _lookup(sources: dict, module: str, attr: str):
    """What `module.attr` is: ("mod", module), ("def", module, name) or
    None outside the package. An import binding is followed to the
    definition, so a re-export resolves to the module that defines it."""
    src = sources.get(module)
    if src is None:
        return None
    if attr in src.defs:
        return ("def", module, attr)
    if attr in src.imports:
        return _follow(sources, src.imports[attr])
    if f"{module}.{attr}" in sources:
        return ("mod", f"{module}.{attr}")
    return None


def _follow(sources: dict, binding: tuple):
    if binding[0] == "mod":
        return binding if binding[1] in sources else None
    return _lookup(sources, binding[1], binding[2])


def _refs(sources: dict, src: _Source, nodes: list) -> set[tuple[str, str]]:
    """Package definitions that `nodes` reference, by bare name or by
    `module.name`; imports inside `nodes` shadow the module's own."""
    local: dict[str, tuple] = {}
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, (ast.Import, ast.ImportFrom)):
                local.update(_bindings(sub, src.package))

    def resolve(e):
        if isinstance(e, ast.Name):
            if e.id in local:
                return _follow(sources, local[e.id])
            if e.id in src.defs:
                return ("def", src.name, e.id)
            if e.id in src.imports:
                return _follow(sources, src.imports[e.id])
        elif isinstance(e, ast.Attribute):
            t = resolve(e.value)
            if t is not None and t[0] == "mod":
                return _lookup(sources, t[1], e.attr)
        return None

    out = set()
    for node in nodes:
        for sub in ast.walk(node):
            t = resolve(sub)
            if t is not None and t[0] == "def" and t[1] in sources:
                out.add(t[1:])
    return out


def _name_graph():
    """(every keyed definition, the roots, key -> definitions its body
    references)."""
    sources = {
        name: _Source(path, name, path.endswith("__init__.py"))
        for name, path in _package_modules().items()
    }
    keys = {
        (m, n) for m, src in sources.items() if m not in UNREACHED_OK
        for n in src.defs if not (n.startswith("__") and n.endswith("__"))
    }
    roots = set()
    for script in ROOT_SCRIPTS:
        src = _Source(os.path.join(REPO, script), "__main__", False)
        roots |= _refs(sources, src, [src.tree])
    for m, src in sources.items():
        if m in UNREACHED_OK:  # a kept module reaches what it uses
            roots |= _refs(sources, src, [src.tree])
            continue
        roots |= _refs(sources, src, src.top)
        # a decorator defined in the package registers what it wraps
        for n, nodes in src.defs.items():
            for node in nodes:
                for dec in getattr(node, "decorator_list", []):
                    callee = dec.func if isinstance(dec, ast.Call) else dec
                    if _refs(sources, src, [callee]):
                        roots.add((m, n))
    edges = {
        (m, n): _refs(sources, sources[m], sources[m].defs[n]) for m, n in keys
    }
    return keys, roots, edges


def _closure(start: set, edges: dict) -> set:
    reached, todo = set(start), list(start)
    while todo:
        for ref in edges.get(todo.pop(), set()) - reached:
            reached.add(ref)
            todo.append(ref)
    return reached


def test_every_name_is_reached():
    keys, roots, edges = _name_graph()
    reached = _closure(roots, edges)
    qualified = {f"{m}.{n}": (m, n) for m, n in keys}
    # an exemption for a name that is gone or reached without it is stale
    stale = sorted(q for q in TEST_ONLY_OK if qualified.get(q) not in keys - reached)
    assert not stale, f"stale TEST_ONLY_OK entries: {stale}"
    assert all(TEST_ONLY_OK.values()), "every TEST_ONLY_OK entry needs a reason"
    reached = _closure(reached | {qualified[q] for q in TEST_ONLY_OK}, edges)
    unreached = sorted(f"{m}.{n}" for m, n in keys - reached)
    assert not unreached, f"names no engine path or script uses: {unreached}"
