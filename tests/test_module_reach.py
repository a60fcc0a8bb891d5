"""Every engine module is reached from an entry point.

The entry points are the package itself, the Spark entry queries, the
bench harnesses, the repository benchmark and the scripts. A module
that none of them imports, directly or through other engine modules,
is exercised only by its own tests; it should be deleted, or wired into
an entry point that uses it. Imports are read with ``ast``, including
lazy imports inside functions.
"""
import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "searcharray_spark"


def _roots():
    """Entry-point files outside the package (the package's own
    ``__init__`` is the walk's first module)."""
    names = ["__spark_entry__.py", "bench.py", "bench_extra.py"]
    roots = [os.path.join(REPO, n) for n in names]
    for pattern in ("perfbench/*.py", "scripts/*.py"):
        roots += sorted(glob.glob(os.path.join(REPO, pattern)))
    return [r for r in roots if os.path.exists(r)]


def _engine_modules():
    return {os.path.splitext(os.path.basename(p))[0]
            for p in glob.glob(os.path.join(REPO, PKG, "*.py"))}


def _imported_modules(path, modules):
    """Engine modules (by name) that the file at ``path`` imports."""
    in_pkg = os.path.dirname(path) == os.path.join(REPO, PKG)
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                parts = alias.name.split(".")
                if parts[0] == PKG:
                    out.add(parts[1] if len(parts) > 1 else "__init__")
        elif isinstance(node, ast.ImportFrom):
            if node.level:  # relative: only meaningful inside the package
                if not in_pkg or node.level > 1:
                    continue
                parts = [PKG] + (node.module.split(".") if node.module else [])
            elif node.module and node.module.split(".")[0] == PKG:
                parts = node.module.split(".")
            else:
                continue
            out.add("__init__")
            if len(parts) > 1:
                out.add(parts[1])
            else:  # from searcharray_spark import <module or name>
                out.update(a.name for a in node.names if a.name in modules)
    return out & modules


def test_every_engine_module_is_reached_from_an_entry_point():
    modules = _engine_modules()
    todo = ["__init__"]
    for root in _roots():
        todo += _imported_modules(root, modules)
    reached = set()
    while todo:
        mod = todo.pop()
        if mod in reached:
            continue
        reached.add(mod)
        todo += _imported_modules(os.path.join(REPO, PKG, f"{mod}.py"),
                                  modules)
    assert sorted(modules - reached) == []
