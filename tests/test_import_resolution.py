"""Every ``neleval_spark`` import in the repository names a module and
a name that exist.

The CLI, the ``__spark_entry__`` queries and many tests import
lazily inside functions, so an import left behind by a deleted module
fails only when that one function runs.  This scan reads the source
(no import, no Spark): it walks every import statement, relative ones
inside the package included, and resolves it against the package's
files and their module-level bindings."""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "neleval_spark"


def _sources():
    files = glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
    for d in ("scripts", "tests"):
        files += glob.glob(os.path.join(REPO, d, "**", "*.py"),
                           recursive=True)
    files += glob.glob(os.path.join(REPO, "__spark_entry__.py"))
    files += glob.glob(os.path.join(REPO, "bench*.py"))
    return sorted(files)


def _module_path(mod: str):
    base = os.path.join(REPO, *mod.split("."))
    for p in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(p):
            return p
    return None


def _bound_names(path: str) -> set:
    """Names bound at module level, through if/try/with blocks but not
    inside functions or classes."""
    names = set()
    todo = list(ast.parse(open(path).read()).body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0]
                         for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            names.update(n.id for t in targets for n in ast.walk(t)
                         if isinstance(n, ast.Name))
        else:
            for field in ("body", "orelse", "finalbody", "handlers"):
                todo.extend(getattr(node, field, None) or [])
    return names


def _package_of(path: str) -> str:
    rel = os.path.relpath(path, REPO)[:-len(".py")].split(os.sep)
    return ".".join(rel[:-1])


def _dangling(path: str) -> list:
    bad = []
    rel = os.path.relpath(path, REPO)
    in_pkg = rel.startswith(PKG + os.sep)
    for node in ast.walk(ast.parse(open(path).read())):
        where = f"{rel}:{getattr(node, 'lineno', 0)}"
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG and not _module_path(a.name):
                    bad.append(f"{where} import {a.name}")
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                if not in_pkg:
                    continue
                parts = _package_of(path).split(".")
                parts = parts[:len(parts) - node.level + 1]
                mod = ".".join(parts + ([node.module] if node.module
                                        else []))
            else:
                mod = node.module or ""
            if mod.split(".")[0] != PKG:
                continue
            mpath = _module_path(mod)
            if mpath is None:
                bad.append(f"{where} from {mod}")
                continue
            bound = _bound_names(mpath)
            for a in node.names:
                if a.name == "*" or a.name in bound:
                    continue
                if not _module_path(f"{mod}.{a.name}"):
                    bad.append(f"{where} from {mod} import {a.name}")
    return bad


def test_every_package_import_resolves():
    files = _sources()
    assert len(files) > 100
    bad = [b for f in files for b in _dangling(f)]
    assert not bad, bad
