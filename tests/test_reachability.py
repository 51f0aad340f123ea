"""Every package module, and every top-level definition in it, is
reached from something that runs: the CLI, bench.py, the scripts, the
pipeline benchmark or the query registry.

Code that only its own tests call is dead weight. The module walk
follows the static import graph (``import``/``from … import``
anywhere in a file, function-local ones included; importing a module
also runs its parent packages' ``__init__``) and fails on any module
it never reaches. The package uses absolute imports only, so the walk
does not resolve relative ones. The definition walk (below) asks the
same of each top-level ``def``, ``class`` and ``NAME =``.
"""

from __future__ import annotations

import ast
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "hls_stac_parquet_spark"

# Deployment seams with no in-repo caller: the reference's production
# store is s3:// with NASA Earthdata credentials, and a deployment wires
# both with one register_s3_scheme(credentials=
# EarthdataCredentialProvider(...).s3_credentials) call (see the
# sources/s3store.py docstring). No scheme is registered by default
# because credentials are a deployment decision.
ALLOWED_UNREACHED = {
    f"{PACKAGE}.sources.s3store",
    f"{PACKAGE}.sources.earthdata",
}


def _module_file(name: str) -> pathlib.Path | None:
    base = REPO.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported_modules(path: pathlib.Path) -> set[str]:
    """Package modules ``path`` imports, with their parent packages."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            # ``from pkg import sub`` may name a submodule
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        if parts[0] != PACKAGE:
            continue
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if _module_file(prefix) is not None:
                out.add(prefix)
    return out


def _package_modules() -> set[str]:
    mods = set()
    for path in (REPO / PACKAGE).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        mods.add(".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    return mods


def _root_scripts() -> list[pathlib.Path]:
    """bench.py, the scripts and the non-test pipeline benchmark."""
    roots = [REPO / "bench.py", *sorted((REPO / "scripts").glob("*.py"))]
    return roots + [
        p for p in sorted((REPO / "perfbench").glob("*.py"))
        if not p.name.startswith("test_")
    ]


def _reached() -> set[str]:
    seen = {f"{PACKAGE}.cli", f"{PACKAGE}.queries"}
    for root in _root_scripts():
        seen |= _imported_modules(root)
    todo = list(seen)
    while todo:
        for mod in _imported_modules(_module_file(todo.pop())) - seen:
            seen.add(mod)
            todo.append(mod)
    return seen


def test_every_package_module_is_reached():
    unreached = _package_modules() - _reached() - ALLOWED_UNREACHED
    assert not unreached, (
        f"package modules nothing but tests import: {sorted(unreached)}"
    )


def test_allowlist_names_real_unreached_modules():
    """An allowlisted module that gains a caller, or is deleted, leaves
    the list."""
    assert ALLOWED_UNREACHED <= _package_modules()
    assert not ALLOWED_UNREACHED & _reached()


# --- top-level definitions ------------------------------------------------
#
# The same question one level down: every top-level ``def``, ``class``
# and ``NAME =`` in the package must be reached by name from something
# that runs. Names match loosely (a ``Name``, an ``Attribute``'s attr,
# an import alias or an identifier-shaped string constant all count,
# whatever module they resolve to), so the walk can only miss dead
# code, never flag live code.

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_DEF_NODES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` references, loosely."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and _IDENT.fullmatch(n.value)):
            out.add(n.value)
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, _DEF_NODES):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _is_query(stmt: ast.stmt) -> bool:
    return isinstance(stmt, _DEF_NODES) and any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
        and d.func.id == "query"
        for d in stmt.decorator_list
    )


def _definitions() -> tuple[dict[str, list], set[str]]:
    """Top-level package definitions by name, and the root names: every
    name in the root scripts, in ``cli``/``session``/``worker_daemon``
    and the deployment seams, and in package module-level statements
    that are neither imports nor definitions; the ``@query`` functions;
    and the seams' public definitions, which a deployment calls.

    A definition is ``(module, path, line, node)``. An import alias
    ``from m import a as b`` defines ``b`` in terms of ``a``, so a
    renamed import passes reachability through.
    """
    defs: dict[str, list] = {}
    roots: set[str] = set()
    root_modules = {
        f"{PACKAGE}.cli", f"{PACKAGE}.session", f"{PACKAGE}.worker_daemon",
        *ALLOWED_UNREACHED,
    }
    for mod in sorted(_package_modules()):
        path = _module_file(mod)
        tree = ast.parse(path.read_text())
        if mod in root_modules:
            roots |= _names(tree)
        for stmt in tree.body:
            names = _defined(stmt)
            if mod in ALLOWED_UNREACHED:
                roots |= {n for n in names if not n.startswith("_")}
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                for a in stmt.names:
                    if a.asname:
                        defs.setdefault(a.asname, []).append(
                            (mod, path, stmt.lineno, a))
            elif not names:
                roots |= _names(stmt)
            elif _is_query(stmt):
                roots |= set(names)
            for name in names:
                defs.setdefault(name, []).append((mod, path, stmt.lineno, stmt))
    for path in _root_scripts():
        roots |= _names(ast.parse(path.read_text()))
    return defs, roots


def _unreached_definitions() -> list[str]:
    defs, roots = _definitions()
    seen = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, _, _, node in defs[name]:
            todo.extend(n for n in _names(node) if n in defs and n not in seen)
    return [
        f"{mod}.{name} ({path.relative_to(REPO)}:{line})"
        for mod, name, path, line in sorted(
            (mod, name, path, line)
            for name, entries in defs.items()
            if name not in seen
            and not (name.startswith("__") and name.endswith("__"))
            for mod, path, line, node in entries
            if not isinstance(node, ast.alias)
        )
    ]


def test_every_top_level_definition_is_reached():
    unreached = _unreached_definitions()
    assert not unreached, (
        "top-level definitions nothing but tests reach:\n  "
        + "\n  ".join(unreached)
    )
