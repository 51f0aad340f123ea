"""Every package module, and every top-level definition in it, is
reached from something that runs: the CLI, bench.py, the scripts, the
pipeline benchmark or the query registry.

Code that only its own tests call is dead weight. The module walk
follows the static import graph (``import``/``from … import``
anywhere in a file, function-local ones included; importing a module
also runs its parent packages' ``__init__``) and fails on any module
it never reaches. The package uses absolute imports only, so the walk
does not resolve relative ones. The definition walk (below) asks the
same of each top-level ``def``, ``class`` and ``NAME =``. The parameter
walk (last) asks it of each defaulted parameter of a top-level
``def``: some call outside the tests must set it, or it is a constant
spelled as an option. A test that needs another value moves a module
constant instead, and such a constant only reaches code that reads it
on the driver.
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


# --- defaulted parameters -------------------------------------------------
#
# One level further down: a defaulted parameter of a top-level package
# ``def`` that no caller sets is a constant spelled as an option. A call
# matches by the name it calls (a ``Name`` or an ``Attribute``'s attr,
# whatever it resolves to, plus ``functools.partial(f, ...)``), and it
# sets a parameter by keyword, by position, or through ``*``/``**``.
# Calls in the package and in the root scripts count; tests do not, so
# a test that needs another value moves a module constant instead.

# Fake-substitution seams a test must set (a real clock, sleep or
# /proc read would make the test slow or machine-dependent), and
# deployment settings no in-repo caller has reason to set.
ALLOWED_UNSET_PARAMS = {
    f"{PACKAGE}.sources.retry.request_with_retries(sleep)":
        "tests substitute a recording sleep for time.sleep",
    f"{PACKAGE}.sources.retry.request_with_retries(jitter)":
        "tests substitute a fixed jitter for random.uniform",
    f"{PACKAGE}.sources.retry.parse_retry_after(now)":
        "tests pin the clock an HTTP-date Retry-After is read against",
    f"{PACKAGE}.session.default_driver_memory(meminfo)":
        "tests pass a fake /proc/meminfo",
    f"{PACKAGE}.cli.main(argv)":
        "the console script reads sys.argv; tests pass argv",
    f"{PACKAGE}.sources.stac_fetch.fetch_stac_items(credential_provider)":
        "a deployment passes its Earthdata credentials",
    f"{PACKAGE}.operators.diff.snapshot_diff(check_unique)":
        "an opt-in check costing two aggregate jobs; q_snapshot_diff's "
        "keys are unique by construction, tests check the raise",
    f"{PACKAGE}.operators.codecs.encode_jpeg(subsampling)":
        "the 4:2:0 encode makes the chroma-subsampled JPEGs (the usual "
        "camera/web form) that the decoder's upsampling tests decode",
}


def _call_name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls() -> dict[str, list[tuple[list, list]]]:
    """``name -> [(args, keywords)]`` over every call in the package and
    the root scripts."""
    files = [_module_file(m) for m in sorted(_package_modules())]
    files += [*_root_scripts(), REPO / "__spark_entry__.py"]
    out: dict[str, list[tuple[list, list]]] = {}
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name, args = _call_name(node.func), node.args
            if name == "partial" and args:
                name, args = _call_name(args[0]), args[1:]
            if name is not None:
                out.setdefault(name, []).append((args, node.keywords))
    return out


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """``(position or None, name)`` of each defaulted parameter."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    out = [(i, p.arg) for i, p in enumerate(positional) if i >= first]
    out += [
        (None, p.arg)
        for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]
    return out


def _sets(call: tuple[list, list], pos: int | None, name: str) -> bool:
    args, keywords = call
    if any(k.arg is None or k.arg == name for k in keywords):
        return True
    if pos is None:
        return False
    return any(isinstance(x, ast.Starred) for x in args) or pos < len(args)


def _unset_parameters() -> list[str]:
    calls = _calls()
    out = []
    for mod in sorted(_package_modules() - ALLOWED_UNREACHED):
        path = _module_file(mod)
        for stmt in ast.parse(path.read_text()).body:
            if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            sites = calls.get(stmt.name, [])
            for pos, name in _defaulted(stmt):
                if not any(_sets(c, pos, name) for c in sites):
                    out.append(
                        f"{mod}.{stmt.name}({name}) "
                        f"({path.relative_to(REPO)}:{stmt.lineno})"
                    )
    return out


def _key(entry: str) -> str:
    return entry.split(" (")[0]


def test_every_defaulted_parameter_is_set_by_a_caller():
    unset = [
        e for e in _unset_parameters() if _key(e) not in ALLOWED_UNSET_PARAMS
    ]
    assert not unset, (
        f"{len(unset)} defaulted parameters only tests set:\n  "
        + "\n  ".join(unset)
    )


def test_param_allowlist_names_real_unset_parameters():
    """An allowlisted parameter that gains a caller, or is deleted,
    leaves the list."""
    unset = {_key(e) for e in _unset_parameters()}
    assert set(ALLOWED_UNSET_PARAMS) <= unset, sorted(
        set(ALLOWED_UNSET_PARAMS) - unset)
