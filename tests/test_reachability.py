"""Every package module is reached from something that runs: the CLI,
bench.py, the scripts, the pipeline benchmark or the query registry.

Modules that only their own tests import are dead weight; this walks
the static import graph (``import``/``from … import`` anywhere in a
file, function-local ones included; importing a module also runs its
parent packages' ``__init__``) and fails on any module it never
reaches. The package uses absolute imports only, so the walk does
not resolve relative ones.
"""

from __future__ import annotations

import ast
import pathlib

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


def _reached() -> set[str]:
    roots = [REPO / "bench.py", *sorted((REPO / "scripts").glob("*.py"))]
    roots += [
        p for p in sorted((REPO / "perfbench").glob("*.py"))
        if not p.name.startswith("test_")
    ]
    seen = {f"{PACKAGE}.cli", f"{PACKAGE}.queries"}
    for root in roots:
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
