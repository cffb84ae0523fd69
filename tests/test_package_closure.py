"""Every module and every public top-level definition in the package
must be reachable from the validation path. Code nothing reaches is
deleted, not kept. (Library code that only perfbench's traced sweep
still calls stays reached through perfbench; once the sweep stops
calling it, this test fails until it is deleted.)

Roots: ``run_validation``, ``read_verdicts`` and ``read_violations``,
plus every module of perfbench/ and examples/ (for modules, also
session and sources.{io,synth}, which perfbench drives). Tests are not
roots.

Module reachability is static: the AST imports of each reached module,
function-level imports included, followed transitively. Importing a
submodule also imports its parent packages.

Definition reachability matches names over the AST: a reached
definition reaches every definition whose name it mentions (as a name,
an attribute or an imported name), in any package module. A name two
definitions share reaches both, so an unreached definition can slip
through; a reached one never fails."""

from __future__ import annotations

import ast
import importlib.util
from pathlib import Path

PKG = "schema_drift_detector_spark"
ROOT = Path(__file__).resolve().parents[1] / PKG
ENTRY_POINTS = ("plans.run", "session", "sources.io", "sources.synth")
ROOT_DEFINITIONS = ("run_validation", "read_verdicts", "read_violations")
SCRIPT_DIRS = (ROOT.parent / "perfbench", ROOT.parent / "examples")


def _module_file(name: str) -> Path | None:
    p = ROOT.joinpath(*name.split(".")[1:])
    if (p / "__init__.py").is_file():
        return p / "__init__.py"
    if p.with_suffix(".py").is_file():
        return p.with_suffix(".py")
    return None


def _imported_modules(name: str) -> set[str]:
    path = _module_file(name)
    package = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
    return _package_imports(path, package)


def _package_imports(path: Path, package: list[str]) -> set[str]:
    """Package modules named by any import statement in the file at
    ``path`` (a module of ``package``); for ``from m import x`` both
    ``m`` and ``m.x`` are candidates, since ``x`` may be a submodule."""
    named: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            named.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[: len(package) - node.level + 1]
                module = ".".join(base + ([node.module] if node.module else []))
            else:
                module = node.module or ""
            named.add(module)
            named.update(f"{module}.{a.name}" for a in node.names)
    return {m for m in named if m.split(".")[0] == PKG and _module_file(m)}


def _reached_files() -> set[Path]:
    seen: set[str] = set()
    stack = [f"{PKG}.{m}" for m in ENTRY_POINTS]
    for d in SCRIPT_DIRS:
        for path in d.glob("*.py"):
            stack.extend(_package_imports(path, [d.name]))
    while stack:
        name = stack.pop()
        if name in seen:
            continue
        seen.add(name)
        parts = name.split(".")
        stack.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        stack.extend(_imported_modules(name))
    return {_module_file(m) for m in seen}


def test_every_package_module_is_reached_from_the_validation_path():
    unreached = sorted(
        str(p.relative_to(ROOT)) for p in set(ROOT.rglob("*.py")) - _reached_files()
    )
    assert unreached == [], f"{len(unreached)} modules unreached: {unreached}"


def _mentioned(node: ast.AST) -> set[str]:
    """Names a node mentions: identifiers, attributes and imported
    names (the original name of an ``import ... as`` alias too)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update(a.name.split(".")[-1] for a in n.names)
    return out


def _defined_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = node.targets if isinstance(node, ast.Assign) else [getattr(node, "target", None)]
    return [t.id for t in targets if isinstance(t, ast.Name)]


def _definitions() -> tuple[dict[str, list[tuple[str, ast.stmt]]], dict[str, dict[str, str]]]:
    """Top-level definitions of the package, ``name -> [(module, node)]``,
    and each module's ``import ... as`` aliases, ``alias -> name``."""
    defs: dict[str, list[tuple[str, ast.stmt]]] = {}
    aliases: dict[str, dict[str, str]] = {}
    for path in sorted(ROOT.rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        tree = ast.parse(path.read_text(), str(path))
        aliases[rel] = {
            a.asname: a.name.split(".")[-1]
            for n in ast.walk(tree)
            if isinstance(n, (ast.Import, ast.ImportFrom))
            for a in n.names
            if a.asname
        }
        for node in tree.body:
            for name in _defined_names(node):
                defs.setdefault(name, []).append((rel, node))
    return defs, aliases


def _reached_names() -> set[str]:
    defs, aliases = _definitions()
    stack = list(ROOT_DEFINITIONS)
    for d in SCRIPT_DIRS:
        for path in d.glob("*.py"):
            stack.extend(_mentioned(ast.parse(path.read_text(), str(path))))
    seen: set[str] = set()
    while stack:
        name = stack.pop()
        if name in seen:
            continue
        seen.add(name)
        for module, node in defs.get(name, ()):
            names = _mentioned(node)
            stack.extend(names)
            stack.extend(aliases[module][n] for n in names & aliases[module].keys())
    return seen


def test_every_public_definition_is_reached_from_the_validation_path():
    defs = _definitions()[0]
    reached = _reached_names()
    unreached = sorted(
        f"{module}::{name}"
        for name, sites in defs.items()
        if not name.startswith("_") and name not in reached
        for module, _node in sites
    )
    assert unreached == [], f"{len(unreached)} definitions unreached: {unreached}"


def test_example_job_imports_resolve():
    """examples/validate_job.py imports only names the package still
    defines. Loading it runs its imports, not main()."""
    path = ROOT.parent / "examples" / "validate_job.py"
    spec = importlib.util.spec_from_file_location("validate_job_example", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(module.main)
