"""Every module in the package must be reachable from the validation
path: plans.run (run_validation), plus session and sources.{io,synth}
that perfbench drives, or from the modules of perfbench/ and examples/.
A module nothing imports is deleted, not kept. (Library code that only
perfbench's traced sweep still calls stays reached through perfbench;
once the sweep stops calling it, this test fails until it is deleted.)

The corpus-toolkit module in PENDING_DELETION predates that rule and
is still unreached; it goes in a later, test-sized step. The list only
shrinks: a new unreached module fails, and so does a listed module that
is deleted or becomes reached without leaving the list.

Reachability is static: the AST imports of each reached module,
function-level imports included, followed transitively. Importing a
submodule also imports its parent packages."""

from __future__ import annotations

import ast
import importlib.util
from pathlib import Path

PKG = "schema_drift_detector_spark"
ROOT = Path(__file__).resolve().parents[1] / PKG
ENTRY_POINTS = ("plans.run", "session", "sources.io", "sources.synth")
SCRIPT_DIRS = (ROOT.parent / "perfbench", ROOT.parent / "examples")
PENDING_DELETION = frozenset({"operators/resample.py"})


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
    new = sorted(set(unreached) - PENDING_DELETION)
    gone = sorted(PENDING_DELETION - set(unreached))
    assert new == [], f"{len(new)} modules unreached: {new}"
    assert gone == [], f"deleted or now reached; drop from PENDING_DELETION: {gone}"


def test_example_job_imports_resolve():
    """examples/validate_job.py imports only names the package still
    defines. Loading it runs its imports, not main()."""
    path = ROOT.parent / "examples" / "validate_job.py"
    spec = importlib.util.spec_from_file_location("validate_job_example", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(module.main)
