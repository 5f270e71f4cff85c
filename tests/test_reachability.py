"""Every package module is reachable from a program that runs: a module
no entry point imports is dead weight, so leaving one behind must be a
deliberate change to this test."""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = "go_parsesyslog_spark"

# Programs that run: the query entry point and the benchmark and tool
# scripts, plus the CLI, run as ``python -m go_parsesyslog_spark.cli``
# (which loads the package first).  Tests are not roots: a module only
# tests import is not part of the program.
SCRIPTS = [
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    REPO / "bench_extra.py",
    *sorted((REPO / "tools").glob("*.py")),
    *sorted((REPO / "perfbench").glob("*.py")),
]
ROOT_MODULES = {PACKAGE, f"{PACKAGE}.cli"}


def _module_path(name: str) -> pathlib.Path | None:
    base = REPO.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported(path: pathlib.Path) -> set[str]:
    """Package modules one file imports (anywhere in it, including inside
    functions), with the parent packages each import also loads."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            # ``from pkg import mod`` loads the submodule pkg.mod
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        if parts[0] != PACKAGE:
            continue
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if _module_path(prefix) is not None:
                out.add(prefix)
    return out


def _package_modules() -> set[str]:
    out = set()
    for path in (REPO / PACKAGE).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out.add(".".join(parts))
    return out


def test_every_package_module_is_reachable():
    reached = set(ROOT_MODULES)
    todo = SCRIPTS + [_module_path(name) for name in ROOT_MODULES]
    while todo:
        for name in _imported(todo.pop()):
            if name not in reached:
                reached.add(name)
                todo.append(_module_path(name))
    unreached = sorted(_package_modules() - reached)
    assert not unreached, f"no entry point imports: {unreached}"
