"""Every package module is imported by some product path.

A static walk over import statements (function-local ones included), no
Spark: it starts from the CLI job, the `__spark_entry__` queries, the benchmark
and the Python worker daemon, and must reach every module under
``tesseract_rs_spark/``.  A module that only tests import is dead code."""

import ast
from pathlib import Path

from tesseract_rs_spark.session import WORKER_DAEMON

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "tesseract_rs_spark"

# Kept unreached on purpose: whether the salted-hash repartition earns its
# place is an open measurement (ROADMAP.md, direction 5).
UNREACHED_BY_DESIGN = {f"{PACKAGE}.plans.partitioning"}


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported_names(path: Path) -> set:
    """Dotted names of every module an import statement in ``path`` may
    load, parents included (importing ``a.b`` also runs ``a``).  The
    code base uses absolute imports only."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            targets = [node.module] + [
                f"{node.module}.{alias.name}" for alias in node.names
            ]
        else:
            continue
        for target in targets:
            parts = target.split(".")
            found.update(".".join(parts[: i + 1]) for i in range(len(parts)))
    return found


def reachable_modules() -> set:
    roots = ["jobs.extract_job", "__spark_entry__", WORKER_DAEMON] + [
        f"perfbench.{p.stem}"
        for p in (ROOT / "perfbench").glob("*.py")
        if not p.stem.startswith("test_")
    ]
    seen: set = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        path = _module_file(name)
        if name in seen or path is None:
            continue
        seen.add(name)
        todo.extend(_imported_names(path) - seen)
    return seen


def package_modules() -> set:
    out = set()
    for path in (ROOT / PACKAGE).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        out.add(".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    return out


def test_every_package_module_is_reached_from_a_product_path():
    unreached = package_modules() - reachable_modules()
    assert unreached == UNREACHED_BY_DESIGN
