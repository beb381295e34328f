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


# The JVM <-> Python Arrow boundary is written once, in BOUNDARY; these
# stages are the only others that cross it themselves: vector-matrix
# stages, grouped per-document renderers, page generators, a per-batch
# aggregate and two readers of raw Arrow buffers.
BOUNDARY = "tesseract_rs_spark/operators/arrow.py"
OWN_BOUNDARY = {
    ("tesseract_rs_spark/functions/similarity.py", "lsh_signatures"),
    ("tesseract_rs_spark/functions/similarity.py", "ivf_centroids_kmeans_distributed"),
    ("tesseract_rs_spark/functions/similarity.py", "ivf_assign"),
    ("tesseract_rs_spark/functions/similarity.py", "imi_assign"),
    ("tesseract_rs_spark/operators/renderers.py", "pdf_roundtrip_text"),
    ("tesseract_rs_spark/operators/renderers.py", "render_pdf"),
    ("tesseract_rs_spark/sources/pages.py", "pages_from_documents"),
    ("tesseract_rs_spark/sources/pages.py", "raster_pages_from_documents"),
    ("tesseract_rs_spark/operators/adaptive.py", "learn_glyphs"),
    ("tesseract_rs_spark/functions/dedup.py", "_signatures"),
    ("tesseract_rs_spark/functions/dedup.py", "simhash"),
}
BOUNDARY_CALLS = {"mapInPandas", "mapInArrow", "applyInPandas"}


def boundary_call_sites() -> set:
    """(file, top-level definition) of every mapInPandas / mapInArrow /
    applyInPandas call in the package."""
    sites = set()
    for path in (ROOT / PACKAGE).rglob("*.py"):
        rel = path.relative_to(ROOT).as_posix()
        for top in ast.parse(path.read_text(), rel).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in BOUNDARY_CALLS
                ):
                    sites.add((rel, getattr(top, "name", None)))
    return sites


def test_python_stages_cross_arrow_through_one_helper():
    sites = boundary_call_sites()
    stray = {s for s in sites if s[0] != BOUNDARY} - OWN_BOUNDARY
    assert not stray, f"use operators.arrow.map_docs instead: {sorted(stray)}"
    # the list names live call sites only
    assert OWN_BOUNDARY <= sites
