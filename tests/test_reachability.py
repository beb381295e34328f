"""Every package module, and every definition in it, is used by some
product path.

Static walks, no Spark.  They start from the CLI job, the `__spark_entry__`
queries, the benchmark and the Python worker daemon.  The first follows
import statements (function-local ones included) and must reach every
module under ``tesseract_rs_spark/``; the second follows names and must
reach every top-level definition and method in those modules.  Code that
only tests use is dead code."""

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


def root_modules() -> list:
    return ["jobs.extract_job", "__spark_entry__", WORKER_DAEMON] + [
        f"perfbench.{p.stem}"
        for p in (ROOT / "perfbench").glob("*.py")
        if not p.stem.startswith("test_")
    ]


def reachable_modules() -> set:
    seen: set = set()
    todo = root_modules()
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


# Kept although no product path calls them: the tests' oracles for live
# code.  ``word_rows`` flattens a kernel result the way the words operator
# does, ``extract_text_batch`` is the per-batch body the benchmark's own
# tests call, and ``DECOYS`` lists the strings a corpus page hides in
# boilerplate that no extraction may emit.
ORACLES = {
    f"{PACKAGE}.kernels.html.word_rows",
    f"{PACKAGE}.operators.extract.extract_text_batch",
    f"{PACKAGE}.corpus.DECOYS",
}
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _names_used(nodes) -> set:
    """Every name, attribute and imported name that ``nodes`` mention."""
    used = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rpartition(".")[2])
    return used


def _bound_names(stmt) -> list:
    if isinstance(stmt, (*_FUNCS, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def definition_reach() -> tuple:
    """(every definition, the reached ones), as dotted names: the
    top-level functions, classes and assigned names of every reached
    package module, and each class's methods (``module.Class.method``).

    The walk goes by bare name, so a definition counts as reached when
    reached code mentions its name anywhere; it over-approximates what is
    live.  Root modules, the worker daemon and a module's other top-level
    statements (they run on import) are reached as a whole; a reached
    class brings its body along, but each method needs its own mention
    (dunder methods excepted: Python calls them)."""
    defs: dict = {}  # dotted name -> (bare name, node, owning class)
    used: set = set()
    for module in reachable_modules():
        tree = ast.parse(_module_file(module).read_text())
        if not module.startswith(PACKAGE) or module == WORKER_DAEMON:
            used |= _names_used([tree])
            continue
        for stmt in tree.body:
            names = _bound_names(stmt)
            if not names:
                used |= _names_used([stmt])
            for name in names:
                defs[f"{module}.{name}"] = (name, stmt, None)
            if isinstance(stmt, ast.ClassDef):
                for sub in stmt.body:
                    if isinstance(sub, _FUNCS) and not sub.name.startswith("__"):
                        defs[f"{module}.{stmt.name}.{sub.name}"] = (
                            sub.name, sub, f"{module}.{stmt.name}",
                        )
    reached: set = set()
    grew = True
    while grew:
        grew = False
        for dotted, (name, node, owner) in defs.items():
            if dotted in reached or name not in used:
                continue
            if owner is not None and owner not in reached:
                continue
            reached.add(dotted)
            grew = True
            if isinstance(node, ast.ClassDef):
                # the body minus the methods, which need their own mention
                used |= _names_used(node.bases + node.decorator_list)
                for sub in node.body:
                    if isinstance(sub, _FUNCS) and not sub.name.startswith("__"):
                        used |= _names_used(sub.decorator_list)
                    else:
                        used |= _names_used([sub])
            else:
                used |= _names_used([node])
    return set(defs), reached


def test_every_definition_is_reached_from_a_product_path():
    defined, reached = definition_reach()
    assert ORACLES <= defined, "the list names live definitions only"
    assert not ORACLES & reached, "a reached oracle needs no exemption"
    unreached = defined - reached - ORACLES
    assert not unreached, f"only tests use these: {sorted(unreached)}"


# The JVM <-> Python Arrow boundary is written once, in BOUNDARY; these
# stages are the only others that cross it themselves, because none is a
# per-row stage over one payload column: a grouped renderer
# (applyInPandas), two page generators (several input columns and a
# timestamp output, which arrow_fields has no type for) and two per-batch
# partial aggregates.
BOUNDARY = "tesseract_rs_spark/operators/arrow.py"
OWN_BOUNDARY = {
    ("tesseract_rs_spark/functions/similarity.py", "ivf_centroids_kmeans_distributed"),
    ("tesseract_rs_spark/operators/renderers.py", "pdf_roundtrip_text"),
    ("tesseract_rs_spark/sources/pages.py", "pages_from_documents"),
    ("tesseract_rs_spark/sources/pages.py", "raster_pages_from_documents"),
    ("tesseract_rs_spark/operators/adaptive.py", "learn_glyphs"),
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
