"""Every kgspark module is reachable from an entry point.

Walks import statements (stdlib ``ast``, nothing is executed) from the
driver contract, the flagship, the registered queries, the tools and the
benchmarks, and asserts that each module under ``kgspark/`` is imported
along the way. A module that only tests import is dead code: delete it
with its tests, or name it in ``UNREACHED_BY_DESIGN`` with the reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

ROOTS = [
    "__spark_entry__.py",
    "kgspark/entry_queries.py",
    "kgspark/pipeline.py",
    "bench.py",
    "bench_extra.py",
    *sorted(str(p.relative_to(ROOT)) for p in (ROOT / "tools").glob("*.py")),
    *sorted(str(p.relative_to(ROOT)) for p in (ROOT / "perfbench").glob("*.py")),
]

UNREACHED_BY_DESIGN = {
    "kgspark/evaluate.py": (
        "precision_recall is the golden-triple P/R gate the tests hold the "
        "pipeline to; no entry point scores its own output"
    ),
}


def _module_file(dotted: str, search: list[Path]) -> Path | None:
    rel = Path(*dotted.split("."))
    for base in search:
        for cand in (base / rel.with_suffix(".py"), base / rel / "__init__.py"):
            if cand.is_file():
                return cand
    return None


def _package_of(path: Path) -> list[str]:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    return parts[:-1]  # a package's __init__ and a plain module alike


def _imported_files(path: Path) -> set[Path]:
    """Files of every module `path` imports, at any depth in its body, plus
    the package __init__ files Python runs on the way to them."""
    # a script's own directory is on sys.path; a package module's is not
    # (there, `import io` is the stdlib, not a sibling io.py)
    search = [ROOT] if (path.parent / "__init__.py").exists() else [ROOT, path.parent]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                pkg = _package_of(path)
                pkg = pkg[: len(pkg) - node.level + 1]
                base = ".".join(pkg + ([node.module] if node.module else []))
            else:
                base = node.module
            names.add(base)
            # `from pkg import name` imports pkg.name when it is a module
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            f = _module_file(".".join(parts[:i]), search)
            if f is not None:
                out.add(f)
    return out


def reachable() -> set[str]:
    todo = [ROOT / r for r in ROOTS]
    seen: set[Path] = set()
    while todo:
        f = todo.pop()
        if f in seen:
            continue
        seen.add(f)
        todo.extend(_imported_files(f) - seen)
    return {str(f.relative_to(ROOT)) for f in seen}


def test_every_kgspark_module_is_reachable():
    modules = {str(p.relative_to(ROOT)) for p in (ROOT / "kgspark").rglob("*.py")}
    seen = reachable()
    unreached = modules - seen - set(UNREACHED_BY_DESIGN)
    assert not unreached, f"modules no entry point imports: {sorted(unreached)}"
    # an exception that an entry point starts importing leaves the list
    assert not set(UNREACHED_BY_DESIGN) & seen
