"""Guard against dead code coming back: every top-level function or class
in ``etl_github_spark/`` must be referenced by production code (the
package itself, ``bench.py``, ``__spark_entry__.py``, ``tools_*.py`` and
``perfbench/``), unless it is a registered ``@query`` or on the keep-list
below with a reason.

A reference is a Name, an Attribute, an imported name, or an identifier
inside a string literal (``getattr``-style lookups, registry names).
An import inside a package ``__init__.py`` is not a reference: a
re-export exposes a name, it does not call it.
Docstrings do not count: prose that mentions a helper does not call it.
Tests do not count either: a helper only its own test calls is dead.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "etl_github_spark"

#: dotted name (a function, or a whole module) -> why it stays unreferenced
KEEP = {
    "etl_github_spark.gha.pipeline.ingest_urls":
        "production entry point for the real GH Archive source (needs network)",
    "etl_github_spark.io.delta_log.drop_constraint":
        "inverse of add_constraint; public Delta table-property API",
    "etl_github_spark.io.ivf_store.write_embeddings_ivfpq":
        "two-pass IVF-PQ writer; tests pin the fused writer bit-identical to it",
    "etl_github_spark.streaming.cdc.stream_cdc_apply":
        "streaming CDC sink; its batch step apply_cdc_batch is driver-checked",
}


def _production_files() -> list[Path]:
    return (
        sorted(PKG.rglob("*.py"))
        + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
        + sorted(ROOT.glob("tools_*.py"))
        + sorted((ROOT / "perfbench").glob("*.py"))
    )


def _docstring_ids(tree: ast.AST) -> set[int]:
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = n.body[0] if n.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                out.add(id(first.value))
    return out


def _referenced_names() -> set[str]:
    names: set[str] = set()
    for path in _production_files():
        tree = ast.parse(path.read_text(), str(path))
        docs = _docstring_ids(tree)
        reexport = path.name == "__init__.py"
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
            elif isinstance(n, ast.alias) and not reexport:
                names.add(n.name.rsplit(".", 1)[-1])
            elif (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and id(n) not in docs
            ):
                names.update(re.findall(r"[A-Za-z_]\w*", n.value))
    return names


def _is_registered_query(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        f = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(f, "id", getattr(f, "attr", None)) == "query":
            return True
    return False


def _unreferenced() -> list[str]:
    used = _referenced_names()
    out = []
    for path in sorted(PKG.rglob("*.py")):
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        for node in ast.parse(path.read_text(), str(path)).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not _is_registered_query(node)
                and node.name not in used
            ):
                out.append(f"{module}.{node.name}")
    return out


def _covers(key: str, name: str) -> bool:
    return name == key or name.startswith(key + ".")


def test_no_unreferenced_helpers():
    dead = [n for n in _unreferenced() if not any(_covers(k, n) for k in KEEP)]
    assert not dead, (
        "top-level definitions no production code references (delete them, "
        f"or add each to KEEP with a reason): {dead}"
    )


def test_keep_list_has_no_stale_entries():
    unreferenced = _unreferenced()
    stale = [k for k in KEEP if not any(_covers(k, n) for n in unreferenced)]
    assert not stale, f"KEEP entries that are referenced now or gone: {stale}"
