"""Guard against dead code coming back: every top-level function or class
in ``etl_github_spark/`` must be referenced by production code (the
package itself, ``bench.py``, ``__spark_entry__.py``, ``tools_*.py`` and
``perfbench/``), unless it is a registered ``@query`` or on the keep-list
below with a reason.

A reference is a Name, an Attribute, an imported name, or a string
literal that is, stripped, exactly an identifier or a dotted name
(``getattr``-style lookups, registry names). Prose inside a string
(an error message naming a verb) is not a reference, and neither are
docstrings. A use inside the definition's own body does not count
(``_refuse_mapping(meta, "materialize_deletes")`` inside
``materialize_deletes``), and an import inside a package
``__init__.py`` is not a reference either: a re-export exposes a name,
it does not call it. Tests do not count: a helper only its own test
calls is dead.
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
    "etl_github_spark.io.delta_log.partition_columns":
        "public accessor of the layout recorded at version 0; read_delta and "
        "snapshot_files take it from the metaData they already hold",
    "etl_github_spark.io.delta_log.materialize_deletes":
        "the public PURGE verb, and the only way to re-enable zorder_delta "
        "on a table with deletion vectors",
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


_DOTTED = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*")


def _names_in(node: ast.AST, docs: set[int], reexport: bool) -> set[str]:
    names: set[str] = set()
    for n in ast.walk(node):
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
            and _DOTTED.fullmatch(n.value.strip())
        ):
            names.update(n.value.strip().split("."))
    return names


def _referenced_names() -> set[str]:
    names: set[str] = set()
    for path in _production_files():
        tree = ast.parse(path.read_text(), str(path))
        docs = _docstring_ids(tree)
        reexport = path.name == "__init__.py"
        for node in tree.body:
            used = _names_in(node, docs, reexport)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                used.discard(node.name)  # a definition does not keep itself alive
            names |= used
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
