"""Static guard (AST only, no Spark): every public function of
ext/similarity.py must be reached from a registry module under queries/,
either directly or through another ext.similarity function that is. A
public function no registry entry reaches is library code the DuckDB
oracle never certifies — the state this guard keeps from coming back."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "glue_etl_framework_spark"
LIB = "glue_etl_framework_spark.ext.similarity"


def _top_level_functions(tree: ast.Module) -> dict[str, ast.FunctionDef]:
    return {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}


def _loaded_names(node: ast.AST) -> set[str]:
    return {
        n.id for n in ast.walk(node) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
    }


def _is_registry_module(tree: ast.Module) -> bool:
    """A module under queries/ that registers at least one entry."""
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef):
            for d in fn.decorator_list:
                target = d.func if isinstance(d, ast.Call) else d
                if isinstance(target, ast.Name) and target.id == "register":
                    return True
    return False


def _library_refs(tree: ast.Module) -> set[str]:
    """Names of ext.similarity the module actually uses: imported from it
    by name and then loaded, or read as an attribute of the imported
    module object."""
    imported: set[str] = set()
    module_aliases: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom) and n.module == LIB:
            imported |= {a.asname or a.name for a in n.names}
        elif isinstance(n, ast.ImportFrom) and n.module == "glue_etl_framework_spark.ext":
            module_aliases |= {a.asname or a.name for a in n.names if a.name == "similarity"}
        elif isinstance(n, ast.Import):
            module_aliases |= {a.asname for a in n.names if a.name == LIB and a.asname}
    refs = imported & _loaded_names(tree)
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Attribute)
            and isinstance(n.value, ast.Name)
            and n.value.id in module_aliases
        ):
            refs.add(n.attr)
    return refs


def unreached_public_functions() -> list[str]:
    lib = _top_level_functions(ast.parse((PKG / "ext" / "similarity.py").read_text()))
    reached: set[str] = set()
    for path in sorted((PKG / "queries").glob("*.py")):
        tree = ast.parse(path.read_text())
        if _is_registry_module(tree):
            reached |= _library_refs(tree) & set(lib)
    frontier = set(reached)
    while frontier:
        calls = set().union(*(_loaded_names(lib[name]) for name in frontier)) & set(lib)
        frontier = calls - reached
        reached |= frontier
    return sorted(name for name in lib if not name.startswith("_") and name not in reached)


def test_every_public_similarity_function_is_reached_from_the_registry():
    unreached = unreached_public_functions()
    assert not unreached, (
        f"ext.similarity public functions no registry entry reaches: {unreached} — "
        "call them from a queries/ builder (so the oracle certifies them) or delete them"
    )


def test_guard_sees_registry_calls():
    """The guard is not vacuous: the functions the registry entries call
    directly are found, and a helper reached only through one of them
    (quantize_checked via lsh_neardup_pairs) counts as reached."""
    tree = ast.parse((PKG / "queries" / "similarity.py").read_text())
    assert _is_registry_module(tree)
    direct = _library_refs(tree)
    assert {"exact_topk", "ivf_topk", "lsh_neardup_pairs"} <= direct
    assert "quantize_checked" not in direct
    assert "quantize_checked" not in unreached_public_functions()
