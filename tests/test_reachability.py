"""Every top-level package definition is reached from a pipeline stage or
an oracle-gated query, or is on a short allowlist with its reason.

Name-based AST pass, no imports and no Spark: a ``def``/``class`` is
reached when its name is read (as a name or an attribute) by a root or by
an already reached definition. Import statements do not count, so a
package re-export keeps nothing alive. The roots are ``run_pipeline``, the
``@_register`` queries, ``streaming/incremental.py``, ``bench.py``,
``__spark_entry__.py`` and module-level code (decorators, defaults and
class bases included).
"""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "named_entity_algorithm_project_spark"
ROOT_FILES = ("bench.py", "__spark_entry__.py")
ROOT_MODULES = ("streaming/incremental.py",)

#: unreached definitions that stay, one reason each
ALLOWED = {
    "datagen.planted_alias_pairs": "the scripts' one recall definition",
    "datagen.planted_hard_pairs": "the scripts' one recall definition",
    "datagen.planted_pair_edge_stats": "the scripts' one recall definition",
    "io_tables.read_lineage": "test_resume reads the lineage table through it",
    "oracle.run_oracle": "the reference test_parity compares against",
    "oracle.oracle_apply_canonical": "the reference test_parity compares against",
    "operators.linking.similarity_pairs": "naive parity baseline of test_linking and scripts",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _is_query(node) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "_register"
        for d in node.decorator_list
    )


def _module_level(node) -> list:
    """The parts of a definition Python evaluates at import time."""
    parts = list(node.decorator_list)
    if isinstance(node, ast.ClassDef):
        parts += node.bases + [k.value for k in node.keywords]
    else:
        parts += node.args.defaults + [d for d in node.args.kw_defaults if d]
    return parts


def _names_read(node) -> set:
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            out.add(sub.attr)
    return out


def unreached() -> set:
    defs = {}  # name -> [(qualified name, node)]
    todo = [ast.parse((REPO / f).read_text()) for f in ROOT_FILES]
    reached = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        module = rel[: -len(".py")].replace("/", ".")
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if not isinstance(node, _DEFS):
                todo.append(node)
                continue
            qual = f"{module}.{node.name}"
            defs.setdefault(node.name, []).append((qual, node))
            todo += _module_level(node)
            if rel in ROOT_MODULES or node.name == "run_pipeline" or _is_query(node):
                reached.add(qual)
                todo.append(node)
    seen = set()
    while todo:
        for name in _names_read(todo.pop()) - seen:
            seen.add(name)
            for qual, node in defs.get(name, []):
                if qual not in reached:
                    reached.add(qual)
                    todo.append(node)
    return {q for entries in defs.values() for q, _ in entries} - reached


def test_every_definition_is_reached_or_allowed():
    dead = unreached()
    assert sorted(dead - set(ALLOWED)) == [], "unreached package definitions"
    # the allowlist stays short: each entry must still exist and be unreached
    assert sorted(set(ALLOWED) - dead) == [], "stale allowlist entries"
