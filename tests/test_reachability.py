"""Every top-level package definition is reached from a pipeline stage or
an oracle-gated query, and every defaulted parameter of a module-level
package function is passed by some production call; each exception is on
a short allowlist with its reason.

Definitions: a name-based AST pass, no imports and no Spark. A
``def``/``class`` is reached when its name is read (as a name or an
attribute) by a root or by an already reached definition. Import
statements do not count, so a package re-export keeps nothing alive. The
roots are ``run_pipeline``, the ``@_register`` queries,
``streaming/incremental.py``, ``bench.py``, ``__spark_entry__.py`` and
module-level code (decorators, defaults and class bases included).

Parameters: a name-based pass over every call in the package,
``scripts/``, ``bench*.py``, ``__spark_entry__.py`` and ``perfbench/`` —
never ``tests/``, so a value only tests vary fails here (make it a module
constant read at call time and monkeypatch it). A call to a function's
name passes a parameter by keyword, by position, through
``functools.partial``, or through a ``*``/``**`` splat (which passes all).
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


#: production callers of package functions (tests/ never counts)
CALLER_GLOBS = (
    "named_entity_algorithm_project_spark/**/*.py",
    "scripts/*.py",
    "bench*.py",
    "__spark_entry__.py",
    "perfbench/*.py",
)

#: defaulted parameters no production call passes, one reason each; a
#: ``module.function`` entry covers every defaulted parameter it has
PARAMS_ALLOWED = {
    "datagen.conv_rows": "the shape of the test corpus",
    "datagen.generate_rows": "the shape of the test corpus",
    "datagen.generate_transcripts": "the shape of the test corpus",
    "io_tables.write_table(iceberg_table=)": (
        "the Iceberg sink the north rule names; test_io_tables contract-tests it"
    ),
    "detector.extract_turn(reference_strict=)": (
        "the reference's behaviour test_detector and test_golden compare against"
    ),
}


def _callee(func):
    if isinstance(func, ast.Name):
        return func.id
    return func.attr if isinstance(func, ast.Attribute) else None


def _passed() -> dict:
    """name -> (positional args passed, keywords passed, any splat) over
    every production call of that name."""
    out = {}
    files = {p for g in CALLER_GLOBS for p in REPO.glob(g)}
    for path in sorted(files):
        for call in ast.walk(ast.parse(path.read_text())):
            if not isinstance(call, ast.Call):
                continue
            name, args = _callee(call.func), call.args
            if name == "partial" and args:
                name, args = _callee(args[0]), args[1:]
            if name is None:
                continue
            n_pos, kws, splat = out.get(name, (0, set(), False))
            out[name] = (
                max(n_pos, len(args)),
                kws | {k.arg for k in call.keywords if k.arg},
                splat
                or any(isinstance(a, ast.Starred) for a in args)
                or any(k.arg is None for k in call.keywords),
            )
    return out


def unpassed_parameters() -> set:
    passed = _passed()
    out = set()
    for path in sorted(PKG.rglob("*.py")):
        module = path.relative_to(PKG).as_posix()[: -len(".py")].replace("/", ".")
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            positional = a.posonlyargs + a.args
            first = len(positional) - len(a.defaults)
            defaulted = [(i, p.arg) for i, p in enumerate(positional) if i >= first]
            defaulted += [
                (None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d
            ]
            n_pos, kws, splat = passed.get(node.name, (0, set(), False))
            for i, arg in defaulted:
                if not (splat or arg in kws or (i is not None and i < n_pos)):
                    out.add(f"{module}.{node.name}({arg}=)")
    return out


def _covers(entry: str, param: str) -> bool:
    return param == entry or param.split("(")[0] == entry


def test_every_defaulted_parameter_has_a_production_caller():
    assert len(PARAMS_ALLOWED) <= 5, "the allowlist stays short"
    unpassed = unpassed_parameters()
    assert sorted(
        p for p in unpassed if not any(_covers(k, p) for k in PARAMS_ALLOWED)
    ) == [], "defaulted parameters no production call passes"
    assert [
        k for k in PARAMS_ALLOWED if not any(_covers(k, p) for p in unpassed)
    ] == [], "stale allowlist entries"
