"""Library surface gates, pure AST scans with no Spark session:

- every top-level function or class in the package must be reached from the
  package itself, the driver entry point, the bench or the tooling — not
  only from tests;
- every bool option of a package function must be passed at some call in
  those same files, so no on/off code path exists that nothing selects;
- every Python kernel runs on Arrow batches: no pandas UDF outside the
  test-data generator."""

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = sorted((ROOT / "pysparkdedup").glob("*.py"))
REACHERS = PACKAGE + [ROOT / "__spark_entry__.py", ROOT / "bench.py"] + sorted(
    p for d in ("perfbench", "tools") for p in (ROOT / d).rglob("*.py"))

# Reached only from tests, each with the reason it stays.
TEST_ONLY = {
    "run_and_check": "one-call run plus invariant check, the verify recipe",
    "union_sources": "multi-source registration, no CLI flag yet",
    "cosine_pairs_exact": "explicit-pair cosine, the embedding tests' "
                          "reference form",
}


DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(tree):
    """Every identifier a module defines, references or imports."""
    for node in ast.walk(tree):
        if isinstance(node, DEFS):
            yield node.name
        elif isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]


def _top_level(path):
    return [node.name for node in ast.parse(path.read_text()).body
            if isinstance(node, DEFS)]


def _counts():
    counts = Counter()
    for path in REACHERS:
        counts.update(_names(ast.parse(path.read_text(), str(path))))
    return counts


def test_every_package_definition_is_reached():
    counts = _counts()
    unreached = sorted(
        f"{path.stem}.{name}" for path in PACKAGE for name in _top_level(path)
        if counts[name] <= 1 and name not in TEST_ONLY)
    assert not unreached, f"defined but never reached: {unreached}"


def test_test_only_names_still_exist():
    defined = {name for path in PACKAGE for name in _top_level(path)}
    assert set(TEST_ONLY) <= defined


def test_test_only_names_are_still_unreached():
    """An allowlist entry must not outlive its reason: once a verb, query,
    bench leaf or tool reaches a name, it leaves TEST_ONLY."""
    counts = _counts()
    reached = sorted(name for name in TEST_ONLY if counts[name] > 1)
    assert not reached, f"reached now, drop from TEST_ONLY: {reached}"


# The seeded test-data generator keeps its row-wise pandas UDF.
PANDAS_UDF_OK = {"corpus.py"}
PANDAS_UDFS = {"mapInPandas", "applyInPandas", "pandas_udf"}


def test_no_pandas_udf_in_package():
    """Kernels read their columns straight off the Arrow batch
    (``mapInArrow`` / ``applyInArrow``); a pandas UDF would bring back the
    per-batch Arrow -> pandas -> Arrow conversion."""
    found = sorted(
        f"{path.name}: {name}"
        for path in PACKAGE if path.name not in PANDAS_UDF_OK
        for name in _names(ast.parse(path.read_text(), str(path)))
        if name in PANDAS_UDFS)
    assert not found, f"pandas UDFs outside the test-data generator: {found}"


# Bool options no reacher sets, each with the reason it stays.
UNSET_BOOL_OK = {
    "connected_components.reliable": "cluster-durable fixpoint checkpoints; "
                                     "pinned by two component tests",
}


def _bool_options(func):
    """(name, positional index or None) of each bool-defaulted parameter."""
    args = func.args
    positional = [a.arg for a in args.posonlyargs + args.args]
    if positional[:1] in (["self"], ["cls"]):
        positional = positional[1:]
    defaulted = list(zip(reversed(args.posonlyargs + args.args),
                         reversed(args.defaults)))
    defaulted += [(a, d) for a, d in zip(args.kwonlyargs, args.kw_defaults)
                  if d is not None]
    for arg, default in defaulted:
        if isinstance(default, ast.Constant) and isinstance(
                default.value, bool):
            index = (positional.index(arg.arg)
                     if arg.arg in positional else None)
            yield arg.arg, index


def _callee(call):
    if isinstance(call.func, ast.Name):
        return call.func.id
    if isinstance(call.func, ast.Attribute):
        return call.func.attr
    return None


def _unset_bool_options():
    """``module.function.option`` for each bool option that no call in a
    reacher passes, by keyword or by position (a ``**`` splat does not
    count)."""
    set_by_call = {}
    for path in REACHERS:
        for call in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(call, ast.Call) and _callee(call):
                entry = set_by_call.setdefault(_callee(call), [set(), 0])
                entry[0].update(k.arg for k in call.keywords if k.arg)
                entry[1] = max(entry[1], len(call.args))
    for path in PACKAGE:
        for func in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(func, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            keywords, n_args = set_by_call.get(func.name, [set(), 0])
            for name, index in _bool_options(func):
                if not (name in keywords
                        or (index is not None and index < n_args)):
                    yield f"{path.stem}.{func.name}.{name}"


def test_every_bool_option_is_set():
    """A bool option that no verb, query, bench leaf or tool ever passes
    selects a code path that only tests can reach: delete it or wire it
    up."""
    unset = sorted(name for name in _unset_bool_options()
                   if name.split(".", 1)[1] not in UNSET_BOOL_OK)
    assert not unset, f"bool options no caller sets: {unset}"


def test_unset_bool_allowlist_is_still_unset():
    """An allowlist entry must not outlive its reason."""
    unset = {name.split(".", 1)[1] for name in _unset_bool_options()}
    stale = sorted(set(UNSET_BOOL_OK) - unset)
    assert not stale, f"set now, drop from UNSET_BOOL_OK: {stale}"
