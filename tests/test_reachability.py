"""Reachability between the contract registry and the engine, checked by
``ast`` alone (no Spark).

- Every contract row calls engine code: its query function, or a helper in
  its own module that it calls, uses a name imported from an
  ``ecokg_spark`` module outside ``contract/``. A row that only checks
  Spark itself against DuckDB is on ``SPARK_BASELINE`` with its reason.
- Every public engine function, and every public method of a public class,
  outside ``contract/`` and ``plans/`` is used by non-test code. A
  pure-Python reference that tests compare engine output against is on
  ``REFERENCE_ORACLES`` with its reason.
"""

import ast
from pathlib import Path

from ecokg_spark.contract import QUERIES

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "ecokg_spark"

SPARK_BASELINE = {
    "pricing_summary": "bench.py headline query: Spark's hash aggregate",
    "filter_project": "tests/test_plans.py fixture: pushed-down filter",
    "broadcast_join_agg": "tests/test_plans.py fixture: broadcast join",
    "multi_join": "bench.py headline query: join reordering",
    "explode_tokens": "Spark's generator over split",
    "window_topk": "bench.py headline query: ranked window",
    "topk_limit": "Spark's TakeOrderedAndProject",
    "case_chain": "Spark's CASE WHEN evaluation",
    "string_funcs": "Spark's string built-ins",
    "json_extract": "Spark's get_json_object",
    "semi_join": "the sparql_exists row checks the engine's left-semi path",
    "sessionize": "sessionize_streaming checks streaming_sessions against "
                  "the same oracle",
    "events_window": "Spark's event-time window aggregate",
    "events_window_streaming": "Spark's watermarked streaming aggregate",
    "rollup_cube": "Spark's CUBE grouping sets",
    "pivot_events": "Spark's pivot",
}

REFERENCE_ORACLES = {
    "extract_text_py": "test_extract and test_property compare both "
                       "vectorized extractors with it",
    "split_sentences_py": "test_extract and test_property compare the "
                          "sentence split with it",
    "text_audit": "test_property compares the fused pass's audit rows "
                  "with it",
    "audit_mismatches": "test_extract asserts it is empty for extract_pages",
    "extract_triples": "test_property compares the fused pass's triples "
                       "with it",
    "expected_text": "test_extract and test_pipeline compare extracted "
                     "text with this ground truth",
}

NON_TEST = [
    *PKG.rglob("*.py"),
    *(ROOT / "scripts").glob("*.py"),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *(p for p in (ROOT / "perfbench").glob("*.py")
      if p.name != "test_smoke.py"),
]


def _parse(path):
    return ast.parse(path.read_text(), filename=str(path))


def _is_engine_module(mod):
    return (mod or "").startswith("ecokg_spark.") and not mod.startswith(
        "ecokg_spark.contract")


def _engine_imports(node):
    """Names bound by engine imports anywhere under ``node``."""
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.ImportFrom) and _is_engine_module(n.module):
            names |= {a.asname or a.name for a in n.names}
        elif isinstance(n, ast.Import):
            names |= {(a.asname or a.name).split(".")[0] for a in n.names
                      if _is_engine_module(a.name)}
    return names


def _rows_without_engine_code():
    missing = []
    trees = {}
    for name, fn in QUERIES.items():
        path = Path(fn.__code__.co_filename)
        if path not in trees:
            tree = _parse(path)
            engine = _engine_imports(tree)
            funcs = {f.name: f for f in tree.body
                     if isinstance(f, ast.FunctionDef)}
            used = {f: {n.id for n in ast.walk(node)
                        if isinstance(n, ast.Name)}
                    for f, node in funcs.items()}
            trees[path] = engine, funcs, used
        engine, funcs, used = trees[path]
        seen, todo = set(), [fn.__name__]
        while todo:
            f = todo.pop()
            if f in seen or f not in funcs:
                continue
            seen.add(f)
            if used[f] & engine or _engine_imports(funcs[f]):
                break
            todo += used[f] & funcs.keys()
        else:
            missing.append(name)
    return missing


def _public_engine_names():
    names = set()
    for path in PKG.rglob("*.py"):
        rel = path.relative_to(PKG).parts
        if rel[0] in ("contract", "plans"):
            continue
        for node in _parse(path).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                names.add(node.name)
            elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                names |= {m.name for m in node.body
                          if isinstance(m, ast.FunctionDef)
                          and not m.name.startswith("_")}
    return names


def _names_used_by_non_test_code():
    used = set()
    for path in NON_TEST:
        for n in ast.walk(_parse(path)):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
            elif isinstance(n, ast.ImportFrom):
                used |= {a.name for a in n.names}
    return used


def test_every_contract_row_calls_engine_code_or_is_a_named_baseline():
    missing = _rows_without_engine_code()
    assert sorted(set(missing) - SPARK_BASELINE.keys()) == []
    # a baseline row that reaches the engine belongs off the list
    assert sorted(SPARK_BASELINE.keys() - set(missing)) == []
    assert len(SPARK_BASELINE) <= 16


def test_every_public_engine_name_has_a_non_test_caller():
    unused = _public_engine_names() - _names_used_by_non_test_code()
    assert sorted(unused - REFERENCE_ORACLES.keys()) == []
    assert sorted(REFERENCE_ORACLES.keys() - unused) == []
