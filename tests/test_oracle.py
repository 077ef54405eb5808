"""t2 differential gate, run locally: every queries() entry that has an
oracle must hash-match DuckDB on sf0.01 (same comparison the driver
applies)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from biodwh2_arcadedb_server_spark.testing import compare

_QUERIES = entry_mod.queries()
_ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(_ORACLES.keys()))
def test_oracle_match(spark, sf_medium, name):
    ok, detail = compare(spark, _QUERIES[name], _ORACLES[name], sf_medium)
    assert ok, f"{name}: {detail}"


def test_all_oracle_keys_have_queries():
    missing = set(_ORACLES) - set(_QUERIES)
    assert not missing


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_driver_compat_flags_hugeint_and_ns_overflow():
    """The two r2 driver-hash artifact classes must be caught locally:
    HUGEINT aggregates (Arrow decimal128 vs Spark bigint) and dates
    outside the datetime64[ns] range."""
    import datetime

    from biodwh2_arcadedb_server_spark.testing import driver_compat_issues

    issues = driver_compat_issues(
        {"n": "bigint"}, [{"n": 0}], {"n": "decimal128(38, 0)"}
    )
    assert len(issues) == 1 and "CAST" in issues[0]
    issues = driver_compat_issues(
        {"d": "date"}, [{"d": datetime.date(9999, 12, 31)}], {"d": "date32[day]"}
    )
    assert len(issues) == 1 and "datetime64" in issues[0]
    # nullable BIGINT -> float64 is fine (q49 was driver-green in r1)
    assert not driver_compat_issues({"n": "bigint"}, [{"n": 3}], {"n": "int64"})
    assert not driver_compat_issues(
        {"d": "date"}, [{"d": datetime.date(2261, 12, 31)}], {"d": "date32[day]"}
    )


def test_priority_orders_regressions_and_unchecked_first():
    """_compute_priority: red oracled probes lead, then never-checked
    oracled, then never-checked rows-only, then stalest green."""
    import json

    names = ["a", "b", "c", "d", "e"]
    oracled = {"a", "b", "c", "d"}
    # a: red in r2; b: green r1 only; c: never checked; d: green r2;
    # e: never checked, rows-only
    hist = {
        "CORRECTNESS_r01.json": {"b": {"hash_match": True}},
        "CORRECTNESS_r02.json": {
            "a": {"hash_match": False, "rows_match": True},
            "d": {"hash_match": True},
        },
    }
    import tempfile
    from pathlib import Path

    with tempfile.TemporaryDirectory() as td:
        for fname, data in hist.items():
            Path(td, fname).write_text(json.dumps(data))
        got = entry_mod._compute_priority(names, oracled, history_dir=Path(td))
    assert got == ["a", "c", "e", "b", "d"]


def test_priority_bumps_churned_modules():
    """VERDICT r4 #6: a green probe whose implementing module changed
    since its last green round outranks untouched staler greens (but
    never outranks reds / never-checked)."""
    import json
    import tempfile
    from pathlib import Path

    pkg = "biodwh2_arcadedb_server_spark"
    names = ["g_old", "g_churned", "g_new", "never"]
    oracled = set(names)
    hist = {
        "CORRECTNESS_r01.json": {"g_old": {"hash_match": True}},
        "CORRECTNESS_r02.json": {
            "g_churned": {"hash_match": True},
            "g_new": {"hash_match": True},
        },
    }
    module_of = {
        "g_old": f"{pkg}.operators.relational",
        "g_churned": f"{pkg}.operators.graph_queries",
        "g_new": f"{pkg}.operators.relational",
        "never": f"{pkg}.operators.relational",
    }
    # graph.py (a graph_queries dep) changed since round 2
    changed = {2: frozenset({f"{pkg}/operators/graph.py"}), 1: frozenset()}
    with tempfile.TemporaryDirectory() as td:
        for fname, data in hist.items():
            Path(td, fname).write_text(json.dumps(data))
        got = entry_mod._compute_priority(
            names, oracled, history_dir=Path(td),
            module_of=module_of, changed_since=lambda r: changed.get(r),
        )
    # never-checked first, then the churned green, then stale greens
    assert got == ["never", "g_churned", "g_old", "g_new"]


def test_priority_churn_directory_prefix_and_unknown_git():
    """Directory deps (trailing '/') match any file under them; an
    unknowable git state (changed_since -> None) degrades to the old
    staleness-only ordering instead of erroring."""
    import json
    import tempfile
    from pathlib import Path

    pkg = "biodwh2_arcadedb_server_spark"
    names = ["p_stream", "p_plain"]
    hist = {
        "CORRECTNESS_r01.json": {
            "p_stream": {"hash_match": True},
            "p_plain": {"hash_match": True},
        }
    }
    module_of = {
        "p_stream": f"{pkg}.operators.pipeline_queries",
        "p_plain": f"{pkg}.operators.relational",
    }
    with tempfile.TemporaryDirectory() as td:
        for fname, data in hist.items():
            Path(td, fname).write_text(json.dumps(data))
        got = entry_mod._compute_priority(
            names, set(names), history_dir=Path(td), module_of=module_of,
            changed_since=lambda r: frozenset({f"{pkg}/streaming/neardup.py"}),
        )
        assert got == ["p_stream", "p_plain"]
        # git unavailable: insertion-order staleness ordering preserved
        got = entry_mod._compute_priority(
            names, set(names), history_dir=Path(td), module_of=module_of,
            changed_since=lambda r: None,
        )
        assert got == ["p_stream", "p_plain"]  # same round, insertion order


def test_priority_live_registry_runs_git_path():
    """The real queries() call exercises the git-backed changed_since
    without raising, and returns every pooled probe exactly once."""
    q = entry_mod.queries()
    assert len(q) == len(set(q))
    assert "q146_shortestpath_dialect" in q


def test_priority_deps_cover_dedup_closure():
    """dedup.near_dup_clusters runs operators.graph.connected_components,
    so every probe module that imports dedup — at module level or
    inside a function — must watch graph.py, or churn in the CC engine
    never re-prioritizes its probes."""
    import ast
    import importlib.util

    pkg = "biodwh2_arcadedb_server_spark"
    dedup = f"{pkg}.operators.dedup"

    def imported(module: str) -> set[str]:
        origin = importlib.util.find_spec(module).origin
        with open(origin) as fh:
            tree = ast.parse(fh.read())
        out = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                out |= {a.name for a in node.names}
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                out.add(node.module)
                out |= {f"{node.module}.{a.name}" for a in node.names}
        return out

    modules = {fn.__module__ for fn in _QUERIES.values()}
    reaching = sorted(m for m in modules if dedup in imported(m))
    assert reaching  # the walk itself found the dedup probes
    for module in reaching:
        assert f"{pkg}/operators/graph.py" in entry_mod._deps_for(module), module
