"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2, one
callable (spark, sf_dir) -> DataFrame per entry.
``oracle_sql()`` — DuckDB-runnable ANSI SQL twin per entry (omitted
for genuinely non-SQL-expressible operators → rows-only check).
"""

from __future__ import annotations

import functools
import json
import subprocess
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from biodwh2_arcadedb_server_spark.operators import (
    dialect_queries,
    graph_queries,
    pipeline_queries,
    pipeline_queries2,
    pipeline_queries3,
    pipeline_queries4,
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    relational6,
    relational7,
    relational8,
    relational9,
    source_queries,
)

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 2-hop graph expansion (customer→orders→lineitem) with
    aggregation — exercises scan, broadcast join, shuffle join, and
    hash agg in one plan."""
    return relational.q03_two_hop(spark, SF0001)


# The driver verifies the first ~50 registry entries in insertion
# order. With 124 registered probes, PRIORITY is COMPUTED from the
# CORRECTNESS_r*.json history (VERDICT r2 "next" #8) so no probe goes
# stale: (1) previously-red oracled probes (regressions to re-verify
# after their fixes), (2) never-driver-checked probes with an oracle,
# (3) never-checked rows-only probes, (4) CHURNED greens — probes
# whose implementing module changed in git since the round of their
# last green (VERDICT r4 "next" #6: staleness alone is blind to code
# churn; a regression could otherwise hide for the full ~3-round
# re-check horizon), (5) everything else, stalest last-checked round
# first. Ties keep registry insertion order.

# Probe-module → implementing-operator files (repo-relative; a
# trailing "/" matches the whole directory). The probe module itself
# is always a dependency; these add the operator modules its
# callables actually exercise.
_PKG = "biodwh2_arcadedb_server_spark"
_MODULE_DEPS: dict[str, list[str]] = {
    "dialect_queries": [
        f"{_PKG}/arcadesql.py",
        f"{_PKG}/graphql.py",
        # TRAVERSE / shortestPath() execute operators.graph BFS, and
        # every dialect probe runs over workspace-built views — churn
        # in either must re-prioritize the dialect probes.
        f"{_PKG}/operators/graph.py",
        f"{_PKG}/workspace.py",
    ],
    "graph_queries": [f"{_PKG}/operators/graph.py"],
    # dedup.near_dup_clusters closes its pair graph with
    # operators.graph.connected_components, so every probe module
    # importing dedup watches graph.py too
    "pipeline_queries": [
        f"{_PKG}/operators/dedup.py",
        f"{_PKG}/operators/graph.py",
        f"{_PKG}/operators/similarity.py",
        f"{_PKG}/operators/multimodal.py",
        f"{_PKG}/operators/text.py",
        f"{_PKG}/streaming/",
    ],
    "pipeline_queries2": [
        f"{_PKG}/operators/text.py",
        f"{_PKG}/operators/curation.py",
        f"{_PKG}/operators/multimodal.py",
    ],
    "pipeline_queries3": [
        f"{_PKG}/operators/dedup.py",
        f"{_PKG}/operators/graph.py",
        f"{_PKG}/operators/text.py",
    ],
    "pipeline_queries4": [
        f"{_PKG}/operators/dedup.py",
        f"{_PKG}/operators/similarity.py",
        f"{_PKG}/operators/graph.py",
    ],
    "relational8": [f"{_PKG}/workspace.py"],
    "source_queries": [f"{_PKG}/sources/jsonl_source.py"],
}


@functools.lru_cache(maxsize=None)
def _round_commit(rnd: int, repo: str) -> str | None:
    """Commit that first added CORRECTNESS_r{rnd}.json (the driver
    writes it at round close — the code state the round's greens
    certify)."""
    try:
        out = subprocess.run(
            ["git", "log", "--diff-filter=A", "--format=%H", "--",
             f"CORRECTNESS_r{rnd:02d}.json"],
            cwd=repo, capture_output=True, text=True, timeout=10,
        )
        lines = out.stdout.split()
        return lines[-1] if lines else None
    except (OSError, subprocess.SubprocessError):
        return None


@functools.lru_cache(maxsize=None)
def _changed_since(rnd: int, repo: str) -> frozenset[str] | None:
    """Repo-relative paths changed between round ``rnd``'s close and
    HEAD (including uncommitted edits). None = unknowable (no git)."""
    commit = _round_commit(rnd, repo)
    if commit is None:
        return None
    try:
        out = subprocess.run(
            ["git", "diff", "--name-only", commit],
            cwd=repo, capture_output=True, text=True, timeout=10,
        )
        if out.returncode != 0:
            return None
        return frozenset(out.stdout.split())
    except (OSError, subprocess.SubprocessError):
        return None


def _deps_for(module: str) -> list[str]:
    """Watched paths for a probe's defining module: its own file plus
    the operator files its callables exercise."""
    own = module.replace(".", "/") + ".py"
    return [own, *_MODULE_DEPS.get(module.rsplit(".", 1)[-1], [])]


def _compute_priority(
    pooled_names: list[str],
    oracled: set[str],
    history_dir: Path | None = None,
    module_of: dict[str, str] | None = None,
    changed_since: Callable[[int], frozenset[str] | None] | None = None,
) -> list[str]:
    here = history_dir or Path(__file__).resolve().parent
    if changed_since is None:
        repo = str(Path(__file__).resolve().parent)
        changed_since = lambda rnd: _changed_since(rnd, repo)  # noqa: E731
    history: dict[str, tuple[int, bool]] = {}  # probe -> (last round, green)
    for path in sorted(here.glob("CORRECTNESS_r*.json")):
        try:
            rnd = int(path.stem.split("_r")[-1])
            data = json.loads(path.read_text())
        except (ValueError, json.JSONDecodeError):
            continue
        for name, row in data.items():
            green = bool(row.get("hash_match")) or (
                row.get("err") == "no_oracle" and bool(row.get("rows_match"))
            )
            hash_checked = row.get("hash_match") is not None
            history[name] = (rnd, green, hash_checked)
    order = {n: i for i, n in enumerate(pooled_names)}

    def churned(name: str, rnd: int) -> bool:
        if module_of is None:
            return False
        deps = _deps_for(module_of.get(name, ""))
        changed = changed_since(rnd)
        if changed is None:
            return False
        return any(
            f == dep or (dep.endswith("/") and f.startswith(dep))
            for f in changed
            for dep in deps
        )

    def tier(name: str) -> tuple:
        rec = history.get(name)
        if rec is not None and not rec[1] and name in oracled:
            return (0, 0, order[name])  # red with oracle: regression fix first
        if rec is None and name in oracled:
            return (1, 0, order[name])  # never checked, oracled
        if rec is not None and name in oracled and not rec[2]:
            # oracled NOW but only ever rows-only-checked (a converted
            # tolerance-contract probe): hash-verify it like new
            return (1, 0, order[name])
        if rec is None:
            return (2, 0, order[name])  # never checked, rows-only
        if churned(name, rec[0]):
            # green, but its implementing module changed since that
            # green was earned: re-verify before untouched staler rows
            return (3, rec[0], order[name])
        return (4, rec[0], order[name])  # stalest untouched green first

    return sorted(pooled_names, key=tier)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    pooled: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    pooled.update(relational.QUERIES)
    pooled.update(relational2.QUERIES)
    pooled.update(relational3.QUERIES)
    pooled.update(relational4.QUERIES)
    pooled.update(relational5.QUERIES)
    pooled.update(relational6.QUERIES)
    pooled.update(relational7.QUERIES)
    pooled.update(relational8.QUERIES)
    pooled.update(relational9.QUERIES)
    pooled.update(graph_queries.QUERIES)
    pooled.update(pipeline_queries.QUERIES)
    pooled.update(pipeline_queries2.QUERIES)
    pooled.update(pipeline_queries3.QUERIES)
    pooled.update(pipeline_queries4.QUERIES)
    pooled.update(source_queries.QUERIES)
    pooled.update(dialect_queries.QUERIES)
    oracled = set(oracle_sql())
    module_of = {name: fn.__module__ for name, fn in pooled.items()}
    priority = _compute_priority(list(pooled), oracled, module_of=module_of)
    return {name: pooled[name] for name in priority}


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(relational.ORACLE)
    out.update(relational2.ORACLE)
    out.update(relational3.ORACLE)
    out.update(relational4.ORACLE)
    out.update(relational5.ORACLE)
    out.update(relational6.ORACLE)
    out.update(relational7.ORACLE)
    out.update(relational8.ORACLE)
    out.update(relational9.ORACLE)
    out.update(graph_queries.ORACLE)
    out.update(pipeline_queries.ORACLE)
    out.update(pipeline_queries2.ORACLE)
    out.update(pipeline_queries3.ORACLE)
    out.update(pipeline_queries4.ORACLE)
    out.update(source_queries.ORACLE)
    out.update(dialect_queries.ORACLE)
    return out
