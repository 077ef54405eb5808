"""Span wrappers around the engine's public functions, and the
per-layer metrics computed from the spans of a traced run."""

from __future__ import annotations

import json
import os

import harness
import spans
from metrics import PER_LAYER

GRAPH_OPS = {
    "connected_components": "graph.cc",
    "pagerank": "graph.pagerank",
    "k_core": "graph.kcore",
    "bfs": "graph.bfs",
    "strongly_connected_components": "graph.scc",
    "degrees": "graph.degrees",
}
DML = [
    "insert_nodes", "update_nodes", "delete_nodes",
    "insert_edges", "update_edges", "delete_edges", "delete_edges_between",
]


def _snapshot(root: str) -> dict:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _dir_bytes(root: str) -> int:
    return sum(size for size, _ in _snapshot(root).values())


def _read_manifest(ws: str) -> dict:
    try:
        with open(os.path.join(ws, "manifest.json")) as fh:
            return json.load(fh)
    except OSError:
        return {"nodes": {}, "edges": {}}


def _build_before(args, kwargs):
    return _read_manifest(args[2])


def _build_after(sp, args, kwargs, manifest, old):
    """Bytes written and rebuild precision of one build: a rebuilt
    label was needed when its source file's hash changed, or (edges)
    when an endpoint node label's did."""
    rebuilt = manifest.get("rebuilt", [])
    changed_nodes = {
        lbl for lbl, info in manifest["nodes"].items()
        if old["nodes"].get(lbl, {}).get("source_hash") != info.get("source_hash")
    }
    needed = 0
    for tag in rebuilt:
        kind, lbl = tag.split(":", 1)
        if kind == "n":
            needed += lbl in changed_nodes
        else:
            info = manifest["edges"][lbl]
            needed += (
                old["edges"].get(lbl, {}).get("source_hash") != info.get("source_hash")
                or info["src_label"] in changed_nodes
                or info["dst_label"] in changed_nodes
            )
    sp.attrs.update(
        rebuilt=len(rebuilt),
        needed=needed,
        bytes=sum(
            _dir_bytes(manifest["nodes" if t.startswith("n:") else "edges"][t[2:]]["path"])
            for t in rebuilt
        ),
    )


def _dml_before(args, kwargs):
    return _snapshot(args[1])


def _dml_after(sp, args, kwargs, out, before):
    after = _snapshot(args[1])
    sp.attrs["bytes"] = sum(
        size for p, (size, mt) in after.items() if before.get(p) != (size, mt)
    )


def _keep_df(sp, args, kwargs, out, state):
    sp.attrs["df"] = out


def install(tracer: spans.Tracer) -> None:
    """Wrap the public functions of every layer the workloads call."""
    from biodwh2_arcadedb_server_spark import arcadesql, graphql, transactions, workspace
    from biodwh2_arcadedb_server_spark.operators import graph

    tracer.wrap(workspace, "build_workspace", "workspace.build_workspace",
                before=_build_before, after=_build_after)
    for fn in ("build_nodes", "build_edges", "validate_node_ids", "load_workspace"):
        tracer.wrap(workspace, fn, f"workspace.{fn}")
    for fn in DML:
        tracer.wrap(workspace, fn, "workspace.dml", before=_dml_before, after=_dml_after)
    tracer.wrap(arcadesql, "execute", "arcadesql.execute", after=_keep_df)
    tracer.wrap(graphql, "execute", "graphql.execute", after=_keep_df)
    for fn in ("begin", "stage", "commit", "rollback"):
        tracer.wrap(transactions.TransactionManager, fn, f"transactions.{fn}")
    for fn, name in GRAPH_OPS.items():
        tracer.wrap(graph, fn, name)


def install_server(tracer: spans.Tracer, srv) -> None:
    """Open a ``server.request`` span around each request handler
    call, with the client's request id."""
    handler = srv._httpd.RequestHandlerClass

    def traced(orig):
        def method(self):
            with tracer.span("server.request", rid=self.headers.get("X-Request-Id")):
                return orig(self)
        return method

    for verb in ("do_GET", "do_POST"):
        tracer.patch(handler, verb, traced(getattr(handler, verb)))


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _build_phases(tracer: spans.Tracer) -> tuple[float, float, float]:
    """(nodes, validate, edges) seconds over every build: the node
    phase runs until the id audit (or the first edge plan), the edge
    phase from there to the end of the build."""
    nodes = val = edges = 0.0
    for i, b in enumerate(tracer.spans):
        if b.name != "workspace.build_workspace" or not b.end:
            continue
        kids = [s for s in tracer.spans if s.parent == i]
        v = [s for s in kids if s.name == "workspace.validate_node_ids"]
        e = [s for s in kids if s.name == "workspace.build_edges"]
        if v:
            nodes += v[0].start - b.start
            val += v[0].dur
            edges += b.end - v[0].end
        elif e:
            nodes += e[0].start - b.start
            edges += b.end - e[0].start
        else:
            nodes += b.dur
    return nodes, val, edges


def catalyst(dfs: list) -> dict:
    phases = [spans.catalyst_phases(df) for df in dfs if df is not None]
    return {
        f"catalyst.{ph}_ms": _mean([p.get(ph, 0.0) for p in phases])
        for ph in ("analysis", "optimization", "planning")
    }


def common_layer_metrics(tracer: spans.Tracer, session_s: float, jobs: dict) -> dict:
    builds = tracer.named("workspace.build_workspace")
    rebuilt = sum(b.attrs.get("rebuilt", 0) for b in builds)
    nodes, val, edges = _build_phases(tracer)
    out = {
        "session.start_s": session_s,
        "workspace.build_nodes_s": nodes,
        "workspace.validate_ids_s": val,
        "workspace.build_edges_s": edges,
        "workspace.bytes_written": sum(b.attrs.get("bytes", 0) for b in builds),
        "workspace.labels_rebuilt": rebuilt,
        "workspace.rebuild_precision": (
            sum(b.attrs.get("needed", 0) for b in builds) / rebuilt if rebuilt else 1.0
        ),
        "workspace.load_s": tracer.total_s("workspace.load_workspace"),
        "workspace.load_calls": len(tracer.named("workspace.load_workspace")),
        "transactions.staged": len(tracer.named("transactions.stage")),
        "trace.overhead_ms": tracer.overhead_s * 1e3,
    }
    for name in GRAPH_OPS.values():
        out[f"{name}_s"] = tracer.total_s(name)
        out[f"{name}_jobs"] = jobs.get(name, 0)
    return out


def serve_layer_metrics(tracer: spans.Tracer, ops, t_loop: float) -> dict:
    """Request-path metrics over the timed loop."""
    def timed(name):
        return [s for s in tracer.named(name) if s.start >= t_loop]

    execs = timed("arcadesql.execute")
    dml = timed("workspace.dml")
    waits = []
    for i, s in enumerate(tracer.spans):
        if s.name == "arcadesql.execute" and s.start >= t_loop:
            first = [c.start for c in tracer.spans if c.parent == i and c.name == "workspace.dml"]
            if first:
                waits.append(min(first) - s.start)
    requests = timed("server.request")
    by_rid: dict = {}
    for s in requests:
        by_rid[s.rid] = by_rid.get(s.rid, 0.0) + s.dur
    overhead = [op.t1 - op.t0 - by_rid[op.rid] for op in ops if op.rid in by_rid]
    writes = sum(1 for op in ops if op.write)
    return {
        "workspace.dml_s": sum(s.dur for s in dml) / max(1, writes),
        "workspace.bytes_rewritten_per_write": sum(s.attrs.get("bytes", 0) for s in dml) / max(1, writes),
        "arcadesql.execute_ms": _mean([s.dur for s in execs]) * 1e3,
        "arcadesql.dml_wait_ms": _mean(waits) * 1e3,
        "graphql.execute_ms": _mean([s.dur for s in timed("graphql.execute")]) * 1e3,
        "server.collect_ms": _mean([s.self_s for s in requests]) * 1e3,
        "server.overhead_ms": _mean(overhead) * 1e3,
        "transactions.commit_ms": _mean([s.dur for s in timed("transactions.commit")]) * 1e3,
        **catalyst([s.attrs.get("df") for s in execs + timed("graphql.execute")]),
    }


def complete(layer: dict) -> dict:
    """Every per-layer metric, 0 where this workload has no such work."""
    return {m.name: layer.get(m.name, 0) for m in PER_LAYER}


def describe(metrics: dict) -> list:
    return [
        {"name": m.name, "value": metrics[m.name], "unit": m.unit, "moves": list(m.moves)}
        for m in PER_LAYER
    ]


def write_spans(tracer: spans.Tracer, workload: str, seed: int) -> str:
    """Write the run's spans as JSON lines under the work directory."""
    out_dir = os.path.join(harness.WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{workload}-{seed}.jsonl")
    with open(path, "w") as fh:
        for i, s in enumerate(tracer.spans):
            fh.write(json.dumps({
                "id": i, "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "rid": s.rid, "thread": s.thread,
                "self_s": s.self_s, "error": s.error,
                **{k: v for k, v in s.attrs.items() if k != "df"},
            }) + "\n")
    return path
