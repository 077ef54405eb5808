"""``serve`` workload: the HTTP server after ``create-start``.

Set-up starts the session, generates the sources, builds and loads the
workspace, starts the embedded server with writes enabled
(``cli.start_server``) and sends one read of every kind. Then two
timed closed loops run, each with one client thread per core sharing a
fixed, seeded list of operations; a client sends its next operation
only after the previous answer arrived.

- explore: blocks of 12 reads over seven statement kinds. The
  end-to-end metrics are taken over this loop.
- curate: blocks of the same 12 reads plus 4 writes (25%): an
  ``UPDATE``, an ``INSERT``, a ``DELETE VERTEX`` and a ``begin`` /
  ``commit`` transaction holding an update and an insert. Reads run
  side by side, but each write (a transaction from ``begin`` to
  ``commit``) waits for the reads in flight and runs alone: on the
  current engine a read that overlaps a DML dataset swap fails, and
  writes that overlap conflict, both at random, so a run's failure
  count would differ between runs of the same code. Setting
  ``PERFBENCH_OVERLAP_WRITES=1`` lets writes overlap reads and each
  other to reproduce those failures. Curate latencies are reported in
  the ``detail`` line.

Reads and writes touch disjoint keys, so every read has one right
answer, computed with DuckDB from the sources; writes are commutative,
so the final workspace is checked against the acknowledged writes by
reading its files with DuckDB once the loop ends. No operation is
retried; every non-2xx answer or client error counts as failed and is
recorded by error class.
"""

from __future__ import annotations

import base64
import http.client
import itertools
import json
import os
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import duckdb
import numpy as np

import gen
import harness
import spans
import stats
import tracing
from metrics import Result, end_to_end

SF = 0.01
READS = ["point"] * 3 + ["neighborhood"] * 2 + ["expand"] * 2 + [
    "match2", "traverse", "groupby"] + ["graphql"] * 2
WRITES = ["update", "insert", "delete", "txn"]
# blocks per second of --seconds, each about 4.5 s (explore: 12 reads)
# and 11 s (curate: 16 operations, writes alone) with 4 clients on 4 cores
EXPLORE_BLOCKS_PER_SECOND = 0.4
CURATE_BLOCKS_PER_SECOND = 0.1
ZIPF_S = 1.1
INSERT_BASE = 10_000_000


@dataclass
class Op:
    kind: str
    key: int = 0
    key2: int = 0  # second key: the insert half of a transaction
    rid: str = ""
    # filled in by the client
    status: int = 0
    error: str | None = None
    message: str = ""
    t0: float = 0.0
    t1: float = 0.0
    body: object = None

    @property
    def write(self) -> bool:
        return self.kind in WRITES

    @property
    def ok(self) -> bool:
        return self.error is None

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


@dataclass
class Keys:
    read: np.ndarray
    write: np.ndarray
    deletable: list  # orders of write-range customers, in seeded order


def key_space(seed: int, n_customers: int, orders_of: dict) -> Keys:
    rng = np.random.default_rng([seed, 1])
    half = n_customers // 2
    write = np.arange(half, n_customers)
    deletable = [o for c in write for o, _ in orders_of.get(int(c), [])]
    rng.shuffle(deletable)
    return Keys(rng.permutation(half), write, deletable)


def plan_ops(seed: int, stream: int, n_blocks: int, keys: Keys, first_insert: int,
             writes: bool = True) -> list[Op]:
    """A fixed operation list: ``n_blocks`` shuffled blocks, read keys
    Zipf-skewed over the read range, write keys uniform over the write
    range, each deleted order used once (and removed from ``keys``)."""
    rng = np.random.default_rng([seed, 2, stream])
    ranks = np.arange(1, len(keys.read) + 1, dtype=float)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    deletes = iter(list(keys.deletable))
    fresh = itertools.count(first_insert)
    ops: list[Op] = []
    for _ in range(n_blocks):
        block = []
        for kind in READS:
            key = int(keys.read[rng.choice(len(keys.read), p=p)])
            block.append(Op(kind, key))
        if writes:
            block.append(Op("update", int(rng.choice(keys.write))))
            block.append(Op("insert", next(fresh)))
            block.append(Op("delete", next(deletes)))
            block.append(Op("txn", int(rng.choice(keys.write)), next(fresh)))
        ops.extend(block[i] for i in rng.permutation(len(block)))
    used = {op.key for op in ops if op.kind == "delete"}
    keys.deletable = [o for o in keys.deletable if o not in used]
    return ops


# -- statements ----------------------------------------------------------------


def _sql(stmt: str) -> dict:
    return {"language": "sql", "command": stmt}


def read_request(op: Op, node_ids: dict) -> tuple[str, str, dict | None]:
    k = op.key
    if op.kind == "point":
        return "POST", "/api/v1/query/ws", _sql(f"SELECT FROM Customer WHERE natural_key = {k}")
    if op.kind == "neighborhood":
        return "GET", f"/api/v1/neighborhood/{node_ids[k]}", None
    if op.kind == "expand":
        return "POST", "/api/v1/query/ws", _sql(
            f"SELECT expand(out('PLACED')) FROM Customer WHERE natural_key = {k}")
    if op.kind == "match2":
        return "POST", "/api/v1/query/ws", _sql(
            f"MATCH {{type: Customer, as: c, where: (natural_key = {k})}}"
            "-PLACED->{type: Order, as: o}-CONTAINS->{type: Part, as: p} "
            "RETURN count(*) AS n")
    if op.kind == "traverse":
        return "POST", "/api/v1/query/ws", _sql(
            "TRAVERSE out('PLACED'), out('CONTAINS') FROM "
            f"(SELECT FROM Customer WHERE natural_key = {k}) MAXDEPTH 2")
    if op.kind == "groupby":
        return "POST", "/api/v1/query/ws", _sql(
            "SELECT c_mktsegment, count(*) AS n FROM Customer "
            f"WHERE natural_key <= {k} GROUP BY c_mktsegment")
    if op.kind == "graphql":
        return "POST", "/api/v1/query/ws", {
            "language": "graphql",
            "command": f"{{ Customer(natural_key: {k}) {{ natural_key c_acctbal "
                       "placed { natural_key o_orderstatus } } }",
        }
    raise ValueError(op.kind)


def update_stmt(k: int) -> str:
    return f"UPDATE Customer SET c_acctbal = c_acctbal + 1 WHERE natural_key = {k}"


def insert_stmt(k: int) -> str:
    return (f"INSERT INTO Customer SET natural_key = {k}, c_name = 'New#{k}', "
            "c_acctbal = 0.0, c_mktsegment = 'BUILDING'")


def delete_stmt(k: int) -> str:
    return f"DELETE VERTEX Order WHERE natural_key = {k}"


# -- client --------------------------------------------------------------------


class Client:
    def __init__(self, port: int, user: str, password: str) -> None:
        self.port = port
        tok = base64.b64encode(f"{user}:{password}".encode()).decode()
        self.auth = f"Basic {tok}"

    def send(self, method: str, path: str, body=None, headers=None, rid=None):
        """One request on a fresh connection: (status, headers, body)."""
        hdr = {"Authorization": self.auth, **(headers or {})}
        if rid is not None:
            hdr["X-Request-Id"] = rid
        data = None
        if body is not None:
            data = json.dumps(body).encode()
            hdr["Content-Type"] = "application/json"
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=150)
        try:
            conn.request(method, path, body=data, headers=hdr)
            resp = conn.getresponse()
            raw = resp.read()
            return resp.status, resp.headers, raw
        finally:
            conn.close()


def fail(op: Op, status: int, raw: bytes) -> None:
    """Record a failed answer: the bracketed Spark error class when the
    message has one, else the exception name, else the HTTP status."""
    try:
        msg = json.loads(raw or b"{}").get("error", "")
    except ValueError:
        msg = raw.decode(errors="replace")
    op.status, op.message = status, str(msg)[:300]
    op.error = harness.error_class(op.message, f"HTTP_{status}")


def execute(client: Client, op: Op, node_ids: dict, rid: str | None = None) -> None:
    op.t0 = time.perf_counter()
    try:
        if op.kind == "txn":
            _txn(client, op, rid)
        else:
            if op.write:
                stmt = {"update": update_stmt, "insert": insert_stmt,
                        "delete": delete_stmt}[op.kind](op.key)
                method, path, body = "POST", "/api/v1/command/ws", _sql(stmt)
            else:
                method, path, body = read_request(op, node_ids)
            status, _, raw = client.send(method, path, body, rid=rid)
            op.status = status
            if 200 <= status < 300:
                op.body = json.loads(raw)
            else:
                fail(op, status, raw)
    except (OSError, http.client.HTTPException, ValueError) as exc:
        op.error = type(exc).__name__
    op.t1 = time.perf_counter()


def _txn(client: Client, op: Op, rid: str | None) -> None:
    status, hdr, raw = client.send("POST", "/api/v1/begin/ws", {}, rid=rid)
    if status != 200:
        fail(op, status, raw)
        return
    sid = {"arcadedb-session-id": hdr["arcadedb-session-id"]}
    for stmt in (update_stmt(op.key), insert_stmt(op.key2)):
        status, _, raw = client.send("POST", "/api/v1/command/ws", _sql(stmt), sid, rid=rid)
        if status != 200:
            fail(op, status, raw)
            client.send("POST", "/api/v1/rollback/ws", {}, sid, rid=rid)
            return
    status, _, raw = client.send("POST", "/api/v1/commit/ws", {}, sid, rid=rid)
    op.status = status
    if status != 200:
        fail(op, status, raw)


class WriteGate:
    """Reads run together; a write waits for the reads in flight, holds
    new ones back and runs alone."""

    def __init__(self) -> None:
        self._cv = threading.Condition()
        self._reads = 0
        self._writers = 0  # waiting or writing
        self._writing = False

    @contextmanager
    def hold(self, write: bool):
        with self._cv:
            if write:
                self._writers += 1
                self._cv.wait_for(lambda: not self._writing and self._reads == 0)
                self._writing = True
            else:
                self._cv.wait_for(lambda: self._writers == 0)
                self._reads += 1
        try:
            yield
        finally:
            with self._cv:
                if write:
                    self._writing = False
                    self._writers -= 1
                else:
                    self._reads -= 1
                self._cv.notify_all()


def closed_loop(client: Client, ops: list[Op], n_clients: int, node_ids: dict,
                tracer: spans.Tracer | None, prefix: str,
                gate: WriteGate | None = None) -> float:
    """Run ``ops`` with ``n_clients`` closed-loop clients, each write
    alone when a ``gate`` is given; returns the wall time until the
    last answer arrived."""
    nxt = iter(range(len(ops)))
    lock = threading.Lock()
    errors: list[BaseException] = []
    hold = gate.hold if gate is not None else lambda write: nullcontext()

    def worker() -> None:
        try:
            while True:
                with lock:
                    i = next(nxt, None)
                if i is None:
                    return
                op = ops[i]
                op.rid = f"{prefix}{i}"
                with hold(op.write):
                    if tracer is None:
                        execute(client, op, node_ids)
                    else:
                        with tracer.span("client.request", rid=op.rid, kind=op.kind):
                            execute(client, op, node_ids, op.rid)
        except BaseException as exc:  # noqa: BLE001 - re-raised after join
            errors.append(exc)

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(n_clients)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    if errors:
        raise errors[0]
    return wall


# -- expected answers ------------------------------------------------------------


@dataclass
class Truth:
    cust: dict = field(default_factory=dict)  # key -> (name, acctbal, segment, nation)
    orders: dict = field(default_factory=lambda: defaultdict(list))  # key -> [(order, status)]
    lines: Counter = field(default_factory=Counter)  # key -> lineitems of its orders
    parts: dict = field(default_factory=lambda: defaultdict(set))  # key -> parts reached


def source_truth(src: str) -> Truth:
    con = duckdb.connect()
    try:
        q = lambda sql: con.execute(sql.replace("$", src)).fetchall()  # noqa: E731
        t = Truth()
        for k, name, bal, seg, nat in q(
            "SELECT c_custkey, c_name, c_acctbal, c_mktsegment, c_nationkey "
            "FROM '$/customer.parquet'"
        ):
            t.cust[k] = (name, bal, seg, nat)
        for o, c, st in q("SELECT o_orderkey, o_custkey, o_orderstatus FROM '$/orders.parquet'"):
            t.orders[c].append((o, st))
        for c, p in q(
            "SELECT o.o_custkey, l.l_partkey FROM '$/lineitem.parquet' l "
            "JOIN '$/orders.parquet' o ON l.l_orderkey = o.o_orderkey"
        ):
            t.lines[c] += 1
            t.parts[c].add(p)
        return t
    finally:
        con.close()


def expected(op: Op, t: Truth):
    k = op.key
    name, bal, seg, nat = t.cust[k]
    orders = sorted(t.orders.get(k, []))
    if op.kind == "point":
        return (name, bal, seg)
    if op.kind == "neighborhood":
        out = [("CUST_IN_NATION", "Nation", nat)] + [("PLACED", "Order", o) for o, _ in orders]
        return sorted(out), []
    if op.kind == "expand":
        return [o for o, _ in orders]
    if op.kind == "match2":
        return t.lines.get(k, 0)
    if op.kind == "traverse":
        rows = [("Customer", k, 0)] + [("Order", o, 1) for o, _ in orders]
        rows += [("Part", p, 2) for p in t.parts.get(k, ())]
        return sorted(rows)
    if op.kind == "groupby":
        seg_n = Counter(v[2] for c, v in t.cust.items() if c <= k)
        return sorted(seg_n.items())
    if op.kind == "graphql":
        return (k, bal, orders)
    raise ValueError(op.kind)


def observed(op: Op):
    b = op.body
    if op.kind == "neighborhood":
        out = sorted((e["edge"], e["type"], e["natural_key"]) for e in b["out"])
        inn = sorted((e["edge"], e["type"], e["natural_key"]) for e in b["in"])
        return out, inn
    rows = b["result"]
    if op.kind == "point":
        r = rows[0]
        return (r["c_name"], r["c_acctbal"], r["c_mktsegment"])
    if op.kind == "expand":
        return sorted(r["natural_key"] for r in rows)
    if op.kind == "match2":
        return rows[0]["n"]
    if op.kind == "traverse":
        return sorted((r["label"], r["natural_key"], r["depth"]) for r in rows)
    if op.kind == "groupby":
        return sorted((r["c_mktsegment"], r["n"]) for r in rows)
    if op.kind == "graphql":
        r = rows[0]
        placed = sorted((p["natural_key"], p["o_orderstatus"]) for p in r["placed"])
        return (r["natural_key"], r["c_acctbal"], placed)
    raise ValueError(op.kind)


def check_reads(ops: list[Op], t: Truth) -> list:
    bad = []
    for op in ops:
        if op.ok and not op.write:
            try:
                got = observed(op)
            except (KeyError, IndexError, TypeError) as exc:
                bad.append({"op": op.kind, "key": op.key, "error": f"bad payload: {exc!r}"})
                continue
            want = expected(op, t)
            if got != want:
                bad.append({"op": op.kind, "key": op.key, "got": str(got)[:200],
                            "want": str(want)[:200]})
    return bad


def _dataset(manifest: dict, kind: str, label: str) -> str:
    path = manifest[kind][label]["path"]
    return f"read_parquet('{os.path.join(path, '*.parquet')}')"


def check_writes(ws: str, ops: list[Op], t: Truth) -> list:
    """Acknowledged writes must be in the workspace files, read back
    with a fresh DuckDB connection; read-range keys must be untouched.
    A failed write's effect is unknown, so its keys only get bounds."""
    acked_upd, failed_upd = Counter(), Counter()
    acked_ins, acked_del = set(), set()
    for op in ops:
        if op.kind in ("update", "txn"):
            (acked_upd if op.ok else failed_upd)[op.key] += 1
        if op.ok and op.kind == "insert":
            acked_ins.add(op.key)
        if op.ok and op.kind == "txn":
            acked_ins.add(op.key2)
        if op.ok and op.kind == "delete":
            acked_del.add(op.key)
    with open(os.path.join(ws, "manifest.json")) as fh:
        manifest = json.load(fh)
    con = duckdb.connect()
    bad = []
    try:
        cust = dict(con.execute(
            f"SELECT natural_key, c_acctbal FROM {_dataset(manifest, 'nodes', 'Customer')}"
        ).fetchall())
        for k, (_, bal, _, _) in t.cust.items():
            lo = bal + acked_upd[k]
            hi = lo + failed_upd[k]
            got = cust.get(k)
            if got is None or not (lo - 1e-6 <= got <= hi + 1e-6):
                bad.append({"check": "acctbal", "key": k, "got": got, "want": [lo, hi]})
        missing = sorted(k for k in acked_ins if k not in cust)
        if missing:
            bad.append({"check": "insert", "missing": missing[:10]})
        orders = dict(con.execute(
            f"SELECT natural_key, node_id FROM {_dataset(manifest, 'nodes', 'Order')}"
        ).fetchall())
        present = sorted(k for k in acked_del if k in orders)
        if present:
            bad.append({"check": "delete", "still_present": present[:10]})
        # the cascade: no edge may still point at a deleted order
        ends = {r[0] for r in con.execute(
            f"SELECT src FROM {_dataset(manifest, 'edges', 'CONTAINS')} "
            f"UNION ALL SELECT dst FROM {_dataset(manifest, 'edges', 'PLACED')}"
        ).fetchall()}
        dangling = len(ends - set(orders.values()))
        if dangling:
            bad.append({"check": "cascade", "dangling_order_ids": dangling})
    finally:
        con.close()
    return bad


# -- run -------------------------------------------------------------------------


def run(seed: int, seconds: int, trace: bool, run_dir: str, t_start: float) -> Result:
    tracer = spans.Tracer() if trace else None
    if tracer is not None:
        tracing.install(tracer)
    from biodwh2_arcadedb_server_spark import cli, workspace
    from biodwh2_arcadedb_server_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench-serve")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    srv = None
    try:
        if tracer is not None:
            tracer.attach(spark)
            meter = spans.SparkMeter(spark)
            mark0 = meter.mark()
        src, ws = os.path.join(run_dir, "src"), os.path.join(run_dir, "ws")
        gen.generate(src, seed, SF)
        t_build = time.perf_counter()
        workspace.build_workspace(spark, src, ws)
        build_s = time.perf_counter() - t_build
        workspace.load_workspace(spark, ws)
        srv = cli.start_server(spark, "0", workspace_dir=ws, allow_writes=True)
        if tracer is not None:
            tracing.install_server(tracer, srv)
        client = Client(srv.port, srv.username, srv.password)

        truth = source_truth(src)
        with open(os.path.join(ws, "manifest.json")) as fh:
            manifest = json.load(fh)
        con = duckdb.connect()
        try:
            node_ids = dict(con.execute(
                f"SELECT natural_key, node_id FROM {_dataset(manifest, 'nodes', 'Customer')}"
            ).fetchall())
        finally:
            con.close()
        keys = key_space(seed, len(truth.cust), truth.orders)
        clients = len(os.sched_getaffinity(0))
        # one read of every kind warms the plans the explore loop
        # measures; the curate loop's writes run cold, as they only
        # feed the detail line and the write checks
        warm = list({op.kind: op for op in plan_ops(seed, 0, 1, keys, 0, writes=False)}.values())
        warm_s = closed_loop(client, warm, clients, node_ids, None, "w")
        explore = plan_ops(seed, 1, max(1, round(seconds * EXPLORE_BLOCKS_PER_SECOND)),
                           keys, 0, writes=False)
        curate = plan_ops(seed, 2, max(1, round(seconds * CURATE_BLOCKS_PER_SECOND)),
                          keys, INSERT_BASE + 100)
        setup_s = time.perf_counter() - t_start

        if tracer is not None:
            mark = meter.mark()
        t_loop, e_loop = time.perf_counter(), time.time()
        wall = closed_loop(client, explore, clients, node_ids, tracer, "e")
        overlap = os.environ.get("PERFBENCH_OVERLAP_WRITES") == "1"
        curate_wall = closed_loop(client, curate, clients, node_ids, tracer, "c",
                                  None if overlap else WriteGate())
        e_end = time.time()
        srv.stop()
        srv = None

        ops = explore + curate
        mismatches = check_reads(warm + ops, truth) + check_writes(ws, warm + ops, truth)
        failed = [op for op in ops if not op.ok]
        writes_iv = [(op.t0, op.t1) for op in curate if op.write]
        reads_failed_during_write = sum(
            1 for op in failed if not op.write
            and any(a < op.t1 and op.t0 < b for a, b in writes_iv)
        )
        e2e = end_to_end(setup_s, wall, [(op.kind, op.t1 - op.t0 if op.ok else None)
                                         for op in explore])
        detail = {
            "end_to_end": e2e,
            "setup": {"session_s": session_s, "build_s": build_s, "warm_s": warm_s},
            "explore": _phase(explore, wall),
            "curate": _phase(curate, curate_wall),
            "reads_failed_during_write": reads_failed_during_write,
            "curate_writes_alone": not overlap,
        }
        metrics = dict(e2e)
        if tracer is not None:
            layer = meter.since(mark, e_loop, e_end)
            jobs = meter.jobs_by_description(mark0)
            layer.update(tracing.common_layer_metrics(tracer, session_s, jobs))
            layer.update(tracing.serve_layer_metrics(tracer, ops, t_loop))
            layer["server.reads_failed_during_write"] = reads_failed_during_write
            layer["session.rss_peak_mb"] = harness.peak_rss_mb()
            layer["workspace.files"] = sum(len(fs) for _, _, fs in os.walk(ws))
            tracer.uninstall()
            metrics.update(tracing.complete(layer))
            detail["layers"] = tracing.describe(metrics)
            detail["spans"] = tracing.write_spans(tracer, "serve", seed)
        return Result(metrics, len(ops), len(failed), mismatches, detail)
    finally:
        if srv is not None:
            srv.stop()
        harness.stop_spark(spark)


def _phase(ops: list[Op], wall: float) -> dict:
    ok = [op for op in ops if op.ok]
    failed = [op for op in ops if not op.ok]
    return {
        "operations": len(ops),
        "wall_s": wall,
        "ok_per_s": len(ok) / wall,
        "reads": _latency([op.ms for op in ok if not op.write]),
        "writes": _latency([op.ms for op in ok if op.write]),
        "by_kind": {
            k: _latency([op.ms for op in ok if op.kind == k])
            for k in sorted({op.kind for op in ops})
        },
        "failed_ratio": len(failed) / len(ops),
        "failures": dict(Counter(f"{op.kind}:{op.error}" for op in failed)),
        "failure_examples": {f"{op.kind}:{op.error}": op.message for op in failed},
        "ops": [[op.kind, round(op.ms, 1), op.error] for op in ops],
    }


def _latency(ms: list[float]) -> dict:
    if not ms:
        return {"n": 0}
    out = {"n": len(ms), "p50_ms": stats.median(ms)}
    tail = stats.highest_percentile(ms)
    if tail is not None:
        out[f"p{int(tail[0])}_ms"] = tail[1]
    return out
