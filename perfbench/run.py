"""perfbench — the repository's benchmark: what a g4s graph-DB user waits for.

    python3 perfbench/run.py --workload oltp_read --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. One process, one SparkSession at
``local[nproc]``. Workloads (see README.md for the why of each):

    oltp_read    closed loop, nproc clients, short anchored Cypher reads
    olap_match   closed loop, 1 client, whole-graph matches to the noop sink
    analytics    closed loop, 1 client, passes of bfs/sssp/pagerank/mxm
    write_chain  chains of K GraphDB.update writes, each checked by a read

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The lines before it are the
human-readable report: the pinned environment, the workload's own metric
names with sample counts, and with tracing the layer -> metric map.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

import numpy as np  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")  # git-ignored: data, Spark scratch, traces
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import ops  # noqa: E402
from probes import HostClock, JvmCounters, Tracer, rss_mb, tree_cpu_s, tree_peak_rss_mb  # noqa: E402

SETUP_CLOCK = HostClock(start=T_PROCESS)

WORKLOADS = ["oltp_read", "olap_match", "analytics", "write_chain"]
DEFAULT_SF = 0.005
DRIVER_MEM = "3g"

# Every workload reports the same end-to-end metrics over its own op
# (a read, a match, an analytics pass, a write chain); the report names
# them per workload. The tail is p75, which has 5-7 samples beyond it
# in a 6 s oltp_read run; p90 is printed with its count.
OP_NAMES = {"oltp_read": "read", "olap_match": "match", "analytics": "analytics_pass",
            "write_chain": "write_chain"}
# the report's names for ops_per_s and op_p50_s, per workload
RATE_P50_NAMES = {"oltp_read": ("read_qps", "read_p50_s"), "olap_match": ("match_qps", "match_p50_s"),
                  "analytics": ("analytics_passes_per_s", "analytics_pass_s"),
                  "write_chain": ("write_chains_per_s", "write_chain_s")}
E2E_UNITS = {"setup_s": "s", "live_mb": "MB", "ops_per_s": "1/s", "op_p50_s": "s", "op_p75_s": "s"}

# per-layer metric -> (unit, the end-to-end metric it should move)
LAYER_METRICS = {
    "session.start_s": ("s", "setup_s (all)"),
    "graph.build_s": ("s", "setup_s (all)"),
    "graph.materialize_s": ("s", "setup_s (all)"),
    "graph.cached_mb": ("MB", "live_mb (all)"),
    "cypher.parse_s": ("s", "read_p50_s (oltp_read); ~0 on analytics"),
    "plans.build_s": ("s", "read_p50_s (oltp_read)"),
    "plans.steps_per_query": ("count", "match_p50_s (olap_match)"),
    "session.optimize_s": ("s", "read_p50_s (oltp_read), match_p50_s (olap_match)"),
    "session.execute_s": ("s", "every latency metric"),
    "session.jobs_per_op": ("count", "read_p50_s (oltp_read), analytics_pass_s (analytics)"),
    "session.tasks_per_op": ("count", "read_p50_s (oltp_read), analytics_pass_s (analytics)"),
    "session.shuffle_bytes_per_op": ("B", "match_p50_s (olap_match), analytics_pass_s (analytics)"),
    "session.gc_s": ("s", "read_p75_s, match_p75_s, analytics_pass_s"),
    "session.cpu_util": ("ratio", "read_qps (oltp_read), analytics_pass_s (analytics)"),
    "session.failed_tasks": ("count", "op_error_ratio (all)"),
    "operators.bfs_s": ("s", "analytics_pass_s (analytics)"),
    "operators.sssp_s": ("s", "analytics_pass_s (analytics)"),
    "operators.pagerank_s": ("s", "analytics_pass_s (analytics)"),
    "grblas.mxm_s": ("s", "analytics_pass_s (analytics)"),
    "trace.overhead_s": ("s", "traced op_p50_s - untraced op_p50_s"),
}
STEP_SPANS = {"bfs": "operators.bfs", "sssp": "operators.sssp",
              "pagerank": "operators.pagerank", "mxm_any_pair": "grblas.mxm"}
ANALYTICS_GATES = ["graph_bfs", "graph_sssp", "graph_pagerank", "mxm_any_pair"]
REQUIRED = ["g4s_spark/__init__.py", "__spark_entry__.py", "scripts/check_correctness.py"]
# write_chain's own layer metrics (the workload is not in BENCHMARK.json)
WRITE_LAYER_METRICS = {
    "db.update_s": ("s", "write_p50_s, write_p90_s (write_chain)"),
    "graph.stats_s": ("s", "raw_read_p50_s, write_chain_s (write_chain)"),
    "graph.plan_depth": ("count", "raw_read_p50_s (write_chain)"),
}


def pct(xs, q: float) -> float:
    """Linear-interpolated percentile; 0.0 for no samples (all ops failed)."""
    return float(np.percentile(xs, q)) if xs else 0.0


def norm_value(v):
    """Props come back as strings ('140618.1'); compare them as numbers."""
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return v
    return v


def norm_rows(rows) -> list[tuple]:
    return sorted((tuple(norm_value(v) for v in r) for r in rows), key=repr)


def clients(workload: str) -> int:
    """oltp_read runs one client per core; the other workloads one client."""
    return len(os.sched_getaffinity(0)) if workload == "oltp_read" else 1


def pin_env(args) -> dict:
    """Pin every knob that changes the numbers, before the JVM starts, and
    keep Spark's and Java's scratch files inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "G4S_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }
    os.environ.update(env)
    os.environ.pop("G4S_CHECKPOINT_DIR", None)
    return {
        "SPARK_GRAFT_CPUS": cpus, "G4S_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.relpath(local, ROOT),
        "clients": clients(args.workload),
        "K": ops.CHAIN_K if args.workload == "write_chain" else None,
        "seed": args.seed, "sf": args.sf, "seconds": args.seconds,
    }


class Bench:
    """One run: session + graph set up once, then timed windows and checks."""

    def __init__(self, args, data_dir: str, tracer: Tracer):
        from g4s_spark.db import GraphDB
        from g4s_spark.graph import build_graph
        from g4s_spark.session import get_spark

        self.args = args
        self.data_dir = data_dir
        self.sizes = datagen.Sizes.for_sf(args.sf)
        self.tr = tracer
        with tracer.span("session.start"):
            self.spark = get_spark("perfbench")
        with tracer.span("graph.build"):
            self.graph = build_graph(self.spark, data_dir)
        with tracer.span("graph.materialize"):
            self.graph.label_nodes(None).count()
            self.graph.edges.count()
        self.db = GraphDB(self.graph)
        self.jvm = JvmCounters(self.spark)
        self.ops_done = 0
        self.failed = 0
        self.errors: list[str] = []
        self.read_results: dict[tuple, tuple] = {}  # (template, cid) -> rows
        self.read_keys: dict[tuple, int] = defaultdict(int)  # executions per key
        self.kind_ops: dict[str, int] = defaultdict(int)  # executions per kind
        self.extra: dict[str, list[float]] = defaultdict(list)
        self._lock = threading.Lock()

    # -- shared op steps ---------------------------------------------------

    def _fail(self, what: str) -> None:
        with self._lock:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(what)

    def _query(self, db, text: str, params: dict | None, sink: str):
        """Build, (traced: plan), and execute one Cypher read."""
        from g4s_spark.cypher.parser import bind_params, parse, split_with

        tr = self.tr
        if tr.enabled:
            with tr.span("cypher.parse"):
                bound = bind_params(text, params) if params else text
                if split_with(bound) is None:
                    parse(bound)
        with tr.span("plans.build"):
            df = db.query(text, params=params)
        if tr.enabled:
            with tr.span("session.optimize"):
                df._jdf.queryExecution().executedPlan()
        if sink == "collect":
            with tr.span("session.execute"):
                return [tuple(r) for r in df.collect()]
        self._noop(df)
        return None

    def _noop(self, df) -> None:
        with self.tr.span("session.execute"):
            df.write.format("noop").mode("overwrite").save()

    def _op(self, op_id: int, kind: str, fn, traced: bool) -> tuple[float, float] | None:
        """Time one op, recording its spans if ``traced``; returns its
        (wall, steal-corrected) latency, or None if it raised."""
        self.tr.set_enabled(traced)
        if traced:
            self.spark.sparkContext.setJobGroup(f"op{op_id}", kind, False)
        clock = HostClock()
        try:
            with self.tr.span(f"op:{kind}", op=op_id):
                fn()
        except Exception:  # an op failure is a measured outcome, not a crash
            self._fail(f"{kind}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            self.tr.set_enabled(False)
            if traced:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.kind_ops[kind] += 1
        return clock.read()

    # -- workloads -----------------------------------------------------------

    def read(self, op: ops.Op) -> None:
        rows = self._query(self.db, op.text, op.params, "collect")
        key = (op.kind, op.params["cid"])
        rows = tuple(norm_rows(rows))
        with self._lock:
            self.read_keys[key] += 1
            prev = self.read_results.setdefault(key, rows)
        if prev != rows:
            self._fail(f"{key}: result differs between executions")

    def analytics_step(self, op: ops.Op) -> None:
        from g4s_spark.operators import bfs, pagerank, sssp

        with self.tr.span(STEP_SPANS[op.kind]):
            if op.kind == "bfs":
                self._noop(bfs(self.graph, [op.params["src"]]))
            elif op.kind == "sssp":
                self._noop(sssp(self.graph, [op.params["src"]]))
            elif op.kind == "pagerank":
                self._noop(pagerank(self.graph, iters=op.params["iters"]))
            else:
                self._noop(self.gates["mxm_any_pair"](self.spark, self.data_dir))

    def chain(self, writes: list[ops.Write]) -> None:
        """K writes from the base graph; each followed by a stats touch and
        the read that must see it. A missed write counts as a failure."""
        db = self.db
        for w in writes:
            t0 = time.perf_counter()
            with self.tr.span("db.update"):
                db = db.update(w.text)
            t1 = time.perf_counter()
            with self.tr.span("graph.stats"):
                db.graph.stats  # noqa: B018 — first access computes the stats
            t2 = time.perf_counter()
            with self.tr.span("db.read"):
                rows = self._query(db, w.read, w.params, "collect")
            t3 = time.perf_counter()
            self.extra["write_s"].append(t1 - t0)
            self.extra["stats_s"].append(t2 - t1)
            self.extra["raw_read_s"].append(t3 - t2)
            if norm_rows(rows) != norm_rows(w.expect):
                self._fail(f"{w.kind}: read {rows} missed write {w.expect}")
        g = db.graph
        self.extra["plan_depth"].append(
            g.nodes._jdf.queryExecution().logical().treeString().count("\n")
            + g.edges._jdf.queryExecution().logical().treeString().count("\n")
        )

    # -- setup, windows, checks -------------------------------------------

    def warm(self) -> None:
        """Execute every template, query or step once on the benchmark's
        graph, with the sink the window uses; part of setup."""
        import __spark_entry__ as entry

        self.entry = entry
        self.gates = entry.queries()
        w = self.args.workload
        if w == "oltp_read":
            for kind, text in ops.READ_TEMPLATES.items():
                self._query(self.db, text, {"cid": ops.CUSTOMER_OFF}, "collect")
        elif w == "olap_match":
            for text in ops.MATCH_QUERIES.values():
                self._query(self.db, text, None, "noop")
        elif w == "analytics":
            for kind in ops.ANALYTICS_STEPS:
                self.analytics_step(ops.Op(kind, params={"src": ops.CUSTOMER_OFF,
                                                         "iters": ops.PAGERANK_ITERS}))
        else:  # a missed write here counts like any other
            self.chain(next(ops.write_stream(-1 % 2**32, self.sizes)))
            self.extra.clear()
            self.kind_ops["chain"] += 1

    def window(self, seconds: float, stream, trace: bool) -> dict:
        """One closed-loop measurement window. With ``trace``, every other
        op records spans, so traced and untraced latencies share the same
        stretch of time. Returns the latencies (steal-corrected, and wall for
        the report) and the process-tree CPU and JVM counters over the
        window."""
        w = self.args.workload
        lat: dict[bool, list[tuple[float, float]]] = {False: [], True: []}
        by_kind: dict[str, list[float]] = defaultdict(list)  # untraced, steal-corrected
        traced_ids: list[int] = []
        done_before = self.ops_done
        jvm0, gc0, cpu0 = self.jvm.executor(), self.jvm.gc_s(), tree_cpu_s()
        clock = HostClock()
        deadline = clock.t0 + seconds
        lock = threading.Lock()

        def run_op(kind: str, fn) -> None:
            with lock:
                self.ops_done += 1
                op_id = self.ops_done
            traced = trace and op_id % 2 == 1
            x = self._op(op_id, kind, fn, traced)
            if x is not None:
                with lock:
                    lat[traced].append(x)
                    if traced:
                        traced_ids.append(op_id)
                    else:
                        by_kind[kind].append(x[1])

        if w == "oltp_read":
            issued = 0

            def client() -> None:
                nonlocal issued
                while True:
                    with lock:
                        # stop at the first whole block of the template mix
                        # after the deadline, so every run holds the exact mix
                        if time.perf_counter() >= deadline and issued % ops.READ_BLOCK == 0:
                            return
                        op = next(stream)
                        issued += 1
                    run_op(op.kind, lambda: self.read(op))

            threads = [threading.Thread(target=client) for _ in range(clients(w))]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        else:
            while time.perf_counter() < deadline:
                unit = next(stream)
                if w == "olap_match":  # whole cycles keep the query mix exact
                    for op in unit:
                        run_op(op.kind, lambda op=op: self._query(self.db, op.text, None, "noop"))
                elif w == "analytics":
                    run_op("pass", lambda: [self.analytics_step(op) for op in unit])
                else:
                    run_op("chain", lambda: self.chain(unit))
        elapsed, steal_free = clock.read()
        jvm1 = self.jvm.executor()
        n = max(self.ops_done - done_before, 1)
        return {
            "lat": [a for _, a in lat[False]], "lat_wall": [x for x, _ in lat[False]],
            "lat_traced": [a for _, a in lat[True]], "traced_ids": traced_ids,
            "busy_share": steal_free / elapsed, "by_kind": by_kind, "span": steal_free,
            "cpu_util": (tree_cpu_s() - cpu0) / (elapsed * len(os.sched_getaffinity(0))),
            "gc_s": (self.jvm.gc_s() - gc0) / n,
            "shuffle_bytes": (jvm1["shuffle_bytes"] - jvm0["shuffle_bytes"]) / n,
            "failed_tasks": jvm1["failed_tasks"] - jvm0["failed_tasks"],
        }

    def check(self) -> list[str]:
        """Correctness of everything the windows executed, outside the timed
        region; returns one line per check and counts mismatches as failed
        ops."""
        w = self.args.workload
        if w == "oltp_read":
            return self._check_reads()
        if w in ("olap_match", "analytics"):
            self._run_gates(list(ops.MATCH_QUERIES) if w == "olap_match" else ANALYTICS_GATES)
            for name, ok in self.gate_ok.items():
                if not ok:  # every timed op that ran this query (a pass runs every step) was wrong
                    self._fail_n(max(1, self.kind_ops["pass" if name in ANALYTICS_GATES else name]),
                                 f"{name}: mismatch")
            return self.gate_lines
        return [f"read-your-writes: {self.failed} missed of {self.kind_ops['chain'] * ops.CHAIN_K} writes"]

    def _duck(self):
        import duckdb

        con = duckdb.connect()
        for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        return con

    def _check_reads(self) -> list[str]:
        from g4s_spark.graph.tpch import CUSTOMER_OFF, SQL_IDS

        sel = {
            "hop1": f"{SQL_IDS['Order']} AS o FROM orders",
            "hop2": f"{SQL_IDS['Lineitem']} AS l FROM orders JOIN lineitem ON l_orderkey = o_orderkey",
            "hop3": f"{SQL_IDS['Part']} AS p FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
                    "JOIN part ON l_partkey = p_partkey",
            "prop": f"{SQL_IDS['Order']} AS o, o_totalprice AS price FROM orders",
        }
        con = self._duck()
        bad = 0
        for kind in ops.READ_TEMPLATES:
            cids = sorted(c for k, c in self.read_results if k == kind)
            if not cids:
                continue
            sql = (f"SELECT DISTINCT CAST({CUSTOMER_OFF} + o_custkey AS BIGINT) AS cid, {sel[kind]} "
                   f"WHERE o_custkey IN ({', '.join(str(c - CUSTOMER_OFF) for c in cids)})")
            want = defaultdict(list)
            for row in con.sql(sql).fetchall():
                want[row[0]].append(row[1:])
            for cid in cids:
                if self.read_results[(kind, cid)] != tuple(norm_rows(want[cid])):
                    bad += 1
                    self._fail_n(self.read_keys[(kind, cid)], f"{kind} cid={cid}: wrong rows")
        return [f"oltp_read: {len(self.read_results)} distinct (template, cid) checked "
                f"against DuckDB, {bad} wrong"]

    def _fail_n(self, n: int, what: str) -> None:
        for _ in range(n):
            self._fail(what)

    def _run_gates(self, names: list[str]) -> None:
        """Run each named gate once, after the window, on the benchmark's own
        cached graph (the gates' ``build_graph`` is pointed at it), and
        compare its rows to the DuckDB oracle by check_correctness.value_hash."""
        spec = importlib.util.spec_from_file_location(
            "check_correctness", os.path.join(ROOT, "scripts", "check_correctness.py"))
        cc = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(cc)
        oracles = self.entry.oracle_sql()
        con = self._duck()
        self.gate_ok, self.gate_lines = {}, []
        build_graph, self.entry.build_graph = self.entry.build_graph, lambda spark, sf_dir: self.graph
        try:
            for name in names:
                try:
                    sdf = self.gates[name](self.spark, self.data_dir)
                    tbl = sdf.toArrow()
                    srows = list(zip(*[c.to_pylist() for c in tbl.columns]))
                    rel = con.sql(oracles[name])
                    sh, sn = cc.value_hash(sdf.columns, srows)
                    oh, on = cc.value_hash(rel.columns, rel.fetchall())
                    ok = sorted(sdf.columns) == sorted(rel.columns) and (sh, sn) == (oh, on)
                    if name in ops.MATCH_QUERIES:  # the timed text must be the gate's text
                        ok = ok and self.gates[name].__closure__[0].cell_contents == ops.MATCH_QUERIES[name]
                except Exception:  # a raising gate is a wrong result
                    ok, sn = False, 0
                    self.errors.append(traceback.format_exc(limit=3))
                self.gate_ok[name] = ok
                self.gate_lines.append(f"{name}: {sn} rows, {'hash match' if ok else 'MISMATCH'} vs DuckDB oracle")
        finally:
            self.entry.build_graph = build_graph

    # -- per-layer numbers from the spans ------------------------------------

    def layer_metrics(self, win: dict) -> dict[str, float]:
        tr = self.tr
        ids = set(win["traced_ids"])
        per_op: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        setup = {}
        for s in tr.spans:
            if s.op in ids:
                per_op[s.name][s.op] += s.end - s.start
            elif s.op is None and s.name in ("session.start", "graph.build", "graph.materialize"):
                setup[s.name] = s.end - s.start

        def med(name: str) -> float:
            vals = [per_op[name].get(i, 0.0) for i in ids]
            return float(np.median(vals)) if vals and per_op.get(name) else 0.0

        jobs = tasks = 0
        for i in ids:
            j, t = self.jvm.group_jobs_tasks(f"op{i}")
            jobs, tasks = jobs + j, tasks + t
        n = max(len(ids), 1)
        m = {
            "session.start_s": setup.get("session.start", 0.0),
            "graph.build_s": setup.get("graph.build", 0.0),
            "graph.materialize_s": setup.get("graph.materialize", 0.0),
            "graph.cached_mb": self.cached_mb,
            "cypher.parse_s": med("cypher.parse"),
            "plans.build_s": med("plans.build"),
            "plans.steps_per_query": self.steps_per_query(),
            "session.optimize_s": med("session.optimize"),
            "session.execute_s": med("session.execute"),
            "session.jobs_per_op": jobs / n,
            "session.tasks_per_op": tasks / n,
            "session.shuffle_bytes_per_op": win["shuffle_bytes"],
            "session.gc_s": win["gc_s"],
            "session.cpu_util": win["cpu_util"],
            "session.failed_tasks": win["failed_tasks"],
            "operators.bfs_s": med("operators.bfs"),
            "operators.sssp_s": med("operators.sssp"),
            "operators.pagerank_s": med("operators.pagerank"),
            "grblas.mxm_s": med("grblas.mxm"),
            "trace.overhead_s": (pct(win["lat_traced"], 50) - pct(win["lat"], 50)
                                 if win["lat"] and win["lat_traced"] else 0.0),
        }
        if self.args.workload == "write_chain":
            m["db.update_s"] = pct(self.extra["write_s"], 50)
            m["graph.stats_s"] = pct(self.extra["stats_s"], 50)
            m["graph.plan_depth"] = float(np.median(self.extra["plan_depth"]))
        # self time of each op's root span: time no layer span covers
        selft = tr.self_times()
        self.unattributed = [selft[s.sid] for s in tr.spans if s.op in ids and s.name.startswith("op:")]
        self.self_by_layer = defaultdict(list)
        for s in tr.spans:
            if s.op in ids and not s.name.startswith("op:"):
                self.self_by_layer[s.name].append(selft[s.sid])
        return m

    def steps_per_query(self) -> float:
        """Planner steps per executed query, over single-stage queries
        (plan() does not cover WITH pipelines)."""
        from g4s_spark.cypher.parser import bind_params, split_with

        texts = {}
        if self.args.workload == "oltp_read":
            texts = {k: bind_params(t, {"cid": ops.CUSTOMER_OFF}) for k, t in ops.READ_TEMPLATES.items()}
        elif self.args.workload == "olap_match":
            texts = dict(ops.MATCH_QUERIES)
        steps = {k: len(self.db.plan(t).steps) for k, t in texts.items() if split_with(t) is None}
        total = sum(self.kind_ops[k] * s for k, s in steps.items())
        count = sum(self.kind_ops[k] for k in steps)
        return total / count if count else 0.0

    def stop(self) -> None:
        """Stop Spark and the JVM gateway process, and wait for it to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="scale factor of the generated graph (smoke test: 0.001)")
    args = ap.parse_args(argv)
    if args.seconds <= 0 or args.sf <= 0:
        ap.error("--seconds and --sf must be positive")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: {missing} not found; run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    env = pin_env(args)
    t_gen = time.perf_counter()
    data_dir = datagen.ensure_data(os.path.join(WORK, "data"), args.sf)
    gen_s = time.perf_counter() - t_gen

    tracer = Tracer()
    tracer.set_enabled(bool(args.trace))  # setup spans, on this thread
    bench = Bench(args, data_dir, tracer)
    try:
        with tracer.span("setup.warm"):
            bench.warm()
        tracer.set_enabled(False)
        wall, steal_free = SETUP_CLOCK.read()
        setup_wall = wall - gen_s
        setup_share = steal_free / wall
        bench.cached_mb = bench.jvm.cached_mb()
        live_parts = dict(bench.jvm.live_mb(), python=rss_mb(os.getpid()))
        w = args.workload
        res = bench.window(args.seconds, ops.stream(w, args.seed, bench.sizes), bool(args.trace))
        checks = bench.check()
        peak_rss = tree_peak_rss_mb()
        layers = bench.layer_metrics(res) if args.trace else None
    finally:
        bench.stop()

    lat = res["lat"]  # traced ops are not in the end-to-end percentiles
    attempted = sum(bench.kind_ops.values())
    if w == "write_chain":
        attempted *= ops.CHAIN_K
    e2e = {
        "setup_s": setup_wall * setup_share,
        "live_mb": sum(live_parts.values()),
        "ops_per_s": (len(lat) + len(res["lat_traced"])) / res["span"],
        "op_p50_s": pct(lat, 50),
        "op_p75_s": pct(lat, 75),
    }
    print(f"perfbench workload={w} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("env " + json.dumps(env, sort_keys=True))
    print(f"data {os.path.relpath(data_dir, ROOT)} (generated in {gen_s:.2f} s)")
    print(f"host times below are steal-corrected (modelled): busy share of CPU time {setup_share:.3f} "
          f"in setup, {res['busy_share']:.3f} in the window; measured wall values:")
    print("raw " + json.dumps({
        "setup_s": setup_wall, "op_p50_s": pct(res["lat_wall"], 50), "op_p75_s": pct(res["lat_wall"], 75),
        "busy_share_setup": setup_share, "busy_share_window": res["busy_share"], "peak_rss_mb": peak_rss}))
    print("memory after setup, MiB " + " ".join(f"{k}={v:.1f}" for k, v in live_parts.items())
          + f"; peak_rss_mb {peak_rss:.6g} (not gated)")
    op = OP_NAMES[w]
    rate_name, p50_name = RATE_P50_NAMES[w]
    for k, v in e2e.items():
        name = {"ops_per_s": rate_name, "op_p50_s": p50_name}.get(k, k.replace("op_", op + "_"))
        print(f"metric {name:<24} "
            f"{v:.6g} {E2E_UNITS[k]}" + (f" (n={len(lat)})" if k.startswith("op") else ""))
    print(f"metric {op + '_p90_s':<24} {pct(lat, 90):.6g} s (n={len(lat)})")
    for q in (75, 90):
        print(f"samples {op}_p{q}_s: {sum(x > pct(lat, q) for x in lat)} of {len(lat)} beyond")
    if lat:
        print("latency quantiles " + " ".join(
            f"p{q}={pct(lat, q):.4g}" for q in (10, 25, 50, 75, 90, 100)) + " s")
        print("latency p50 by kind " + " ".join(
            f"{k}={pct(v, 50):.4g}(n={len(v)})" for k, v in sorted(res["by_kind"].items())) + " s")
    if w == "write_chain":
        for label, key, q in [("write_p50_s", "write_s", 50), ("write_p90_s", "write_s", 90),
                              ("raw_read_p50_s", "raw_read_s", 50), ("stats_p50_s", "stats_s", 50)]:
            print(f"metric {label:<24} {pct(bench.extra[key], q):.6g} s (n={len(bench.extra[key])})")
    print(f"metric {'op_error_ratio':<24} {bench.failed / max(attempted, 1):.6g} ratio "
        f"({bench.failed} of {attempted})")
    for line in checks:
        print("check " + line)
    for e in bench.errors:
        print("error " + e, file=sys.stderr)
    if layers is not None:
        print(f"trace {len(tracer.spans)} spans, {len(res['lat_traced'])} traced and {len(lat)} untraced "
            f"ops; tracing overhead (traced - untraced op_p50) {layers['trace.overhead_s']:.4g} s")
        print(f"trace unattributed op self-time p50 {pct(bench.unattributed, 50):.4g} s; "
            "layer self-time p50: " + ", ".join(
                f"{k}={pct(v, 50):.4g}" for k, v in sorted(bench.self_by_layer.items())))
        table = dict(LAYER_METRICS, **(WRITE_LAYER_METRICS if w == "write_chain" else {}))
        for k, v in layers.items():
            unit, moves = table[k]
            print(f"layer {k:<30} {v:.6g} {unit:<6} -> {moves}")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{w}-seed{args.seed}.jsonl"), "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(s.__dict__) + "\n")
        metrics = {k: {"value": v, "unit": table[k][0]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": bench.failed == 0, "attempted": max(attempted, 1),
                      "failed": bench.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
