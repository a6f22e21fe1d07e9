#!/usr/bin/env python3
"""Run one benchmark workload at one seed and print one JSON result line.

    python3 perfbench/run.py --workload cypher_read_write --seed 1 \
        --seconds 5 --trace 0

The engine runs in this process on ``local[<cpus>]`` and is driven by
one client thread, closed loop, through its public functions only.
Whole op blocks (Cypher) or passes (batch) run until ``--seconds``
have passed, at least one.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run
(see README.md).  Every operation's result is checked outside the
timed window; exit status is non-zero when the engine package is not
next to this directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import ops  # noqa: E402

SETUPS = 3
ITERATIONS = {"pagerank": 3, "cdlp": 3}
SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}
CLASSES = ("point_read", "aggregate", "traversal", "knn", "write", "analytics", "curation")
READ_GROUPS = ("point_read", "aggregate", "traversal", "knn")

END_TO_END = {"setup_s": "s", "cpu_ms_per_op": "ms"}
PER_LAYER = {
    "session.start_s": "s", "setup.wall_s": "s", "loaders.graph_build_s": "s", "setup.probe_s": "s",
    "setup.warmup_s": "s", "session.heap_peak_mb": "MB", "session.gc_ms": "ms",
    "cypher.parse_ms": "ms", "cypher.ast_cache_hit_ratio": "ratio",
    "cypher.compile_ms": "ms", "cypher.plan_cache_hit_ratio": "ratio",
    "cypher.build_jobs_per_read": "count",
    "traversal.expand_ms": "ms", "traversal.jobs_per_query": "count",
    "traversal.calls_per_query": "count",
    "procedures.knn_ms": "ms", "procedures.knn_jobs": "count",
    "writes.exec_ms": "ms", "writes.jobs_per_write": "count",
    "graph.compact_ms": "ms", "graph.compactions": "count", "graph.union_nodes_max": "count",
    "cypher.read_p50_ms": "ms", "cypher.write_p50_ms": "ms",
    **{f"cypher.{g}_p50_ms": "ms" for g in READ_GROUPS},
    **{f"algorithms.{a}.large_s": "s" for a in ops.LARGE_ALGORITHMS},
    **{f"algorithms.{a}.small_s": "s" for a in ops.ALGORITHMS},
    **{f"algorithms.{a}.large_jobs": "count" for a in ops.LARGE_ALGORITHMS},
    **{f"algorithms.{a}.small_jobs": "count" for a in ops.ALGORITHMS},
    "algorithms.jobs_per_round_large": "count",
    "algorithms.large_s": "s", "algorithms.small_s": "s",
    **{f"datapipe.{s}_s": "s" for s in ops.STAGES},
    **{f"datapipe.{s}_jobs": "count" for s in ops.STAGES},
    **{f"datapipe.{s}_shuffle_write_mb": "MB" for s in ops.STAGES},
    "datapipe.docs_per_s": "1/s",
    **{f"spark.{c}.{m}": u for c in CLASSES for m, u in (
        ("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"), ("tasks", "count"),
        ("shuffle_write_mb", "MB"))},
    "spark.tasks_failed": "count", "spark.spill_mb": "MB",
    "env.steal_pct": "%", "env.gc_ms": "ms", "trace_overhead_pct": "%",
    "run.ops_per_s": "1/s", "run.op_geomean_ms": "ms",
}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class PyGcClock:
    """Wall time the interpreter spends in garbage collection."""

    def __init__(self):
        self.total = 0.0
        self._t0 = None
        gc.callbacks.append(self._cb)

    def _cb(self, phase, info):
        if phase == "start":
            self._t0 = time.perf_counter()
        elif self._t0 is not None:
            self.total += time.perf_counter() - self._t0
            self._t0 = None


class Run:
    """State of one benchmark process: the session, timings, results."""

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.tracing = bool(args.trace)
        self.scratch = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
        self.base = datagen.base_dir(WORK)
        self.spark = None
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.cpu: list[float] = []  # process-tree CPU seconds per timed op
        self.errors: list[str] = []
        self.op_log = None
        self.warm_log: list = []
        self.pygc = PyGcClock()
        self.phases: dict[str, float] = {}
        self._t_phase = time.perf_counter()
        self._isolate()

    def phase(self, name: str) -> float:
        """Record the wall time since the previous phase mark (stderr only)."""
        now = time.perf_counter()
        self.phases[name] = dt = now - self._t_phase
        self._t_phase = now
        return dt

    def _isolate(self) -> None:
        """Keep every file Spark and Python write inside this run's
        scratch directory, and the JVM heap small."""
        tmp = os.path.join(self.scratch, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.scratch, "local")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"

    # ------------------------------------------------------------ session

    def session(self):
        from samyama_graph_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cpus}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            },
        )
        return self.spark

    def setup(self, build, probe) -> None:
        """Set the program up SETUPS times (session, graph, first op) and
        keep the last; setup_s is the median of their process-tree CPU
        seconds, setup.wall_s the median of their wall times."""
        from spans import tree_cpu_s

        cpus, totals, builds, probes = [], [], [], []
        for i in range(SETUPS):
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            self.session()
            t1 = time.perf_counter()
            build()
            t2 = time.perf_counter()
            probe()
            t3 = time.perf_counter()
            cpus.append(tree_cpu_s() - c0)
            if i == 0:
                self.layer["session.start_s"] = t1 - t0
            totals.append(t3 - t0)
            builds.append(t2 - t1)
            probes.append(t3 - t2)
        self.setup_s = median(cpus)
        self.layer["setup.wall_s"] = median(totals)
        self.layer["loaders.graph_build_s"] = median(builds)
        self.layer["setup.probe_s"] = median(probes)

    def close(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.scratch, ignore_errors=True)

    # ------------------------------------------------------------ timing

    def timed(self, tracer, op, build, execute):
        """Run one op (build then execute) and return (output, seconds);
        its process-tree CPU seconds go to ``self.cpu``.  Under a tracer
        the op gets a span with build/exec children."""
        from spans import tree_cpu_s

        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        if tracer is None:
            out = execute(build())
            dt = time.perf_counter() - t0
            self.cpu.append(tree_cpu_s() - c0)
            return out, dt
        with tracer.span(op.kind) as sid:
            with tracer.span("build"):
                obj = build()
            with tracer.span("exec"):
                out = execute(obj)
        dt = time.perf_counter() - t0
        self.cpu.append(tree_cpu_s() - c0)
        # read stage metrics now: the status store keeps only recent stages
        span = tracer.spans[sid]
        span["spark"] = tracer.stage_totals(span["jobs"])
        return out, dt

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:300])

    def result(self, latencies: list[float], wall: float, layer: dict) -> dict:
        if self.tracing:
            layer["run.ops_per_s"] = len(latencies) / max(wall, 1e-9)
            layer["run.op_geomean_ms"] = 1000 * ops.geomean(latencies)
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {
                "setup_s": {"value": self.setup_s, "unit": "s"},
                "cpu_ms_per_op": {"value": 1000 * sum(self.cpu) / max(1, len(self.cpu)), "unit": "ms"},
            }
        tail = ops.tail_percentile(latencies)
        print(json.dumps({
            "workload": self.args.workload, "seed": self.seed,
            "samples": len(latencies), "phases": self.phases,
            "p50_ms": 1000 * ops.percentile(latencies or [0.0], 50),
            "wall_ops_per_s": len(latencies) / max(wall, 1e-9),
            "wall_geomean_ms": 1000 * ops.geomean(latencies),
            "cpu_geomean_ms": 1000 * ops.geomean(self.cpu),
            "ops": self.op_log, "warmup_ops": self.warm_log,
            "tail": None if tail is None else {"q": tail[0], "ms": 1000 * tail[1]},
            "errors": self.errors,
        }), file=sys.stderr)
        return {
            "correct": self.failed == 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": metrics,
        }


# ====================================================================== Cypher


class CypherReadWrite:
    """Closed-loop Cypher client: half writes (SET / CREATE / MERGE /
    DETACH DELETE), half reads (point, read-your-writes, 1-hop, flagship
    aggregate, KNOWS*1..2, vector k-NN)."""

    def __init__(self, run: Run):
        from samyama_graph_spark.workloads_ldbc import KNOWS_CTES

        import check

        self.run = run
        self.check = check
        self.knows_ctes = KNOWS_CTES
        model = check.CypherModel(run.base, KNOWS_CTES)
        self.n_customers = len(model.cust)
        self.emb = model.emb
        self.union_max = 0.0

    def build(self):
        from samyama_graph_spark.workloads_ldbc import ldbc_graph

        self.graph = ldbc_graph(self.run.spark, self.run.base)

    def engine(self):
        from samyama_graph_spark.cypher.engine import CypherEngine

        return CypherEngine(self.graph)

    def probe(self):
        self.engine().query(ops.POINT, {"me": ops.CUSTOMER_BASE + 1}).collect()

    def stream(self, stream: int, blocks: int):
        return ops.cypher_stream(
            self.run.seed, stream, blocks, self.n_customers, self.emb
        )

    def warmup(self) -> None:
        """One op of each of ops.WARM_KINDS from a disjoint stream, on
        its own engine."""
        eng, seen = self.engine(), set()
        for op in self.stream(1, 1):
            if op.kind in ops.WARM_KINDS and op.kind not in seen:
                seen.add(op.kind)
                t = time.perf_counter()
                eng.query(op.text, op.params).collect()
                self.run.warm_log.append((op.kind, round(1000 * (time.perf_counter() - t))))

    def loop(self, stream, seconds, tracer=None):
        """Run ``stream`` on a fresh engine until ``seconds`` pass; return
        the engine, [(op, rows|None, seconds|None)] and the wall time."""
        eng = self.engine()
        done = []
        t0 = time.perf_counter()
        for i, op in enumerate(stream):
            # whole blocks only, so every run times the same mix of kinds
            at_block = i % ops.BLOCK == 0
            if at_block and time.perf_counter() - t0 >= seconds:
                break
            if tracer is not None:
                tracer.op = i
            self.run.attempted += 1
            try:
                rows, dt = self.run.timed(
                    tracer, op, lambda: eng.query(op.text, op.params), lambda df: df.collect()
                )
            except Exception as e:  # a failed op is counted, the client goes on
                self.run.fail(f"{op.kind}: {e!r}")
                done.append((op, None, None))
                continue
            done.append((op, rows, dt))
            if tracer is not None and op.kind in ops.WRITE_KINDS:
                self.union_max = max(self.union_max, union_nodes_max(eng.graph))
        return eng, done, time.perf_counter() - t0

    def verify(self, eng, done) -> None:
        """Replay the executed stream on the model; compare every read
        and the final node and KNOWS counts."""
        model = self.check.CypherModel(self.run.base, self.knows_ctes)
        for op, rows, _ in done:
            if op.kind in ops.WRITE_KINDS:
                if rows is not None:
                    model.apply(op)
                continue
            if rows is None:
                continue
            got = self.check.normalize(op, rows)
            want = model.expect(op)
            if not self.check.same(op, got, want):
                self.run.fail(f"wrong {op.kind} {op.params if op.kind != 'knn' else ''}: "
                              f"got {got[:3]} want {want[:3]}")
        n = eng.query("MATCH (c:Customer) RETURN count(c) AS n").collect()[0]["n"]
        k = eng.query("MATCH (:Customer)-[k:KNOWS]->(:Customer) RETURN count(k) AS n").collect()[0]["n"]
        if n != len(model.cust) + len(model.created) or k != model.n_knows:
            self.run.fail(f"final counts: customers {n}, knows {k}; model "
                          f"{len(model.cust) + len(model.created)}, {model.n_knows}")

    @staticmethod
    def group_latencies(done) -> dict:
        out: dict[str, list] = {}
        for op, rows, dt in done:
            if dt is not None:
                out.setdefault(ops.GROUP[op.kind], []).append(dt)
        return out

    def measure(self, seconds: float) -> dict:
        run = self.run
        run.setup(self.build, self.probe)
        run.phase("setup")
        self.warmup()
        run.layer["setup.warmup_s"] = run.phase("warmup")
        stream = self.stream(0, 64)
        tracer = install_tracer(run, self.install) if run.tracing else None
        with tracer_window(run, tracer):
            eng, done, wall = self.loop(stream, seconds, tracer)
        run.phase("timed")
        run.op_log = [(op.kind, round(1000 * dt), round(1000 * c)) for (op, _, dt), c in
                      zip([d for d in done if d[2] is not None], run.cpu)]
        self.verify(eng, done)
        run.phase("verify")
        lat = [dt for _, _, dt in done if dt is not None]
        if tracer is None:
            return run.result(lat, wall, {})
        layer = run.layer
        groups = self.group_latencies(done)
        for g in READ_GROUPS + ("write",):
            layer[f"cypher.{g}_p50_ms"] = 1000 * median(groups.get(g, []))
        layer["cypher.read_p50_ms"] = 1000 * median(
            [x for g in READ_GROUPS for x in groups.get(g, [])])
        layer["trace_overhead_pct"] = tracer.overhead_pct()
        cypher_layers(layer, tracer, done)
        layer["graph.union_nodes_max"] = self.union_max
        op_classes(layer, tracer, [ops.GROUP[op.kind] for op, _, _ in done])
        tracer.dump(span_path(run))
        return run.result(lat, wall, layer)

    @staticmethod
    def install(tracer) -> None:
        from samyama_graph_spark.cypher import engine, procedures
        from samyama_graph_spark.cypher.compiler import Compiler
        from samyama_graph_spark.cypher.writes import WriteExecutor
        from samyama_graph_spark.graph import PropertyGraph
        from samyama_graph_spark.operators import traversal

        tracer.wrap(engine, "parse", "cypher.parse")
        tracer.wrap(Compiler, "compile_query", "cypher.compile")
        tracer.wrap(traversal, "var_length_expand", "traversal.var_length_expand")
        tracer.wrap(traversal, "var_length_paths", "traversal.var_length_paths")
        tracer.wrap(procedures, "run_procedure", "procedures.run")
        tracer.wrap(WriteExecutor, "execute", "writes.execute")
        tracer.wrap(PropertyGraph, "compacted", "graph.compacted")


# ============================================================ batch analytics


class AnalyticsCuration:
    """One pass = PageRank on a large edge set (above the driver
    fast-path guard), all five algorithms on a small one (below it),
    then the corpus curation stages on a freshly generated corpus.  The
    pass runs once per process, right after set-up, as a batch job does;
    there is no warm-up."""

    def __init__(self, run: Run):
        import check

        self.run = run
        self.check = check
        self.arrays = check.edge_arrays(run.base)
        self.pending: list = []
        self.sources = [int(x) for x in self.arrays["small"][0][::997]]

    def build(self):
        from pyspark.sql import functions as F

        from samyama_graph_spark.loaders import tpch_graph

        g = tpch_graph(self.run.spark, self.run.base)

        def edge_set(*types):
            frames = [
                g.edges[t].select(
                    "src", "dst",
                    (F.col("quantity").cast("double") if "quantity" in g.edges[t].columns
                     else F.lit(1.0)).alias("weight"),
                )
                for t in types
            ]
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f)
            return out

        self.edges = {
            "large": edge_set("CONTAINS", "SUPPLIED_BY"),
            "small": edge_set("PLACED", "IN_NATION"),
        }

    def probe(self):
        for e in self.edges.values():
            e.count()

    def algo_op(self, op, tracer):
        from samyama_graph_spark import algorithms as A

        e = self.edges[op.params["edges"]]
        fn = getattr(A, op.kind)
        if op.kind in ("bfs", "sssp"):
            build = lambda: fn(e, op.params["source"], directed=False)  # noqa: E731
        elif op.kind in ITERATIONS:
            build = lambda: fn(e, iterations=ITERATIONS[op.kind])  # noqa: E731
        else:
            build = lambda: fn(e)  # noqa: E731
        df, dt = self.run.timed(tracer, op, build, noop)
        self.pending.append(lambda: self.verify_algorithm(op, df))
        return dt

    def verify_algorithm(self, op, df) -> None:
        edges, source = op.params["edges"], op.params.get("source")
        if not self.check.check_algorithm(
            op.kind, df.toPandas(), self.arrays[edges], source, ITERATIONS
        ):
            self.run.fail(f"wrong {op.kind} on {edges} from {source}")

    def curation(self, corpus, tracer, verify: bool, first_op: int) -> list[float]:
        from pyspark.sql import functions as F

        spark = self.run.spark
        docs = spark.read.parquet(corpus.docs_path)
        vecs = spark.read.parquet(corpus.embs_path)
        pin = lambda d: d.localCheckpoint(eager=True)  # noqa: E731
        state = {}

        def kept():
            return docs.join(
                state["gate"].filter("keep").select(F.col("id").alias("doc_id"), "n_tokens"),
                "doc_id",
            )

        stages = {
            "corpus_filter": (lambda: stage_fn("corpus_filter")(docs), pin),
            "exact_dedup": (
                lambda: stage_fn("exact_dedup")(kept(), "text", "doc_id"),
                lambda ex: pin(kept().join(
                    ex.select(F.col("keep_id").alias("doc_id")), "doc_id")),
            ),
            "minhash_lsh_pairs": (
                lambda: stage_fn("minhash_lsh_pairs")(
                    state["exact_dedup"], "text", "doc_id",
                    k=3, num_hashes=32, bands=16, threshold=0.7),
                pin,
            ),
            "apply_dedup": (
                lambda: stage_fn("apply_dedup")(state["exact_dedup"], state["minhash_lsh_pairs"], "doc_id"),
                pin,
            ),
            "assign_split": (
                lambda: stage_fn("assign_split")(state["apply_dedup"], "doc_id", SPLIT_WEIGHTS, 0), pin),
            "semdedup": (
                lambda: stage_fn("semdedup")(vecs, "embedding", "vec_id", k=None, threshold=0.95,
                                   centroid_mode="vectorized", target_cluster_size=50),
                pin,
            ),
        }
        lat = []
        for i, stage in enumerate(ops.STAGES):
            if tracer is not None:
                tracer.op = first_op + i
            build, execute = stages[stage]
            key = "gate" if stage == "corpus_filter" else stage
            state[key], dt = self.run.timed(tracer, ops.Op(stage), build, execute)
            lat.append(dt)
        if verify:
            self.pending.append(lambda: self.verify_curation(corpus, state))
        return lat

    def verify_curation(self, c, state) -> None:
        ids = lambda df, col="doc_id": {r[0] for r in df.select(col).collect()}  # noqa: E731
        gate = ids(state["gate"].filter("keep"), "id")
        if gate != c.gate_kept:
            self.run.fail(f"corpus_filter kept {len(gate)}, expected {len(c.gate_kept)}")
        if ids(state["exact_dedup"]) != c.exact_kept:
            self.run.fail("exact_dedup survivors differ from the injected ground truth")
        if ids(state["apply_dedup"]) != c.survivors:
            self.run.fail("near-dup survivors differ from the injected ground truth")
        split = state["assign_split"].select("doc_id", "split").collect()
        if {r[0] for r in split} != c.survivors or {r[1] for r in split} - set(SPLIT_WEIGHTS):
            self.run.fail("assign_split rows or split names are wrong")
        sd = {r["id"]: (r["cluster"], r["keep"]) for r in state["semdedup"].collect()}
        want = {v: True for v in sd}
        for dup, src in c.vec_src.items():
            want[dup] = sd[dup][0] != sd[src][0]
        if {v: k for v, (_, k) in sd.items()} != want or len(sd) != c.n_vecs:
            self.run.fail("semdedup verdicts differ from the injected ground truth")

    def passes(self, seconds, tracer=None):
        """Whole passes, at least one, until ``seconds`` pass.  Result
        checks queue on ``self.pending`` and run after the window."""
        lat, per_op = [], []
        t0 = time.perf_counter()
        p = 0
        while p == 0 or time.perf_counter() - t0 < seconds:
            wall_start = time.perf_counter()
            plan = ops.batch_plan(self.run.seed, 10 + p, self.sources)
            corpus = datagen.corpus(self.run.seed * 1000 + p,
                                    os.path.join(self.run.scratch, f"corpus-{p}"))
            t0 += time.perf_counter() - wall_start  # input generation is not timed
            for i, op in enumerate(plan):
                if op.kind not in ops.ALGORITHMS:
                    break
                if tracer is not None:
                    tracer.op = i
                self.run.attempted += 1
                try:
                    dt = self.algo_op(op, tracer)
                except Exception as e:  # counted; the pass goes on
                    self.run.fail(f"{op.kind}: {e!r}")
                    continue
                lat.append(dt)
                per_op.append((op, dt))
            self.run.attempted += len(ops.STAGES)
            try:
                cl = self.curation(corpus, tracer, True, len(plan))
            except Exception as e:
                self.run.fail(f"curation: {e!r}")
            else:
                lat.extend(cl)
                per_op.extend((ops.Op(s), dt) for s, dt in zip(ops.STAGES, cl))
                self.docs = corpus.n_docs
            p += 1
        return lat, per_op, time.perf_counter() - t0, p

    def measure(self, seconds: float) -> dict:
        run = self.run
        run.setup(self.build, self.probe)
        run.phase("setup")
        tracer = install_tracer(run, self.install) if run.tracing else None
        with tracer_window(run, tracer):
            lat, per_op, wall, n_pass = self.passes(seconds, tracer)
        run.phase("timed")
        run.op_log = [(op.kind, round(1000 * dt), round(1000 * c)) for (op, dt), c in zip(per_op, run.cpu)]
        for verify in self.pending:
            verify()
        self.pending.clear()
        run.phase("verify")
        if tracer is None:
            return run.result(lat, wall, {})
        layer = run.layer
        for op, dt in per_op:
            if op.kind in ops.ALGORITHMS:
                k = f"algorithms.{op.kind}.{op.params['edges']}_s"
            else:
                k = f"datapipe.{op.kind}_s"
            layer[k] = layer.get(k, 0.0) + dt / n_pass
        for e, algos in (("large", ops.LARGE_ALGORITHMS), ("small", ops.ALGORITHMS)):
            layer[f"algorithms.{e}_s"] = sum(layer[f"algorithms.{a}.{e}_s"] for a in algos)
        pipeline = sum(layer[f"datapipe.{s}_s"] for s in ops.STAGES)
        layer["datapipe.docs_per_s"] = self.docs / pipeline
        layer["trace_overhead_pct"] = tracer.overhead_pct()
        batch_layers(layer, tracer)
        classes = ["analytics" if op.kind in ops.ALGORITHMS else "curation" for op, _ in per_op]
        op_classes(layer, tracer, classes)
        tracer.dump(span_path(run))
        return run.result(lat, wall, layer)

    @staticmethod
    def install(tracer) -> None:
        from samyama_graph_spark import algorithms
        from samyama_graph_spark.datapipe import dedup

        for a in ops.ALGORITHMS:
            tracer.wrap(algorithms, a, f"algorithms.{a}")
        for s in ops.STAGES:
            tracer.wrap(stage_owner(s), s, f"datapipe.{s}")
        tracer.wrap(dedup, "dup_clusters", "datapipe.dup_clusters")


# ===================================================================== tracing


def stage_owner(name: str):
    """The module the harness looks a curation stage up in."""
    from samyama_graph_spark import datapipe
    from samyama_graph_spark.datapipe import dedup

    return datapipe if hasattr(datapipe, name) else dedup


def stage_fn(name: str):
    return getattr(stage_owner(name), name)


def noop(df):
    """Materialize ``df`` through the noop sink; return it."""
    df.write.format("noop").mode("overwrite").save()
    return df


def span_path(run: Run) -> str:
    d = os.path.join(WORK, "spans")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{run.args.workload}-{run.seed}.jsonl")


def install_tracer(run: Run, install):
    from spans import Tracer

    tracer = Tracer(run.spark)
    install(tracer)
    return tracer


class tracer_window:
    """Environment counters around a traced window (JVM GC and heap,
    Python GC, CPU steal); restores the wrapped functions on exit.
    Does nothing without a tracer."""

    def __init__(self, run: Run, tracer):
        self.run, self.tracer = run, tracer

    def __enter__(self):
        from spans import cpu_ticks, jvm_gc_ms

        if self.tracer is not None:
            self.gc0 = jvm_gc_ms(self.run.spark)
            self.py0 = self.run.pygc.total
            self.ticks0 = cpu_ticks()

    def __exit__(self, *exc):
        from spans import cpu_ticks, jvm_gc_ms, jvm_heap_peak_mb

        if self.tracer is None:
            return
        self.tracer.restore()
        layer, spark = self.run.layer, self.run.spark
        layer["session.gc_ms"] = jvm_gc_ms(spark) - self.gc0
        layer["session.heap_peak_mb"] = jvm_heap_peak_mb(spark)
        layer["env.gc_ms"] = 1000 * (self.run.pygc.total - self.py0)
        steal, total = (b - a for a, b in zip(self.ticks0, cpu_ticks()))
        layer["env.steal_pct"] = 100.0 * steal / total if total else 0.0


def _jobs(s) -> int:
    return max(0, s["jobs"][1] - s["jobs"][0] + 1)


def cypher_layers(layer: dict, tracer, done) -> None:
    selfs = tracer.self_times()
    n_ops = len(done)
    reads = [op for op, _, _ in done if op.kind not in ops.WRITE_KINDS]
    writes = [op for op, _, _ in done if op.kind in ops.WRITE_KINDS]
    trav = [op for op in reads if ops.GROUP[op.kind] == "traversal"]
    parse = tracer.by_name("cypher.parse")
    comp = tracer.by_name("cypher.compile")
    tv = tracer.by_name("traversal.var_length_expand") + tracer.by_name("traversal.var_length_paths")
    proc = tracer.by_name("procedures.run")
    wx = tracer.by_name("writes.execute")
    cp = tracer.by_name("graph.compacted")
    dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731
    per = lambda x, n: x / n if n else 0.0  # noqa: E731
    layer["cypher.parse_ms"] = 1000 * per(sum(selfs[s["id"]] for s in parse), len(parse))
    layer["cypher.ast_cache_hit_ratio"] = 1.0 - per(len(parse), n_ops)
    layer["cypher.compile_ms"] = 1000 * per(sum(selfs[s["id"]] for s in comp), len(comp))
    layer["cypher.plan_cache_hit_ratio"] = 1.0 - per(len(comp), len(reads))
    read_builds = [s for s in tracer.by_name("build") if done[s["op"]][0].kind not in ops.WRITE_KINDS]
    layer["cypher.build_jobs_per_read"] = per(sum(_jobs(s) for s in read_builds), len(reads))
    layer["traversal.expand_ms"] = 1000 * per(dur(tv), len(tv))
    layer["traversal.jobs_per_query"] = per(sum(_jobs(s) for s in tv), len(trav))
    layer["traversal.calls_per_query"] = per(len(tv), len(trav))
    layer["procedures.knn_ms"] = 1000 * per(dur(proc), len(proc))
    knn_ops = [s for s in tracer.done() if s["name"] == "knn" and s["parent"] is None]
    layer["procedures.knn_jobs"] = per(sum(_jobs(s) for s in knn_ops), len(knn_ops))
    layer["writes.exec_ms"] = 1000 * per(dur(wx), len(wx))
    top_writes = [s for s in tracer.done() if s["parent"] is None and s["name"] in ops.WRITE_KINDS]
    layer["writes.jobs_per_write"] = per(sum(_jobs(s) for s in top_writes), len(writes))
    layer["graph.compact_ms"] = 1000 * dur(cp)
    layer["graph.compactions"] = float(len(cp))


def batch_layers(layer: dict, tracer) -> None:
    for s in tracer.done():
        if s["parent"] is not None:
            continue
        if s["name"] in ops.ALGORITHMS:
            edges = "large" if s["op"] < len(ops.LARGE_ALGORITHMS) else "small"
            layer[f"algorithms.{s['name']}.{edges}_jobs"] = float(_jobs(s))
        elif s["name"] in ops.STAGES:
            st = s["spark"]
            layer[f"datapipe.{s['name']}_jobs"] = float(_jobs(s))
            layer[f"datapipe.{s['name']}_shuffle_write_mb"] = st["shuffle_write"] / 2**20
    layer["algorithms.jobs_per_round_large"] = (
        layer.get("algorithms.pagerank.large_jobs", 0.0) / ITERATIONS["pagerank"]
    )


def op_classes(layer: dict, tracer, classes: list[str]) -> None:
    """spark.<class>.* means per op of each class, from the op spans."""
    tops = [s for s in tracer.done() if s["parent"] is None]
    kids: dict[int, dict] = {}
    for s in tracer.done():
        if s["parent"] is not None and s["name"] in ("build", "exec"):
            kids.setdefault(s["parent"], {})[s["name"]] = s
    acc: dict[str, dict] = {}
    failed = spill = 0
    for s, cls in zip(tops, classes):
        st = s["spark"]
        a = acc.setdefault(cls, dict(n=0, build=0.0, exec=0.0, jobs=0, tasks=0, shuffle=0))
        k = kids.get(s["id"], {})
        a["n"] += 1
        a["build"] += sum(x["end"] - x["start"] for x in k.values() if x["name"] == "build")
        a["exec"] += sum(x["end"] - x["start"] for x in k.values() if x["name"] == "exec")
        a["jobs"] += _jobs(s)
        a["tasks"] += st["tasks"]
        a["shuffle"] += st["shuffle_write"]
        failed += st["failed"]
        spill += st["spill"]
    for cls, a in acc.items():
        n = a["n"]
        layer[f"spark.{cls}.build_ms"] = 1000 * a["build"] / n
        layer[f"spark.{cls}.exec_ms"] = 1000 * a["exec"] / n
        layer[f"spark.{cls}.jobs"] = a["jobs"] / n
        layer[f"spark.{cls}.tasks"] = a["tasks"] / n
        layer[f"spark.{cls}.shuffle_write_mb"] = a["shuffle"] / n / 2**20
    layer["spark.tasks_failed"] = float(failed)
    layer["spark.spill_mb"] = spill / 2**20


def union_nodes_max(graph) -> float:
    """Deepest write-delta chain: the most Union operators in any node
    or edge table's logical plan (sampled after every traced write)."""
    frames = list(graph.nodes.values()) + list(graph.edges.values())
    return float(max(
        len(re.findall(r"\bUnion\b", df._jdf.queryExecution().logical().toString()))
        for df in frames
    ))


WORKLOADS = {
    "cypher_read_write": CypherReadWrite,
    "analytics_curation": AnalyticsCuration,
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "samyama_graph_spark", "__init__.py")):
        print("perfbench: the samyama_graph_spark package is not next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(WORK, exist_ok=True)
    run = Run(args)
    try:
        result = WORKLOADS[args.workload](run).measure(args.seconds)
    finally:
        run.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
