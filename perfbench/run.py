"""Repository benchmark: three workloads driven through the engine's public
entry points, every result checked against a DuckDB oracle.

    python3 perfbench/run.py --workload cypher_interactive --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a fuller report (set-up split,
wall-clock figures, sample counts, tail latency, per-entry medians); a
traced run writes its per-query span records to
``.bench_build/perfbench/trace-<workload>-<seed>.json``.
``perfbench/all.py`` runs every workload, untraced and traced. See ``perfbench/README.md`` for the workloads, the metrics and what
each layer metric should move.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import math
import os
import re
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402

# the benchmark's scratch space: generated tables, Spark temp files, traces
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# TPC-H scale factor of the tables; README.md says why not sf0.1
SF = 0.01
# workloads whose queries run over the TPC-H graph
USES_GRAPH = ("cypher_interactive", "graph_iterative")
SETUPS = 3  # warm set-ups per run; setup_s is their median
# warm-up passes before timing: cypher_interactive's short queries need a
# second pass before the JIT settles (its first timed pass used ~7% more
# CPU per query than its second); one pass of the long entries is enough
WARM_PASSES = {"cypher_interactive": 2}
# the registry's triplet choice, so both load paths build the same graph
TRIPLETS = ("IN_NATION", "IN_REGION", "PLACED", "LINE")
# registry entries whose oracle is rows-only; never part of a workload
ROWS_ONLY = ("dedup_minhash_docs", "dedup_simhash_pairs")

# CPU seconds, not wall: on a shared host with CPU steal the wall clock of
# the same work swings up to 2x between runs (README.md)
END_TO_END = ("setup_s", "cpu_per_query_ms")
PER_LAYER = (
    "sources.load_s", "sources.jobs",
    "parser.parse_ms",
    "planner.plan_ms", "planner.jobs",
    "driver.py4j_calls", "driver.cpu_s",
    "operators.build_s", "operators.jobs", "operators.tasks",
    "materialize.calls", "materialize.s",
    "catalyst.plan_ms",
    "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks",
    "jvm.gc_ms", "jvm.jit_ms", "jvm.heap_peak_mb",
    "result.rows",
    "trace.overhead_s",
)
UNITS = {"s": "s", "ms": "ms", "mb": "MiB"}


def unit_of(name: str) -> str:
    return UNITS.get(re.split(r"[._]", name)[-1], "count")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def ensure_data(sf: float) -> str:
    """The input tables at scale factor ``sf``, made once per checkout by
    the repository's generator (``tools/gen_testdata.py``, fixed seed), so
    every workload seed runs over the same tables."""
    out = os.path.join(WORK, "data", f"sf{sf}")
    done = os.path.join(out, ".complete")
    if not os.path.exists(done):
        from tools.gen_testdata import generate

        shutil.rmtree(out, ignore_errors=True)
        with contextlib.redirect_stdout(sys.stderr):
            generate(sf, out)
        open(done, "w").close()
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of process ``root`` and every live
    descendant (the Spark JVM and its Python workers)."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        stats[int(pid)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def tail_percentile(values: list[float], q: float = 95.0, beyond: int = 10):
    """The q-th percentile, or None unless at least ``beyond`` samples lie
    strictly above it."""
    if not values:
        return None
    p = percentile(values, q)
    return p if sum(1 for v in values if v > p) >= beyond else None


def highest_tail(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """(q, value) for the highest of the 99th, 95th, 90th, 75th and 50th
    percentiles with at least ``beyond`` samples strictly above it."""
    for q in (99, 95, 90, 75, 50):
        p = tail_percentile(values, q, beyond)
        if p is not None:
            return q, p
    return None


def failed_frac(results: list[dict]) -> float:
    """(errors + oracle mismatches) / queries attempted."""
    if not results:
        return 0.0
    return sum(1 for r in results if not r["ok"]) / len(results)


# ---------------------------------------------------------------------------
# Spark lifecycle
# ---------------------------------------------------------------------------


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.tmp = os.path.join(WORK, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        # Python workers (the Pandas-UDF operators) import the package from
        # any working directory
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
        self.cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
        self.tracer = None  # set for the traced run
        self.tracing = False  # spans and job groups are recorded only while set
        self.spark = None

    def start_spark(self):
        from cypher_for_apache_spark_spark import build_spark_session

        local = os.path.join(WORK, "spark-local")
        spark = build_spark_session(
            master=f"local[{self.cpus}]",
            app_name="perfbench",
            extra_confs={
                "spark.sql.shuffle.partitions": str(self.cpus),
                "spark.sql.session.timeZone": "UTC",
                "spark.driver.memory": "3g",
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
                # C1 only: full tiered compilation keeps the JIT busy for
                # minutes (~10 s of compile per pass of cypher_interactive
                # after 70 s), far past any warm-up a run can afford. C1 alone
                # sizes the code cache at 48 MB, which the generated classes
                # of ~4 passes fill; the flush that follows doubles the CPU
                # per query, so the cache is set to the tiered default.
                # No perf-data file: the JVM would write it under /tmp.
                "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={self.tmp} -XX:TieredStopAtLevel=1"
                                                  " -XX:ReservedCodeCacheSize=240m -XX:-UsePerfData"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def set_up(self):
        """One set-up: a CypherSession and, for the workloads that run over
        it, the TPC-H graph (the first one also starts Spark).
        ``graph_iterative``'s registry entries load that same graph through
        their own cache on first use, so its set-up times the same load."""
        from cypher_for_apache_spark_spark import CypherSession
        from cypher_for_apache_spark_spark.sources.tpch import load_tpch_graph

        if self.spark is None:
            self.spark = self.start_spark()
            if self.tracer is not None:
                self.tracer.spark = self.spark
        session = CypherSession(self.spark)
        if self.workload in USES_GRAPH:
            span = self.tracer.span("sources", "load_tpch_graph") if self.tracer else nullcontext()
            with span:
                graph = load_tpch_graph(self.spark, self.data, with_triplets=TRIPLETS)
            session.store_graph("tpch", graph)
            self.graph = graph
        self.session = session
        if self.tracer is not None:
            self.tracer.collect_job_counts()

    def cpu_now(self) -> float:
        """CPU seconds used so far by this process and the Spark JVM tree."""
        return time.process_time() + tree_cpu_s(self.spark.sparkContext._gateway.proc.pid)

    def shutdown(self):
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- one query -----------------------------------------------------------
    def _build(self, item):
        """Call into the engine until it hands back a DataFrame."""
        if self.workload == "cypher_interactive":
            res = self.graph.cypher(item.cypher, item.params)
            if item.then is not None:
                res = res.graph.cypher(item.then)
            return res.df
        return self.entries[item](self.spark, self.data)

    def execute(self, item, qid: str) -> dict:
        """Run one request; its latency runs from the call into the engine
        until ``collect()`` returns. Hashing happens after the clock stops."""
        from perfbench.oracle import result_hash

        tr = self.tracer if self.tracing else None
        name = item.shape if self.workload == "cypher_interactive" else item
        rec = {"query": qid, "name": name}
        if tr is not None:
            tr.query = qid
        build_layer = "driver" if self.workload == "cypher_interactive" else "operators"
        cpu0, tree0 = time.process_time(), self.cpu_now()
        t0 = time.perf_counter()
        try:
            with (tr.span(build_layer, name) if tr else nullcontext()):
                df = self._build(item)
            t1 = time.perf_counter()
            if tr is not None:
                with tr.span("catalyst", "executedPlan"):
                    df._jdf.queryExecution().executedPlan()
            with (tr.span("exec", "collect") if tr else nullcontext()):
                rows = df.collect()
            t2 = time.perf_counter()
            rec["cpu_s"] = time.process_time() - cpu0
            rec["tree_cpu_s"] = self.cpu_now() - tree0
            with (tr.paused() if tr else nullcontext()):
                cols = df.columns
            rec.update(ok=True, latency_s=t2 - t0, build_s=t1 - t0, rows=len(rows),
                       hash=result_hash(cols, rows))
        except Exception as ex:  # an engine error is a failed query, not a crash
            rec.update(ok=False, latency_s=time.perf_counter() - t0, rows=0,
                       cpu_s=time.process_time() - cpu0, tree_cpu_s=self.cpu_now() - tree0,
                       error=f"{type(ex).__name__}: {str(ex)[:300]}")
        if tr is not None:
            tr.query = None
        return rec

    def run_pass(self, items, tag: str) -> list[dict]:
        out = []
        for i, item in enumerate(items):
            out.append(self.execute(item, f"{tag}.{i}"))
        return out

    # -- the run ---------------------------------------------------------------
    def passes(self):
        if self.workload == "cypher_interactive":
            yield from W.interactive_passes(self.args.seed)
        else:
            order = W.fixed_order(self.workload, self.args.seed)
            while True:
                yield order

    def oracle_sql(self, item) -> str:
        return item.sql if self.workload == "cypher_interactive" else self.oracles[item]

    def run(self) -> tuple[dict, dict]:
        import __spark_entry__ as E

        from perfbench.oracle import Oracle
        from perfbench.trace import JvmProbe, Tracer

        args = self.args
        self.entries, self.oracles = E.queries(), E.oracle_sql()
        if self.workload != "cypher_interactive":
            names = W.fixed_order(self.workload, args.seed)
            missing = [n for n in names if n not in self.entries or n not in self.oracles or n in ROWS_ONLY]
            if missing:
                raise SystemExit(f"registry entries without an oracle: {missing}")
        t_data0 = time.perf_counter()
        self.data = ensure_data(SF)
        data_s = time.perf_counter() - t_data0
        if args.trace:
            self.tracer = Tracer()

        t0 = time.perf_counter()
        self.set_up()
        cold_setup_s = time.perf_counter() - t0
        setups, setup_cpus = [], []
        for _ in range(SETUPS):
            c0, t0 = self.cpu_now(), time.perf_counter()
            self.set_up()
            setups.append(time.perf_counter() - t0)
            setup_cpus.append(self.cpu_now() - c0)
        jvm = JvmProbe(self.spark)

        stream = self.passes()
        t_warm = time.perf_counter()
        warm = []
        for i in range(WARM_PASSES.get(self.workload, 1)):
            warm += self.run_pass(next(stream), f"warm{i}")
        settle_s = jvm.jit_settle()
        warmup_s = time.perf_counter() - t_warm

        results: list[dict] = []
        items: list = []
        pass_walls: list[float] = []
        pass_cpus: list[float] = []
        gc.collect()
        cpu0 = self.cpu_now()
        t_timed = time.perf_counter()
        startup_s = t_timed - T_PROCESS
        npass = 0
        traced_info = None
        while True:
            batch = next(stream)
            res = self.run_pass(batch, f"p{npass}")
            npass += 1
            results += res
            items += batch
            pass_walls.append(sum(r["latency_s"] for r in res))
            pass_cpus.append(sum(r["tree_cpu_s"] for r in res) / len(res))
            if args.trace or time.perf_counter() - t_timed >= args.seconds:
                break
        timed_s = time.perf_counter() - t_timed
        timed_cpu_s = self.cpu_now() - cpu0

        if args.trace:
            # one more pass with every wrapper, job group and counter on
            batch = next(stream)
            gc.collect()
            self.tracer.spark = self.spark
            jvm.start()
            self.tracer.install()
            self.tracing = True
            try:
                res = self.run_pass(batch, f"p{npass}")
            finally:
                self.tracing = False
                self.tracer.uninstall()
            jvm_d = jvm.stop()
            self.tracer.collect_job_counts()
            traced_info = (res, jvm_d)
            results += res
            items += batch

        # correctness: every timed result against its oracle, after timing
        oracle = Oracle(self.data, self.tmp)
        try:
            for item, r in zip(items, results):
                if not r["ok"]:
                    continue
                want, want_rows = oracle.answer(self.oracle_sql(item))
                if want != r["hash"]:
                    r["ok"] = False
                    r["error"] = f"oracle mismatch: {r['rows']} rows vs {want_rows} expected"
        finally:
            oracle.close()

        lat = [r["latency_s"] for r in results if r["ok"]] or [r["latency_s"] for r in results]
        untraced = results[: len(results) - (len(traced_info[0]) if traced_info else 0)]
        metrics_e2e = {
            "setup_s": statistics.median(setup_cpus),
            "cpu_per_query_ms": timed_cpu_s / len(untraced) * 1e3,
        }
        p95 = tail_percentile([r["latency_s"] for r in untraced], 95.0)
        tail = highest_tail([r["latency_s"] for r in untraced])
        by_name: dict[str, list[float]] = {}
        for r in untraced:
            by_name.setdefault(r["name"], []).append(r["latency_s"])
        report = {
            "workload": self.workload,
            "seed": args.seed,
            "sf": SF,
            "cpus": self.cpus,
            # process start to the first timed query, table generation excluded
            "startup_s": startup_s - data_s,
            "data_s": data_s,
            "cold_setup_s": cold_setup_s,
            "setup_wall_s": setups,
            "setup_cpu_s": setup_cpus,
            "warmup_s": warmup_s,
            "jit_settle_s": settle_s,
            "warm_failed": sum(1 for r in warm if not r["ok"]),
            "timed_s": timed_s,
            "timed_cpu_s": timed_cpu_s,
            "wall": {
                "wall_s": statistics.median(pass_walls),
                "latency_p50_ms": statistics.median(r["latency_s"] for r in untraced) * 1e3,
                "throughput_qps": len(untraced) / sum(r["latency_s"] for r in untraced),
            },
            "passes": npass,
            "pass_cpu_ms": [c * 1e3 for c in pass_cpus],
            "samples": len(untraced),
            "latency_p95_ms": p95 * 1e3 if p95 is not None else None,
            # the highest percentile that has ten samples beyond it
            "latency_tail": {"percentile": tail[0], "ms": tail[1] * 1e3} if tail else None,
            "attempted": len(results),
            "failed": sum(1 for r in results if not r["ok"]),
            "failed_frac": failed_frac(results),
            "end_to_end": metrics_e2e,
            "median_ms_by_entry": {k: statistics.median(v) * 1e3 for k, v in sorted(by_name.items())},
            "errors": [{"query": r["query"], "name": r["name"], "error": r["error"]}
                       for r in results if not r["ok"]][:20],
        }
        if traced_info is None:
            return report, metrics_e2e
        traced, jvm_d = traced_info
        per_layer = self.layer_metrics(traced, jvm_d, pass_walls[-1])
        report["per_layer"] = per_layer
        report["spans"] = self.tracer.records()
        with open(os.path.join(WORK, f"trace-{self.workload}-{args.seed}.json"), "w") as f:
            json.dump(report, f, indent=1)
        return report, per_layer

    def layer_metrics(self, traced: list[dict], jvm_d: dict, untraced_wall: float) -> dict:
        tr = self.tracer
        # the set-ups' graph loads are reported on their own; every other
        # figure sums the spans of the traced pass
        warm_loads = [s for s in tr.spans if s.layer == "sources" and s.query is None][-SETUPS:]
        load_s = statistics.median(s.duration for s in warm_loads) if warm_loads else 0.0
        totals = tr.layer_totals(s for s in tr.spans if s.query is not None)

        def g(layer, key):
            return float(totals.get(layer, {}).get(key, 0))

        traced_wall = sum(r["latency_s"] for r in traced)
        return {
            "sources.load_s": load_s,
            "sources.jobs": float(warm_loads[-1].jobs) if warm_loads else 0.0,
            "parser.parse_ms": g("parser", "self_s") * 1e3,
            "planner.plan_ms": g("planner", "self_s") * 1e3,
            "planner.jobs": g("planner", "jobs"),
            "driver.py4j_calls": float(tr.py4j_calls),
            "driver.cpu_s": sum(r["cpu_s"] for r in traced),
            "operators.build_s": g("operators", "self_s"),
            "operators.jobs": g("operators", "jobs"),
            "operators.tasks": g("operators", "tasks"),
            "materialize.calls": g("materialize", "calls"),
            "materialize.s": g("materialize", "self_s"),
            "catalyst.plan_ms": g("catalyst", "self_s") * 1e3,
            "exec.action_s": g("exec", "self_s"),
            "exec.jobs": g("exec", "jobs"),
            "exec.stages": g("exec", "stages"),
            "exec.tasks": g("exec", "tasks"),
            "jvm.gc_ms": jvm_d["gc_ms"],
            "jvm.jit_ms": jvm_d["jit_ms"],
            "jvm.heap_peak_mb": jvm_d["heap_peak_mb"],
            "result.rows": float(sum(r["rows"] for r in traced)),
            "trace.overhead_s": traced_wall - untraced_wall,
        }


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    # the program under test must be importable before anything runs
    import cypher_for_apache_spark_spark  # noqa: F401
    import __spark_entry__  # noqa: F401

    bench = Bench(args)
    try:
        report, metrics = bench.run()
    finally:
        bench.shutdown()
    names = PER_LAYER if args.trace else END_TO_END
    out = {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {n: {"value": float(metrics[n]), "unit": unit_of(n)} for n in names},
    }
    print(json.dumps({"report": {k: v for k, v in report.items() if k != "spans"}}, default=str))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
