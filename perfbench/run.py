#!/usr/bin/env python3
"""Full-output benchmark of go_pandas_spark.

    python3 perfbench/run.py --workload ordered --seed 1 --seconds 12 --trace 0

Run from the repository root. One process, one client in a closed
loop, on ``local[<cpus>]``. The run derives its inputs from ``--seed``
and sets up: session, query registry, and a warm-up pass that runs
the timed sink once and checks every output against its oracle. It
then times a fixed number of passes over the workload's queries. Each
query is a plan build plus a ``noop`` sink that forces every output
column; its CPU time is read from /proc. Metric lines go to stdout;
the last line is one JSON object. ``--trace 1`` also records layer
spans and Spark job metrics and reports the per-layer metrics instead
of the end-to-end ones. The exit code is 0 only when every output
matched its oracle.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import IVF_ROUNDTRIP, SCALE, WORKLOADS  # noqa: E402

DRIVER_MEMORY = "2g"
NOMINAL_PASS_S = 6.0  # a warm pass on a 4-core box; sets the timed pass count
LAYER_PASSES = 2  # traced builds that bypass the plan memo (--trace 1)
REFERENCE_APPLY_ROWS_PER_S = 1000 / 0.174  # pandas df.apply(integrate_f, axis=1)

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}


def per_layer_units() -> dict[str, str]:
    from tracer import LAYERS

    units = {}
    for layer in LAYERS:
        units.update({f"{layer}.calls": "count", f"{layer}.self_s": "s",
                      f"{layer}.jobs": "count", f"{layer}.result_bytes": "bytes"})
    units.update({
        "session.start_s": "s",
        "suite.register_s": "s", "suite.build_s": "s", "suite.memo_hit_ratio": "ratio",
        "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
        "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
        "exec.gc_s": "s", "exec.core_busy_ratio": "ratio",
        "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
        "exec.input_rows": "rows", "exec.spill_bytes": "bytes",
        "exec.failed_tasks": "count", "exec.count_action_s": "s",
        "exec.count_bare_scans": "count",
        "trace.overhead_ratio": "ratio", "trace.unattributed_jobs": "count",
        "udf.rows_per_s": "rows/s", "mem.peak_rss_mb": "MB", "query.tail_s": "s",
        "wall.pass_s": "s", "wall.query_p50_s": "s", "query.cpu_p50_s": "s",
        "jvm.jit_cpu_s": "s", "exec.codegen_compiles": "count",
    })
    return units


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_environment(work: str) -> None:
    """Fit the session to this box and keep its files in ``work``.

    The engine's default driver heap (24g) is larger than a 15 GB box,
    and Python workers started by the JVM only find the package when
    its directory is on their PYTHONPATH (the JVM passes its own
    environment down to them)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # A fixed heap (G1 would otherwise size it anew in every run), and
    # JIT compiler threads that live as long as the JVM, so CpuClock
    # can tell their CPU time apart.
    java_options = (f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} "
                    "-XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '{java_options}' pyspark-shell"


def query_latencies(records: list[dict]) -> dict[str, float]:
    """Each query's median latency (build + action) over the timed passes."""
    by_query: dict[str, list[float]] = {}
    for r in records:
        by_query.setdefault(r["name"], []).append(r["build_s"] + r["action_s"])
    return {q: statistics.median(v) for q, v in by_query.items()}


class Bench:
    def __init__(self, args, work: str) -> None:
        self.queries = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scale = args.scale
        self.data_dir = os.path.join(work, "data")
        self.attempted = 0
        self.failures: list[str] = []
        self.last_df: dict[str, object] = {}
        self.log_lines: list[str] = []
        if self.trace:
            from tracer import Tracer

            self.tracer = Tracer()
        else:
            self.tracer = None

    def log(self, line: str) -> None:
        # printed once the JVM has exited: it shares this process's stdout,
        # and nothing may follow the result line
        self.log_lines.append(line)

    # -- queries -----------------------------------------------------
    def build(self, name: str, memo: bool = True):
        """Build one query's plan; ``memo=False`` calls the raw builder
        under the suite's plan memo (traced as a suite call)."""
        if name == IVF_ROUNDTRIP:
            import ivf

            df, self.ivf_cents = ivf.build(self.spark, self.data_dir)
            return df
        fn = self.suite.QUERIES[name]
        if not memo:
            fn = fn._gps_inner
            if self.tracer is not None:
                fn = self.tracer.wrap("suite", fn)
        return fn(self.spark, self.data_dir)

    def fail(self, name: str, exc: BaseException) -> None:
        first = str(exc).strip().splitlines()[0] if str(exc).strip() else ""
        self.failures.append(f"{name}: {type(exc).__name__}: {first[:300]}")

    def verify_pass(self) -> None:
        """The warm-up pass: build every query, run the timed sink once
        (its plans compile on their first run) and check the full output
        against the DuckDB oracle (the IVF probe against NumPy)."""
        import ivf
        from tests.oracle import assert_matches_oracle, duck_connect

        con = duck_connect(self.data_dir)
        try:
            for name in self.queries:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    df = self.build(name)
                    df.write.format("noop").mode("overwrite").save()
                    self.last_df[name] = df
                    t1 = time.perf_counter()
                    if name == IVF_ROUNDTRIP:
                        ivf.check(df.toPandas(), self.ivf_cents, self.data_dir)
                    else:
                        assert_matches_oracle(df, con, self.suite.ORACLES[name], name=name)
                        if name == "rowwise_udf_integrate":
                            self.udf_rows = con.execute(
                                f"SELECT count(*) FROM ({self.suite.ORACLES[name]})").fetchone()[0]
                    self.log(f"warm-up {name}: build and noop {t1 - t0:.3f} s, "
                             f"collect and check {time.perf_counter() - t1:.3f} s")
                except Exception as exc:  # noqa: BLE001 - counted, run goes on
                    self.fail(name, exc)
        finally:
            con.close()

    def timed_pass(self, count: bool) -> list[dict]:
        from sparkstats import ACTION_GROUP, COUNT_GROUP

        sc = self.spark.sparkContext
        records = []
        for name in self.queries:
            self.attempted += 1
            if self.tracer is not None:
                self.tracer.query = name
            c0, j0 = self.clock.read()
            t0 = time.perf_counter()
            try:
                df = self.build(name)
                t1 = time.perf_counter()
                sc.setLocalProperty("spark.jobGroup.id", f"{ACTION_GROUP}:{name}")
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                c1, j1 = self.clock.read()
                rec = {"name": name, "build_s": t1 - t0, "action_s": t2 - t1,
                       "cpu_s": (c1 - c0) - (j1 - j0), "jit_s": j1 - j0,
                       "memo_hit": df is self.last_df.get(name)}
                self.last_df[name] = df
                if count:
                    sc.setLocalProperty("spark.jobGroup.id", COUNT_GROUP)
                    t3 = time.perf_counter()
                    df.count()
                    rec["count_s"] = time.perf_counter() - t3
                records.append(rec)
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                self.fail(name, exc)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        return records

    def layer_pass(self) -> None:
        """Build every query once with the plan memo bypassed, so each
        build runs all the layer code it uses; no action."""
        for name in self.queries:
            self.attempted += 1
            self.tracer.query = name
            try:
                self.build(name, memo=False)
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                self.fail(name, exc)

    # -- set-up --------------------------------------------------------
    def setup(self, derive_s: float) -> dict:
        """Process start to session ready, registry loaded and the
        checked warm-up pass done; the input derivation is not counted."""
        import go_pandas_spark as gp
        from sparkstats import CpuClock

        t = time.perf_counter()
        self.spark = gp.get_spark("perfbench")
        session_s = time.perf_counter() - t
        self.clock = CpuClock()
        t = time.perf_counter()
        import go_pandas_spark.suite as suite

        suite.register_all()
        self.suite = suite
        register_s = time.perf_counter() - t
        self.verify_pass()
        total = time.perf_counter() - T_PROCESS - derive_s
        return {"total_s": total, "session_s": session_s, "register_s": register_s}

    # -- the run ---------------------------------------------------------
    def n_passes(self) -> int:
        return max(2, math.ceil(self.seconds / NOMINAL_PASS_S))

    def run(self) -> dict:
        from inputs import derive
        from sparkstats import RssSampler, StatusReader

        t = time.perf_counter()
        rows = derive(self.scale, self.seed, self.data_dir)
        derive_s = time.perf_counter() - t
        self.log(f"inputs {self.scale} seed {self.seed}: " +
                 ", ".join(f"{k}={v}" for k, v in rows.items()))
        self.udf_rows = 0
        # The sampler scans /proc from a thread of this process, where it
        # takes the GIL from the timed driver thread: traced runs only.
        rss = RssSampler() if self.trace else contextlib.nullcontext()
        with rss:
            setup = self.setup(derive_s)
            if self.trace:
                reader = StatusReader(self.spark)
                bare = self.bare_scans()
                reader.new_jobs()
            # A traced run interleaves untraced and traced timed passes as
            # u t t u u t t u ..., so the drift while the JIT still warms
            # does not favour either kind (the traced ones only give
            # trace.overhead_ratio), then builds every query LAYER_PASSES
            # times, traced, with the plan memo bypassed.
            passes, layers = [], []
            n = self.n_passes() * (2 if self.trace else 1)
            for i in range(n):
                traced = self.trace and i % 4 in (1, 2)
                compiles = self.codegen_compiles()
                if traced:
                    self.tracer.install(self.suite.QUERIES)
                try:
                    recs = self.timed_pass(count=self.trace)
                finally:
                    if traced:
                        self.tracer.uninstall()
                        self.tracer.take()
                p = {"records": recs, "traced": traced,
                     "pass_s": sum(r["build_s"] + r["action_s"] for r in recs),
                     "codegen_compiles": self.codegen_compiles() - compiles}
                if self.trace:
                    p["jobs"] = reader.new_jobs()
                passes.append(p)
            for _ in range(LAYER_PASSES if self.trace else 0):
                self.tracer.install(self.suite.QUERIES)
                try:
                    self.layer_pass()
                finally:
                    self.tracer.uninstall()
                layers.append({"spans": self.tracer.take(), "jobs": reader.new_jobs()})
        self.log("pass_s by pass: " + ", ".join(f"{p['pass_s']:.3f}" for p in passes))
        self.log("cpu_s by pass (JIT compilation apart): " + ", ".join(
            f"{sum(r['cpu_s'] for r in p['records']):.3f} "
            f"(+{sum(r['jit_s'] for r in p['records']):.3f})" for p in passes))
        result = {"setup": setup, "passes": passes, "layers": layers}
        if self.trace:
            self.log(f"peak rss {rss.peak / 2 ** 20:.0f} MB (driver, jvm, workers: " +
                     ", ".join(f"{b / 2 ** 20:.0f}" for b in rss.split) + ")")
            result["peak_rss_mb"] = rss.peak / 2 ** 20
            result["bare"] = bare
            result["epoch_offset"] = time.time() - time.perf_counter()
        return result

    def codegen_compiles(self) -> int:
        """Whole-stage and expression classes Spark has compiled so far."""
        metrics = self.spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def bare_scans(self) -> list[str]:
        """Queries whose ``.count()`` plan, once optimized, is only a
        scan (plus projections and the count itself)."""
        scan_only = {"Aggregate", "Project", "Relation", "LogicalRelation",
                     "LocalRelation", "LogicalRDD", "Range"}
        bare = []
        for name in self.queries:
            plan = self.build(name).groupBy().count()._jdf.queryExecution().optimizedPlan()
            nodes = {line.lstrip(" :+-|").split(" ")[0].split("[")[0]
                     for line in plan.toString().splitlines() if line.strip()}
            if nodes <= scan_only:
                bare.append(name)
        return bare


def end_to_end(bench: Bench, res: dict) -> dict:
    timed = [p for p in res["passes"] if not p["traced"]]
    records = [r for p in timed for r in p["records"]]
    per_query = query_latencies(records)
    bench.log(f"passes {len(timed)}, {len(records)} query samples; per-query medians: " +
              ", ".join(f"{q} {v:.3f}" for q, v in per_query.items()))
    for name in bench.queries:
        runs = [(r["build_s"], r["action_s"], r["cpu_s"]) for r in records if r["name"] == name]
        bench.log(f"latency {name}: " + ", ".join(f"{b:.3f}+{a:.3f} (cpu {c:.2f})"
                                                    for b, a, c in runs))
    units = per_layer_units()
    for k, v in unbounded(res).items():
        bench.log(f"{k} {v:.6g} {units[k]} ({len(timed)} passes, {len(records)} query samples)")
    return {
        "setup_s": res["setup"]["total_s"],
        "pass_cpu_s": statistics.median(sum(r["cpu_s"] for r in p["records"]) for p in timed),
    }


def unbounded(res: dict) -> dict:
    """Over the untraced timed passes: the wall-clock pass time and
    median query latency, a query's median CPU time and the JIT
    compilers' CPU time per pass (medians)."""
    timed = [p for p in res["passes"] if not p["traced"]]
    records = [r for p in timed for r in p["records"]]
    return {
        "wall.pass_s": statistics.median(p["pass_s"] for p in timed),
        "wall.query_p50_s": statistics.median(r["build_s"] + r["action_s"] for r in records),
        "query.cpu_p50_s": statistics.median(r["cpu_s"] for r in records),
        "jvm.jit_cpu_s": statistics.median(sum(r["jit_s"] for r in p["records"]) for p in timed),
        "exec.codegen_compiles": statistics.median(p["codegen_compiles"] for p in timed),
    }


def tail_latency(bench: Bench, res: dict) -> float:
    """The slowest query's median latency over the untraced timed passes.

    The rule "highest percentile with ten samples beyond it" needs more
    than 20 samples to land above the median, and a run has 2 passes x 5
    queries, so this is p100 over the per-query medians."""
    records = [r for p in res["passes"] if not p["traced"] for r in p["records"]]
    per_query = query_latencies(records)
    slowest = max(per_query, key=per_query.get)
    bench.log(f"query.tail_s is p100 of {len(per_query)} per-query medians over "
              f"{len(records)} samples: {slowest}")
    return per_query[slowest]


def per_layer(bench: Bench, res: dict) -> dict:
    from sparkstats import ACTION_GROUP
    from tracer import LAYERS, aggregate

    passes = res["passes"]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    layers = res["layers"]
    out = {}
    layer_sum = {layer: {"calls": 0, "self_s": 0.0, "jobs": 0, "result_bytes": 0}
                 for layer in LAYERS}
    unattributed = 0
    by_query: dict[tuple, list] = {}
    for p in layers:
        agg = aggregate(p["spans"], p["jobs"], res["epoch_offset"])
        unattributed += agg["unattributed_jobs"]
        for layer, vals in agg["layers"].items():
            for k, v in vals.items():
                layer_sum[layer][k] += v
        for key, (calls, own) in agg["by_query"].items():
            acc = by_query.setdefault(key, [0, 0.0])
            acc[0] += calls
            acc[1] += own
    for (query, layer), (calls, own) in sorted(by_query.items(), key=lambda kv: -kv[1][1]):
        bench.log(f"span {query} {layer}: {calls / len(layers):g} calls, "
                  f"{own / len(layers):.4f} s self per build")
    for layer, vals in layer_sum.items():
        for k, v in vals.items():
            out[f"{layer}.{k}"] = v / len(layers)
    out["session.start_s"] = res["setup"]["session_s"]
    out["suite.register_s"] = res["setup"]["register_s"]
    # build, memo and execution figures come from the untraced passes
    recs = [r for p in untraced for r in p["records"]]
    n = len(untraced)
    out["suite.build_s"] = sum(r["build_s"] for r in recs) / n
    out["suite.memo_hit_ratio"] = sum(r["memo_hit"] for r in recs) / max(len(recs), 1)
    actions = [j for p in untraced for j in p["jobs"]
               if (j["group"] or "").startswith(ACTION_GROUP + ":")]
    out["exec.action_s"] = sum(r["action_s"] for r in recs) / n
    out["exec.jobs"] = len(actions) / n
    for key in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "input_rows",
                "spill_bytes", "failed_tasks"):
        out[f"exec.{key}"] = sum(j[key] for j in actions) / n
    out["exec.core_busy_ratio"] = out["exec.task_run_s"] / (out["exec.action_s"] * cpus())
    out["exec.count_action_s"] = sum(r["count_s"] for r in recs) / n
    out["exec.count_bare_scans"] = len(res["bare"])
    out["trace.overhead_ratio"] = (statistics.median(p["pass_s"] for p in traced)
                                   / statistics.median(p["pass_s"] for p in untraced))
    out["trace.unattributed_jobs"] = unattributed / len(layers)
    out["udf.rows_per_s"] = udf_rate(bench, recs)
    out["mem.peak_rss_mb"] = res["peak_rss_mb"]
    out["query.tail_s"] = tail_latency(bench, res)
    out.update(unbounded(res))
    bench.log("count plans that are a bare scan: " + (", ".join(res["bare"]) or "none"))
    for name in bench.queries:
        mine = [r for r in recs if r["name"] == name]
        if mine:
            run_s = sum(j["task_run_s"] for j in actions if j["group"] == f"{ACTION_GROUP}:{name}")
            bench.log(f"query {name}: build {statistics.median(r['build_s'] for r in mine):.3f} s, "
                      f"action {statistics.median(r['action_s'] for r in mine):.3f} s, "
                      f"count {statistics.median(r['count_s'] for r in mine):.3f} s, "
                      f"action task run {run_s / n:.3f} s")
    return out


def udf_rate(bench: Bench, recs: list[dict]) -> float:
    mine = [r["action_s"] for r in recs if r["name"] == "rowwise_udf_integrate"]
    if not mine or not bench.udf_rows:
        return 0.0
    rate = bench.udf_rows / statistics.median(mine)
    bench.log(f"udf rows/s {rate:.1f} ({bench.udf_rows} rows; the reference's "
              f"single-thread df.apply is {REFERENCE_APPLY_ROWS_PER_S:.0f} rows/s)")
    return rate


def stop_session(bench: Bench) -> None:
    """Stop Spark and the JVM it runs in, then wait for every child."""
    from pyspark import SparkContext

    from sparkstats import wait_for_children

    spark = getattr(bench, "spark", None)
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    wait_for_children()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default=SCALE, help=f"input snapshot to derive from (default {SCALE})")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("go_pandas_spark/__init__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(1, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_environment(work)
    bench = Bench(args, work)
    try:
        res = bench.run()
    finally:
        stop_session(bench)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    e2e = end_to_end(bench, res)
    metrics = per_layer(bench, res) if bench.trace else e2e
    units = per_layer_units() if bench.trace else END_TO_END
    for line in bench.log_lines:
        print(line)
    if bench.trace:
        for k, v in e2e.items():
            print(f"(traced run) {k} {v:.6g} {END_TO_END[k]}")
    fail_ratio = len(bench.failures) / bench.attempted
    for f in bench.failures:
        print(f"FAILED {f}")
    print(f"fail_ratio {fail_ratio:.6g} ratio ({len(bench.failures)} of {bench.attempted})")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if not bench.failures else 1


if __name__ == "__main__":
    sys.exit(main())
