"""Finite-budget DP query benchmark for tumult_analytics_spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dp_interactive --seed 1 --seconds 5 --trace 0

One process, one client, closed loop: the next operation starts when the
previous one has its rows on the driver. Spark runs as ``local[nproc]``.

Phases of a run:

1. Spark start, then the oracle replay: every operation once at
   ``workloads.ORACLE_EPSILON``, for the gate's exact answers. It takes
   the JVM's cold start, and it runs every plan shape of the workload
   on the finite-budget path before anything is timed.
2. ``SETUP_REPS`` set-ups (read the parquet tables,
   ``Session.Builder().build()``, one warm-up query). ``setup_s`` is the
   Spark start plus the median set-up.
3. On the last set-up's session, the first unit of the seeded order
   once, untimed, on dp_interactive (``Workload.warm_first_unit``);
   then the timed phase: whole passes over the seeded
   workload until at least ``--seconds`` of operation time has been
   measured. Each operation is timed from its builder call until
   ``toPandas`` returns.
4. The correctness gate (see ``gate.py``), outside the timed region, on
   every timed operation.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, and a per-operation
trace with a workload profile is written under
``.bench_build/perfbench/traces/``. Human-readable ``#`` lines before it
repeat every metric with its unit, sample count and tail percentile.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import List

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")

END_TO_END_UNITS = {
    "setup_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "queries_per_s": "1/s",
    "peak_rss_mb": "MB",
}


@dataclass
class OpRecord:
    index: int
    unit: int
    position: int  # index of the op inside its unit
    name: str
    latency_s: float
    evals: list = field(default_factory=list)
    failures: List[str] = field(default_factory=list)
    trace: object = None  # its spans.OpTrace in a traced run


def p90(values: List[float]) -> float:
    """The 90th percentile, interpolated between the two nearest ranks.

    A run times one or a few passes of 3 to 9 operations: too few for a
    percentile with ten samples beyond it. Interpolating keeps one
    outlier from setting the tail on its own, as the maximum would.
    """
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tumult_analytics_spark")):
        print("perfbench: tumult_analytics_spark is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import sparkenv
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    try:
        return Runner(args, run_dir).run()
    finally:
        sparkenv.wait_for_children()
        shutil.rmtree(run_dir, ignore_errors=True)


class Runner:
    def __init__(self, args, run_dir: str):
        import workloads

        self.args = args
        self.run_dir = run_dir
        self.workload = workloads.WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.event_dir = os.path.join(run_dir, "events") if self.trace else None
        self.tracer = None
        self.records: List[OpRecord] = []

    # ------------------------------------------------------------------
    def run(self) -> int:
        import datagen
        import sparkenv

        sparkenv.prepare_process_env(ROOT, self.run_dir)
        data_dir = datagen.ensure(os.path.join(BUILD_DIR, "data"), self.workload.scale)
        spark = None
        with sparkenv.RssSampler() as rss:
            try:
                t0 = time.perf_counter()
                spark = sparkenv.build_spark(self.run_dir, self.event_dir)
                spark_start_s = time.perf_counter() - t0
                header = sparkenv.run_header(spark, self.args.workload, self.args.seed,
                                             os.path.relpath(data_dir, ROOT), self.trace)
                print("# header " + json.dumps(header), flush=True)
                self._install_tracer(spark)
                t1 = time.perf_counter()
                exact = self._exact_results(spark, data_dir)
                setup_reps = self._setup(spark, data_dir)
                setup_s = spark_start_s + statistics.median(setup_reps)
                rss.reset()
                t2 = time.perf_counter()
                measured = self._timed_phase()
                peak_rss_mb = rss.peak_mb
                t3 = time.perf_counter()
                self._check(exact)
                print(f"# phases: oracle replay and set-ups {t2 - t1:.1f} s, "
                      f"timed {t3 - t2:.1f} s "
                      f"(measured {measured:.1f} s), checks {time.perf_counter() - t3:.1f} s")
                log = None
                if self.trace:
                    sparkenv.stop_spark(spark)
                    spark = None
                    from spans import read_event_log

                    log = read_event_log(self.event_dir)
            finally:
                if spark is not None:
                    sparkenv.stop_spark(spark)
        return self._report(header, setup_s, spark_start_s, setup_reps,
                            measured, peak_rss_mb, log)

    def _install_tracer(self, spark) -> None:
        if not self.trace:
            return
        import spans

        self.tracer = spans.Tracer(spark)
        spans.install(self.tracer)

    # ------------------------------------------------------------------
    def _setup(self, spark, data_dir: str) -> List[float]:
        import workloads

        reps = []
        for _ in range(SETUP_REPS):
            if self.tracer:
                self.tracer.begin_setup()
            t = time.perf_counter()
            tables = self.workload.read_tables(spark, data_dir)
            budgets = workloads.Budgets(oracle=False)
            sess = self.workload.build_session(
                tables, workloads.SESSION_EPSILON, workloads.SESSION_DELTA)
            budgets.open(sess, workloads.SESSION_EPSILON, workloads.SESSION_DELTA)
            env = workloads.Env(spark, tables, sess, budgets)
            workloads.warm_up(env)
            reps.append(time.perf_counter() - t)
            if self.tracer:
                self.tracer.end_setup()
        self.env = env
        return reps

    def _after_eval(self, ev) -> None:
        """Gate work that needs the evaluation's session while it is still
        usable: the session's noise description. Its time is subtracted
        from the operation's latency."""
        if ev.kind != "additive":
            return
        t = time.perf_counter()
        if self.tracer:
            self.tracer.pause()
        try:
            ev.noise_info = ev.session._noise_info(ev.query, ev.budget)
        finally:
            if self.tracer:
                self.tracer.resume()
            self.env.gate_s += time.perf_counter() - t

    def _warm_up(self) -> None:
        """Run the first unit of the seeded order once, untimed, where the
        workload asks for it (``Workload.warm_first_unit``).

        After the oracle replay, the first operation on the benchmark
        session of dp_interactive still took up to 1.5 times its later
        latency (id_table_variance: 3.1-4.2 s when first, 2.5-3.3 s
        otherwise). An operation that raises here raises again, and is
        counted, when timed.
        """
        if not self.workload.warm_first_unit:
            return
        for op in self.units[0].ops:
            try:
                op.fn(self.env)
            except Exception:  # reported by the timed run of the same op
                print(f"# warm-up {op.name} raised", file=sys.stderr)

    def _timed_phase(self) -> float:
        self._warm_up()
        self.env.after_eval = self._after_eval
        measured = 0.0
        while measured < self.args.seconds:
            for ui, unit in enumerate(self.units):
                for pos, op in enumerate(unit.ops):
                    rec = OpRecord(len(self.records), ui, pos, op.name, 0.0)
                    if self.tracer:
                        self.tracer.begin_op(rec.index, op.name)
                    self.env.gate_s = 0.0
                    t = time.perf_counter()
                    try:
                        rec.evals = op.fn(self.env)
                    except Exception:  # counted as a failed operation
                        rec.failures.append(traceback.format_exc(limit=3))
                    rec.latency_s = time.perf_counter() - t - self.env.gate_s
                    if self.tracer:
                        rec.trace = self.tracer.end_op(rec.latency_s)
                    rec.failures += self.env.budgets.mismatches()
                    measured += rec.latency_s
                    self.records.append(rec)
        return measured

    # ------------------------------------------------------------------
    def _exact_results(self, spark, data_dir: str) -> list:
        """Replay every unit once at ``ORACLE_EPSILON``, each on a session
        of its own with an infinite budget, a few units at a time. The
        results are the gate's exact answers. The replay runs first, so
        the JVM's cold start falls on it rather than on the set-ups, and
        every plan shape has run once, noise sampler and checkpoint
        included, before anything is timed: the first such run of a shape
        took up to twice its later latency."""
        import sparkenv
        import workloads

        self.units = self.workload.units(self.args.seed)
        self.tables = self.workload.read_tables(spark, data_dir)

        def replay(unit):
            # The active SparkSession is per JVM thread.
            spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(
                spark._jsparkSession)
            budgets = workloads.Budgets(oracle=True)
            sess = self.workload.build_session(self.tables, float("inf"), 1)
            env = workloads.Env(spark, self.tables, sess, budgets)
            try:
                return [[ev.rows for ev in op.fn(env)] for op in unit.ops]
            except Exception:  # every operation of the unit fails the gate
                return traceback.format_exc(limit=3)

        with ThreadPoolExecutor(max_workers=sparkenv.host_cpus()) as pool:
            return list(pool.map(replay, self.units))

    def _check(self, exact: list) -> None:
        import gate

        if self.tracer:
            self.tracer.pause()
        sizes = {}
        residuals = gate.Residuals()
        for rec in self.records:
            if isinstance(exact[rec.unit], str):
                rec.failures.append("exact replay failed: " + exact[rec.unit])
                continue
            for k, ev in enumerate(rec.evals):
                key = (rec.unit, rec.position, k)
                if ev.keyset is not None and key not in sizes:
                    sizes[key] = ev.keyset.size()
                want = exact[rec.unit][rec.position][k]
                # Materialized: a second fetch of the returned DataFrame
                # must give the rows fetched inside the timed region.
                try:
                    ev.same_on_refetch = ev.df.toPandas().equals(ev.rows)
                except Exception:  # a lazy result whose inputs are gone
                    ev.same_on_refetch = False
                rec.failures += gate.check_evaluation(
                    ev, want, sizes.get(key), rec.index, residuals)
                if ev.keyset is not None and rec.trace is not None:
                    rec.trace.counters["keyset.groups"] += sizes[key]
        pooled = residuals.failures()
        for rec in self.records:
            if rec.index in residuals.owners:
                rec.failures += pooled

    # ------------------------------------------------------------------
    def _report(self, header, setup_s, spark_start_s, setup_reps, measured,
                peak_rss_mb, log) -> int:
        lats = [r.latency_s for r in self.records]
        n = len(lats)
        failed = sum(1 for r in self.records if r.failures)
        for r in self.records:
            print(f"# op {r.index} {r.name} {r.latency_s:.3f} s")
            for f in r.failures:
                print(f"# FAILED {r.name}#{r.index}: {f.strip()}", file=sys.stderr)
        e2e = {
            "setup_s": setup_s,
            "query_p50_s": statistics.median(lats),
            "query_tail_s": p90(lats),
            "queries_per_s": n / measured,
            "peak_rss_mb": peak_rss_mb,
        }
        print(f"# workload {self.args.workload}: {n} operations in "
              f"{measured:.2f} s measured, {failed} failed")
        print(f"# setup_s = {setup_s:.4f} s (spark start {spark_start_s:.3f} s + "
              f"median of {len(setup_reps)} set-ups {[round(x, 3) for x in setup_reps]})")
        print(f"# query_p50_s = {e2e['query_p50_s']:.4f} s (n={n})")
        beyond = sum(x > e2e["query_tail_s"] for x in lats)
        print(f"# query_tail_s = {e2e['query_tail_s']:.4f} s "
              f"(p90, n={n}, {beyond} samples beyond)")
        print(f"# queries_per_s = {e2e['queries_per_s']:.4f} 1/s (n={n})")
        print(f"# failed_frac = {failed / n:.4f} ({failed}/{n})")
        print(f"# peak_rss_mb = {peak_rss_mb:.1f} MB (driver + JVM tree)")
        if self.trace:
            metrics = self._layer_metrics(header, log)
        else:
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        print(json.dumps({"correct": failed == 0, "attempted": n, "failed": failed,
                          "metrics": metrics}))
        return 0

    def _layer_metrics(self, header, log) -> dict:
        import spans

        per_op = [spans.op_metrics(r.trace, log) for r in self.records]
        names = list(per_op[0])
        mean = {k: statistics.fmean(m[k] for m in per_op) for k in names}
        coverage = [1 - m["bench.residual_s"] / m["trace.latency_s"] for m in per_op]
        mean.update(spans.setup_metrics(self.tracer.setup_spans, SETUP_REPS))
        mean["trace.query_p50_s"] = statistics.median(m["trace.latency_s"] for m in per_op)
        mean["trace.coverage_min"] = min(coverage)
        del mean["trace.latency_s"]
        self._write_trace(header, per_op, mean)
        return {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(mean.items())}

    def _write_trace(self, header, per_op, summary) -> None:
        profile = defaultdict(lambda: defaultdict(float))
        count = defaultdict(int)
        for rec, m in zip(self.records, per_op):
            count[rec.name] += 1
            for k, v in m.items():
                profile[rec.name][k] += v
        doc = {
            "header": header,
            "summary": summary,
            "profile": {name: {"count": count[name],
                               **{k: v / count[name] for k, v in agg.items()}}
                        for name, agg in profile.items()},
            "operations": [{"index": r.index, "name": r.name, "failed": bool(r.failures),
                            **m} for r, m in zip(self.records, per_op)],
        }
        out_dir = os.path.join(BUILD_DIR, "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        print(f"# trace written to {os.path.relpath(path, ROOT)}")


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name == "trace.coverage_min":
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
