#!/usr/bin/env python3
"""End-to-end benchmark of node_mongo2influx_spark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. One Spark application on ``local[<cpus>]``,
one client, closed loop: each pass starts when the previous one has ended.
Inputs are generated from ``--seed`` inside ``.perfbench_work/`` (removed at
exit); the program sees only the generated files. Workloads:

* ``migrate_mongo_influx`` -- a pass is ``Engine.migrate`` of a seeded
  mongoexport dump (``SpoolCatalog``) through
  ``TransformSpec(drop=["_id"], rename={"date": "time"})`` into
  ``InfluxLineProtocolSink(SpoolTransport, insert_limit=150)`` with
  ``table_concurrency=2`` and ``empty_series=True``.
* ``analytics`` -- a pass runs each ``ANALYTICS`` registry query's
  ``QueryDef.fn`` followed by a noop write; the session cache is cleared
  between passes.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (see ``BENCHMARK.json``); with ``--trace 1`` a separate
traced run reports the per-layer ones and writes its spans to
``.perfbench_out/``. Outputs are checked outside the timed region; a run
with any failed operation reports ``correct: false``. See ``DESIGN.md``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pathlib  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import checks  # noqa: E402
import spans  # noqa: E402

HERE = pathlib.Path(__file__).resolve().parent
REPO = HERE.parent

#: analytics queries -> the generated tables each one reads: a windowed
#: per-user top-N with a DuckDB oracle, then the corpus operators -- one
#: query with no IVF (MinHash LSH) and one per IVF call site (corpus-side
#: cell assignment, query-side IVFPQ probe).
ANALYTICS = {
    "window_topn_per_user": ("events",),
    "dedup_minhash_lsh": ("documents",),
    "semantic_dedup_ivf": ("embeddings",),
    "knn_cosine_ivfpq_batch": ("embeddings",),
}
WORKLOADS = {"migrate_mongo_influx": "migrate", "analytics": "queries"}
INSERT_LIMIT = 150

LAYER_METRICS = (
    ("engine.migrate_s", "s"), ("engine.table_s_p50", "s"),
    ("engine.table_s_max", "s"), ("engine.overlap", "ratio"),
    ("sources.table_names_s", "s"), ("sources.read_s", "s"),
    ("sources.scan_s", "s"), ("sources.rows_read", "count"),
    ("transform.apply_s", "s"), ("transform.exec_s", "s"),
    ("transform.rows_in", "count"), ("transform.rows_skipped", "count"),
    ("transform.skip_ratio", "ratio"),
    ("sinks.write_s", "s"), ("sinks.truncate_s", "s"), ("sinks.render_s", "s"),
    ("sinks.deliver_s", "s"), ("sinks.lines", "count"),
    ("sinks.batches", "count"), ("sinks.bytes", "bytes"),
    ("sinks.batch_fill", "ratio"),
    ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.executor_run_s", "s"), ("exec.executor_cpu_s", "s"),
    ("trace.run_s", "s"), ("trace.overhead_s", "s"),
) + tuple(
    (f"plans.{q}.{m}", u)
    for q in ANALYTICS
    for m, u in (("build_s", "s"), ("build_jobs", "count"),
                 ("plan_s", "s"), ("exec_s", "s"))
)


def log(msg: str) -> None:
    print(f"# [{time.monotonic() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def noop_write(df) -> dict:
    """Materialize ``df`` into Spark's noop sink; return its fingerprint
    (``checks.fingerprint_columns``) observed by the same execution."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, *checks.fingerprint_columns(df)).write.format("noop").mode(
        "overwrite"
    ).save()
    return obs.get


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args, work: pathlib.Path) -> None:
        self.args = args
        self.work = work
        self.kind = WORKLOADS[args.workload]
        self.queries = tuple(ANALYTICS) if self.kind == "queries" else ()
        self.attempted = 0
        self.failed: set = set()
        self.first_s: float | None = None
        self.warm_s: list[float] = []
        self.rows: list[int] = []
        self.layer: dict[str, list[float]] = {}
        self.tracer = None
        self.counters = None
        self.good_lines = None

    def record(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    # -- set-up ----------------------------------------------------------
    def generate(self) -> None:
        if self.kind == "migrate":
            import gen_dump

            self.dump = self.work / "dump"
            self.expected = gen_dump.generate(self.args.seed, self.dump)
            self.out = self.work / "influx"
        else:
            import gen_tables

            self.data = self.work / "tables"
            rows = gen_tables.generate(self.args.seed, self.data)
            self.n_input_rows = sum(
                rows[t] for q in self.queries for t in ANALYTICS[q]
            )

    def setup(self) -> None:
        from node_mongo2influx_spark import Engine, EngineConfig
        from node_mongo2influx_spark.plans import load_registry

        self.registry = load_registry()
        tmp = self.work / "tmp"
        cfg = EngineConfig(
            table_concurrency=2,
            empty_series=True,
            logging=False,
            spark_conf={
                # keep the JVM's temp files inside the run directory
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        n = cpus()
        self.eng = Engine.builder(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{n}]",
            config=cfg,
        )
        self.spark = self.eng.spark
        self.spark.sparkContext.setLogLevel("ERROR")
        # Python-worker warm-up job
        self.spark.range(2 * n).repartition(n).mapInPandas(
            lambda it: it, schema="id long"
        ).write.format("noop").mode("overwrite").save()

    # -- migrate workload -------------------------------------------------
    def migrate_once(self, spec=None, sink=None, traced=False):
        from node_mongo2influx_spark import TransformSpec
        from node_mongo2influx_spark.sinks.influx import (
            InfluxLineProtocolSink,
            SpoolTransport,
        )
        from node_mongo2influx_spark.sources.catalog import SpoolCatalog

        t0 = time.monotonic()
        catalog = SpoolCatalog(self.spark, str(self.dump))
        spec = spec or TransformSpec(drop=["_id"], rename={"date": "time"})
        sink = sink or InfluxLineProtocolSink(
            SpoolTransport(str(self.out)), insert_limit=INSERT_LIMIT
        )
        if traced:
            catalog = spans.TracedCatalog(catalog, self.tracer)
            spec = spans.TracedTransform(spec, self.tracer)
            sink = spans.TracedSink(sink, self.tracer)
        report = self.eng.migrate(catalog, spec, sink)
        return time.monotonic() - t0, report

    def migrate_pass(self, p: int, traced: bool = False) -> float:
        if traced:
            span_id0 = self.tracer.last_id()
            j0 = self.counters.next_job_id()
            with self.tracer.span("engine.migrate", n=p) as rec:
                self.tracer.root = rec["id"]
                wall, report = self.migrate_once(traced=True)
            self.tracer.root = None
        else:
            wall, report = self.migrate_once()
        log(f"pass {p}: {wall:.3f}s")
        # output checks, outside the timed region: written lines are parsed
        # and compared with the expected points, unless they are the very
        # lines of an earlier pass that passed this check
        lines, stats = checks.read_lines(self.out)
        if lines == self.good_lines:
            points = self.expected["points"]
        else:
            points = checks.parse_points(lines)
        problems = checks.check_migration(report, self.expected, points)
        if not problems:
            self.good_lines = lines
        tables = {t.table for t in report.tables} | set(self.expected["docs"])
        self.attempted += len(tables)
        for name, why in sorted(problems.items()):
            self.failed.add((p, name))
            log(f"pass {p}: table {name}: {why}")
        self.rows.append(report.rows_written)
        if traced:
            self.record_migrate_layers(wall, report, stats, span_id0, j0)
        return wall

    def record_migrate_layers(self, wall, report, stats, span_id0, j0) -> None:
        t = self.tracer
        secs = [r.seconds for r in report.tables]
        self.record("trace.run_s", wall)
        self.record("engine.migrate_s", report.seconds)
        self.record("engine.table_s_p50", median(secs))
        self.record("engine.table_s_max", max(secs, default=0.0))
        self.record("engine.overlap", sum(secs) / report.seconds)
        self.record("sources.table_names_s", t.total("sources.table_names", span_id0))
        self.record("sources.read_s", t.total("sources.read", span_id0))
        self.record("transform.apply_s", t.total("transform.apply", span_id0))
        rows_in = sum(r.rows_in for r in report.tables)
        skipped = sum(r.rows_skipped for r in report.tables)
        self.record("transform.rows_in", rows_in)
        self.record("transform.rows_skipped", skipped)
        self.record("transform.skip_ratio", skipped / rows_in if rows_in else 0.0)
        self.record("sinks.write_s", t.total("sinks.write", span_id0))
        self.record("sinks.truncate_s", t.total("sinks.truncate", span_id0))
        lines = sum(s["lines"] for s in stats.values())
        batches = sum(s["batches"] for s in stats.values())
        self.record("sinks.lines", lines)
        self.record("sinks.batches", batches)
        self.record("sinks.bytes", sum(s["bytes"] for s in stats.values()))
        self.record("sinks.batch_fill",
                    lines / (batches * INSERT_LIMIT) if batches else 0.0)
        # records the source's scans produced, every scan of the pass
        # counted (schema inference reads on the driver, not in a scan)
        self.record("sources.rows_read", self.record_exec(j0)["input_records"])

    def differential_passes(self, full_wall: float) -> None:
        """Scan, transform and render passes into noop writes; each layer's
        execution time is the difference to the pass below it."""
        from node_mongo2influx_spark import TransformSpec
        from node_mongo2influx_spark.sinks.influx import render_lines
        from node_mongo2influx_spark.sinks.noop import NoopSink

        class RenderNoopSink(NoopSink):
            def write(self, df, series):
                render_lines(df, series).write.format("noop").mode(
                    "overwrite"
                ).save()
                return -1

        scan, _ = self.migrate_once(
            spec=TransformSpec(time_column=None, count_skipped=False),
            sink=NoopSink(),
        )
        transform, _ = self.migrate_once(sink=NoopSink())
        render, _ = self.migrate_once(sink=RenderNoopSink())
        self.record("sources.scan_s", scan)
        self.record("transform.exec_s", transform - scan)
        self.record("sinks.render_s", render - transform)
        self.record("sinks.deliver_s", full_wall - render)

    # -- analytics workloads ----------------------------------------------
    def query_pass(self, p: int, traced: bool = False) -> float:
        t0 = time.monotonic()
        j_pass = self.counters.next_job_id() if traced else 0
        per_query = []
        for name in self.queries:
            qd = self.registry[name]
            self.attempted += 1
            t_q = time.monotonic()
            try:
                if traced:
                    fp = self.traced_query(name, qd)
                else:
                    fp = noop_write(qd.fn(self.spark, str(self.data)))
            except Exception as exc:  # a failed query is a failed operation
                self.failed.add((p, name))
                log(f"pass {p}: {name}: {type(exc).__name__}: {str(exc)[:300]}")
                continue
            per_query.append(f"{name}={time.monotonic() - t_q:.2f}")
            fp = (fp["rows"], fp["hsum"], fp["hxor"])
            first = self.fingerprints.setdefault(name, fp)
            if fp != first:
                self.failed.add((p, name))
                log(f"pass {p}: {name}: result {fp} differs from pass 0 {first}")
        wall = time.monotonic() - t0
        log(f"pass {p}: {wall:.3f}s ({' '.join(per_query)})")
        if traced:
            self.record("trace.run_s", wall)
            self.record_exec(j_pass)
        self.spark.catalog.clearCache()
        return wall

    def traced_query(self, name, qd):
        t, c = self.tracer, self.counters
        j0 = c.next_job_id()
        with t.span("plans.build", query=name) as build:
            df = qd.fn(self.spark, str(self.data))
        jobs = c.next_job_id() - j0
        with t.span("plans.plan", query=name) as plan:
            df._jdf.queryExecution().executedPlan()
        with t.span("plans.exec", query=name) as ex:
            fp = noop_write(df)
        for key, rec in (("build_s", build), ("plan_s", plan), ("exec_s", ex)):
            self.record(f"plans.{name}.{key}", rec["end"] - rec["start"])
        self.record(f"plans.{name}.build_jobs", jobs)
        return fp

    def oracle_checks(self) -> None:
        checker = checks.OracleChecker(REPO, self.data)
        try:
            for name in self.queries:
                qd = self.registry[name]
                if qd.oracle is None or (0, name) in self.failed:
                    continue
                problem = checker.check(qd.fn(self.spark, str(self.data)), qd.oracle)
                if problem:
                    self.failed.add((0, name))
                    log(f"{name}: oracle mismatch: {problem}")
        finally:
            checker.close()
            self.spark.catalog.clearCache()

    # -- shared -----------------------------------------------------------
    def record_exec(self, j0: int) -> dict:
        ex = self.counters.jobs_between(j0, self.counters.next_job_id())
        for k in ("stages", "tasks", "shuffle_write_bytes", "spill_bytes",
                  "executor_run_s", "executor_cpu_s"):
            self.record(f"exec.{k}", ex[k])
        return ex

    def one_pass(self, p: int, traced: bool = False) -> float:
        if self.kind == "migrate":
            return self.migrate_pass(p, traced)
        return self.query_pass(p, traced)

    def measure(self) -> None:
        """Closed loop: the first pass, then warm passes until their summed
        wall time reaches ``--seconds`` (at least one). A traced run
        alternates traced and untraced warm passes (plus the differential
        passes of the migrate workload)."""
        self.fingerprints: dict = {}
        traced = bool(self.args.trace)
        self.first_s = self.one_pass(0)
        p = 1
        while p == 1 or sum(self.warm_s) < self.args.seconds:
            if traced:
                wall = self.one_pass(p, traced=True)
                if self.kind == "migrate":
                    self.differential_passes(wall)
                p += 1
            self.warm_s.append(self.one_pass(p))
            p += 1
        self.passes = p
        if self.kind == "queries":
            self.oracle_checks()
        log("checks done")

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            # the JVM exits when its stdin closes
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        log("session and JVM stopped")

    def result(self, setup_s: float) -> dict:
        """The benchmark's JSON result; ``failed / attempted`` is the
        error rate, and any failure makes the run incorrect."""
        return {
            "correct": not self.failed,
            "attempted": self.attempted,
            "failed": len(self.failed),
            "metrics": self.metrics(setup_s),
        }

    def metrics(self, setup_s: float) -> dict:
        run_s = median(self.warm_s)
        if self.args.trace:
            out = {name: (median(self.layer.get(name, [])), unit)
                   for name, unit in LAYER_METRICS}
            out["trace.overhead_s"] = (out["trace.run_s"][0] - run_s, "s")
        else:
            if self.kind == "migrate":
                rows = median(self.rows)
            else:
                rows = self.n_input_rows
            out = {
                "setup_s": (setup_s, "s"),
                "first_run_s": (self.first_s, "s"),
                "run_s": (run_s, "s"),
                "rows_per_s": (rows / run_s, "1/s"),
            }
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: pathlib.Path) -> None:
    """Python workers import the library from this checkout; Spark's
    scratch space stays inside the run directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(REPO)]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    sys.path.insert(0, str(REPO))


def execute(run: Run) -> dict:
    """Generate inputs, set up, measure and check; return the result."""
    args = run.args
    pre_gen = time.monotonic() - T_START
    t_gen = time.monotonic()
    run.generate()
    log(f"inputs generated in {time.monotonic() - t_gen:.2f}s")
    t0 = time.monotonic()
    run.setup()
    setup_s = pre_gen + time.monotonic() - t0
    log(f"setup {setup_s:.2f}s on local[{cpus()}]")
    if args.trace:
        run.tracer = spans.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        run.counters = spans.SparkCounters(run.spark)
    run.measure()
    result = run.result(setup_s)
    if run.tracer is not None:
        run.tracer.write(
            REPO / ".perfbench_out" / f"trace-{args.workload}-{args.seed}.json"
        )
    log(
        f"passes={run.passes} first={run.first_s:.3f}s "
        f"warm={[round(w, 3) for w in run.warm_s]} "
        f"error_rate={result['failed'] / result['attempted']:.4f}"
    )
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (REPO / "node_mongo2influx_spark" / "__init__.py").is_file():
        log(f"node_mongo2influx_spark not found under {REPO}; run from a checkout")
        return 2
    work = REPO / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    prepare_env(work)
    run = Run(args, work)
    try:
        result = execute(run)
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
