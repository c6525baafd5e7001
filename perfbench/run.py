#!/usr/bin/env python3
"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. A run generates its inputs from
``--seed`` (untimed), starts the JVM once (untimed, recorded as
``session.boot_s``), lets the workload prepare (untimed), then sets up
``SETUPS`` times — each set-up restarts the Spark session and redoes the
workload's set-up — and reports the median as ``setup_s``. It then runs
one cold pass of the workload's fixed work (``first_pass_s``) and warm
passes until ``--seconds`` have elapsed and there are at least
``MIN_WARM`` of them (``wall_s``, the fastest), and checks the outputs
once, outside every timing.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs span
wrappers around the layers' public functions, alternates traced and
untraced warm passes, and prints the per-layer metrics instead. Spans,
samples and host readings of every run go to
``.perfbench_work/records/``. The last stdout line is the result; the
exit code is 1 when a check or an operation failed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

SETUPS = 3
#: The JIT keeps compiling into the first warm passes and other tenants
#: of the host slow single passes down; the fastest of two or more warm
#: passes is the one least disturbed by either.
MIN_WARM = 2

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("first_pass_s", "s")]


def _per_layer() -> list[tuple[str, str]]:
    from workloads import NearDup

    out = [
        ("session.boot_s", "s"),
        ("session.get_spark_s", "s"),
        ("catalog.register_views_s", "s"),
        ("catalog.load_table_s", "s"),
    ]
    for q in NearDup.QUERIES:
        out += [(f"queries.{q}.first_s", "s"), (f"queries.{q}.exec_s", "s"), (f"queries.{q}.tasks", "count")]
    out.append(("queries.llm.plan_s", "s"))
    out += [
        ("ml.load_tweets_csv_s", "s"),
        ("ml.tfidf_fit_s", "s"),
        ("ml.nb_fit_s", "s"),
        ("ml.fit_s", "s"),
        ("ml.fit_self_s", "s"),
        ("ml.evaluate_s", "s"),
        ("ml.transform_rows_per_s", "rows/s"),
        ("ml.save_s", "s"),
        ("ml.load_s", "s"),
        ("ml.vocab_size", "count"),
        ("ml.accuracy", "ratio"),
        ("ml.predict_one_us", "us"),
        ("engine.insert_prediction_ms", "ms"),
        ("engine.insert_prediction_tail_ms", "ms"),
        ("engine.create_predictions_table_ms", "ms"),
        ("engine.top_k_predictions_ms", "ms"),
        ("engine.top_k_predictions_tail_ms", "ms"),
        ("engine.store_files", "count"),
        ("engine.store_bytes", "bytes"),
        ("serving.predict_ms", "ms"),
        ("serving.predictions_ms", "ms"),
        ("serving.predict_self_ms", "ms"),
        ("serving.predictions_self_ms", "ms"),
        ("serving.predict_http_overhead_ms", "ms"),
        ("serving.predictions_http_overhead_ms", "ms"),
    ]
    for kind in ("predict", "predictions"):
        out += [
            (f"serve.{kind}_p50_ms", "ms"),
            (f"serve.{kind}_tail_ms", "ms"),
            (f"serve.{kind}_tail_pct", "percentile"),
            (f"serve.{kind}_samples", "count"),
        ]
    out += [
        ("serve.store_bytes_per_user_byte", "ratio"),
        ("spark.jobs_per_request", "count"),
        ("spark.jobs", "count"),
        ("spark.failed_tasks", "count"),
        ("run.error_rate", "ratio"),
        ("host.steal_pct", "%"),
        ("host.iowait_pct", "%"),
        ("host.peak_rss_mb", "MB"),
        ("trace.overhead_s", "s"),
        ("trace.spans", "count"),
    ]
    return out


WORKLOADS = ("serve", "neardup")


class _NoTrace:
    """Stand-in for the tracer in untraced runs: every hook is a no-op."""

    active = False

    def span(self, name):
        return contextlib.nullcontext()

    def group(self, name):
        return contextlib.nullcontext()


class _Traced:
    """Tracer plus Spark job groups, both installed through public names."""

    def __init__(self) -> None:
        from spans import Tracer

        self.tracer = Tracer()
        self.groups: list[str] = []
        self.spark = None
        self.active = False
        self.requests = iter(range(1 << 62))

    def span(self, name):
        return self.tracer.span(name) if self.active else contextlib.nullcontext()

    def group(self, name):
        return _JobGroup(self, name) if self.active else contextlib.nullcontext()

    def install(self) -> None:
        import importlib

        from pyspark.ml.classification import NaiveBayes

        from bigdata_lab4_spark import catalog, engine, serving, session
        from bigdata_lab4_spark.ml import pipeline, tfidf

        t = self.tracer
        t.patch(session, "get_spark", "session.get_spark")
        t.patch(catalog, "register_views", "catalog.register_views")
        t.patch(catalog, "load_table", "catalog.load_table")
        import bigdata_lab4_spark.queries as Q

        for mod in sorted(m for m in sys.modules if m.startswith(Q.__name__ + ".")):
            mod = importlib.import_module(mod)
            if hasattr(mod, "load_table"):
                t.patch(mod, "load_table", "catalog.load_table")
        t.patch(tfidf.SklearnTfidf, "fit", "ml.tfidf_fit")
        t.patch(NaiveBayes, "fit", "ml.nb_fit")
        t.patch(pipeline.SentimentPipeline, "fit", "ml.fit")
        t.patch(pipeline, "load_tweets_csv", "ml.load_tweets_csv")
        for m in ("evaluate", "transform", "save", "load", "predict_one"):
            t.patch(pipeline.SentimentModel, m, f"ml.{m}")
        # serving imports these two by name; engine.insert_prediction
        # calls the module-global create_predictions_table
        t.patch(serving, "insert_prediction", "engine.insert_prediction")
        t.patch(serving, "top_k_predictions", "engine.top_k_predictions")
        t.patch(engine, "create_predictions_table", "engine.create_predictions_table")
        for route in ("predict", "predictions"):
            self._group_route(serving.SentimentAPI, route)
            t.patch(serving.SentimentAPI, route, f"serving.{route}")
        self.active = True

    def _group_route(self, cls, route: str) -> None:
        """Run each request's Spark jobs under their own job group; the
        server handles a request on its own thread, so the group is set
        there."""
        orig = cls.__dict__[route]
        owner = self

        def grouped(api, *args, **kwargs):
            with _JobGroup(owner, f"serving.{route}.{next(owner.requests)}", api.spark):
                return orig(api, *args, **kwargs)

        self.tracer.replace(cls, route, grouped)

    def uninstall(self) -> None:
        self.tracer.uninstall()
        self.active = False

    def job_stats(self, sc) -> dict[str, tuple[int, int, int]]:
        """(jobs, tasks, failed tasks) per job group, read through the
        public StatusTracker."""
        st = sc.statusTracker()
        out = {}
        for g in self.groups:
            jobs = tasks = failed = 0
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    si = st.getStageInfo(sid)
                    if si:
                        tasks += si.numTasks
                        failed += si.numFailedTasks
            out[g] = (jobs, tasks, failed)
        return out


class _JobGroup:
    def __init__(self, traced: _Traced, name: str, spark=None) -> None:
        self.traced, self.name, self.spark = traced, name, spark

    def __enter__(self):
        self.traced.groups.append(self.name)
        sc = (self.spark or self.traced.spark).sparkContext
        sc.setJobGroup(self.name, self.name)
        return None

    def __exit__(self, *exc):
        sc = (self.spark or self.traced.spark).sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        return None


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _workload(name: str, work: str, seed: int, smoke: bool, clients: int):
    import workloads

    return (workloads.Serve if name == "serve" else workloads.NearDup)(work, seed, smoke, clients)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs and one set-up, for the benchmark's own tests")
    ap.add_argument("--clients", type=int, default=1, help="serve: closed-loop client threads")
    args = ap.parse_args(argv)

    import bigdata_lab4_spark  # noqa: F401  (fail before any output when absent)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    records = os.path.join(base, "records")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(records, exist_ok=True)
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM would write its hsperfdata file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    # local[N] and the shuffle partition count follow this (session.get_spark)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    wl = _workload(args.workload, work, args.seed, args.smoke, args.clients)
    try:
        return _run(args, wl, work, records)
    finally:
        wl.teardown()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, work: str, records: str) -> int:
    from bigdata_lab4_spark import session
    from spans import durations
    from stats import cpu_noise, cpu_times, host_record, median, peak_rss_mb, tree_cpu_s

    extra = {
        # no hsperfdata file: the JVM would write it to /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    phases = {}
    t_start = time.perf_counter()

    def phase(name):
        phases[name] = time.perf_counter() - t_start

    tr = _Traced() if args.trace else _NoTrace()
    wl.tr = tr
    wl.inputs()
    phase("inputs")

    t0 = time.perf_counter()
    spark = session.get_spark(app_name="perfbench", extra_conf=extra)
    boot_s = time.perf_counter() - t0
    phase("boot")
    if args.trace:
        tr.spark = spark
        tr.install()
    wl.prepare(spark)
    phase("prepare")

    setups, cpu = [], {"setups": [], "warm": []}
    for _ in range(1 if args.smoke else SETUPS):
        wl.teardown()
        spark.stop()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        spark = session.get_spark(app_name="perfbench", extra_conf=extra)
        tr.spark = spark
        wl.setup(spark)
        setups.append(time.perf_counter() - t0)
        cpu["setups"].append(tree_cpu_s() - c0)
    phase("setups")

    cpu0 = cpu_times()
    c0, t0 = tree_cpu_s(), time.perf_counter()
    ops = wl.run_pass(spark, cold=True)
    first_pass = time.perf_counter() - t0
    cpu["cold"] = tree_cpu_s() - c0
    warm, untraced = [], []
    deadline = time.perf_counter() + args.seconds
    while True:
        # the traced run alternates untraced passes in, to measure the
        # tracing overhead on the same store and session state
        plain = bool(args.trace) and len(untraced) < len(warm)
        if plain:
            tr.uninstall()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        ops += wl.run_pass(spark, cold=False)
        (untraced if plain else warm).append(time.perf_counter() - t0)
        if not plain:
            cpu["warm"].append(tree_cpu_s() - c0)
        if plain:
            tr.install()
        if time.perf_counter() >= deadline and (
            len(warm) >= MIN_WARM if not args.trace
            else untraced and len(warm) + len(untraced) >= wl.TRACED_PASSES
        ):
            break
    noise = cpu_noise(cpu0, cpu_times())
    phase("passes")
    failures = wl.check(spark)
    wl.teardown()
    phase("check")

    failed = [o for o in ops if not o.ok]
    failures += [f"{o.name}: {o.detail.get('error')}" for o in failed[:5]]
    if args.trace:
        jobs = tr.job_stats(spark.sparkContext)
        tr.uninstall()
        units = dict(_per_layer())
        metrics = dict.fromkeys(units, 0)
        metrics.update(wl.layers(tr.tracer.spans, jobs))
        metrics.update({
            "session.boot_s": boot_s,
            "session.get_spark_s": median(durations(tr.tracer.spans, "session.get_spark")),
            "spark.failed_tasks": sum(v[2] for v in jobs.values()),
            "run.error_rate": len(failed) / len(ops),
            "host.steal_pct": noise["steal_pct"],
            "host.iowait_pct": noise["iowait_pct"],
            "host.peak_rss_mb": peak_rss_mb(),
            "trace.overhead_s": median(warm) - median(untraced),
            "trace.spans": len(tr.tracer.spans),
        })
        tr.tracer.dump(os.path.join(records, f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        units = dict(END_TO_END)
        metrics = {
            "setup_s": median(setups),
            "wall_s": min(warm),
            "first_pass_s": first_pass,
        }
    spark.stop()
    _stop_jvm()
    phase("stop")

    with open(os.path.join(records, f"run-{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump({
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "phases_s": phases,
            "boot_s": boot_s,
            "prepare_steps_s": getattr(wl, "train_s", {}),
            "setups_s": setups,
            "cold_pass_s": first_pass,
            "warm_passes_s": warm,
            "untraced_passes_s": untraced,
            "cpu_s": cpu,
            "ops": [(o.name, o.seconds, o.ok) for o in ops],
            "host": {**host_record(), **noise},
            "failures": failures,
        }, f, indent=1)

    for msg in failures:
        print(f"CHECK FAILED {msg}")
    print(f"{args.workload}: setups {[round(s, 3) for s in setups]} cold {first_pass:.3f} "
          f"warm {[round(s, 3) for s in warm]} steal {noise['steal_pct']:.2f}% "
          f"iowait {noise['iowait_pct']:.2f}% load {os.getloadavg()[0]:.2f}")
    correct = not failures
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
