#!/usr/bin/env python3
"""Benchmark of the resumable backfill and the CDC refresh.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload backfill_default --seed 1 \\
        --seconds 12 --trace 0

Workloads (see ``perfbench/workloads.py``): ``backfill_default`` times
``sources.lineage.run_extraction``; ``refresh_cdc`` times
``sources.cowtable.merge_into`` followed by
``sources.maintain.refresh_extracted_table``. The input is generated from
``--seed`` by ``sources.synth``; every job's output is checked against
``core.oracle``.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
is a separate run that prints the per-layer metrics: it times each layer's
public function on its own with spans and Spark SQL metrics, and writes the
spans to ``.perfbench/results/``. ``--smoke`` runs the same code on a tiny
input.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``;
the line before it is the full report (host stamp, input, per-job walls).
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
MB = 1e6
OVERHEAD_NOTE = ("one traced job minus one untraced job (on the refresh, "
                 "the next CDC batch): a single-sample difference, smaller "
                 "than run-to-run noise")


def _prepare_env(work: str) -> None:
    """Point every process this run starts at the checkout under test and
    keep their scratch files inside ``work``. A packaged
    ``pdf_parser_spark.zip`` on any path is dropped: workers must import
    the checkout's own sources."""
    def keep(p: str) -> bool:
        return bool(p) and not p.endswith("pdf_parser_spark.zip")

    # the script's own directory leaves sys.path: perfbench/trace.py must
    # not shadow the standard library's trace module
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if keep(p)
                            and os.path.abspath(p) not in (ROOT, here)]
    py_path = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in py_path if keep(p) and p != ROOT])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def _source_digest() -> str:
    """sha256 over the program's sources, for checkouts without git."""
    h = hashlib.sha256()
    for top in ("pdf_parser_spark", "jobs"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def _commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                         capture_output=True, text=True, check=False)
    return out.stdout.strip() or None


class Run:
    """Everything one benchmark run shares across its phases."""

    def __init__(self, args, work: str):
        from perfbench.host import ProcTree, nproc
        from perfbench.trace import Tracer
        from perfbench.workloads import FULL, SMOKE

        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.trace = args.seconds, bool(args.trace)
        self.sizes = SMOKE if args.smoke else FULL
        if self.trace:
            # a traced run times one untraced job only to price the tracing
            self.sizes = dataclasses.replace(self.sizes, min_jobs=1,
                                             max_jobs=1, cdc_jobs=1)
        self.work = work
        self.nproc = nproc()
        self.tree = ProcTree()
        self.tracer = Tracer(enabled=False)
        self.spark = None
        self.t0 = time.perf_counter()
        self.setup_s: float | None = None
        self.phases: dict[str, float] = {}   # set-up phase walls

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t0

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def start_session(self) -> None:
        from pyspark import SparkContext

        from pdf_parser_spark.session import build_session

        tmp = os.environ["TMPDIR"]
        self.spark = build_session(
            "perfbench", cores=self.nproc, extra_conf={
                "spark.driver.extraJavaOptions":
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false"})
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tree.jvm_pid = SparkContext._gateway.proc.pid
        self.tracer.attach(self.spark)

    def stop(self) -> list[int]:
        """Stop Spark and wait until every process this run started has
        exited; returns the pids that had to be killed."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            # the JVM exits when its stdin closes
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        return self.tree.stop_and_reap()


def _worker_roots(spark, n: int) -> set[str]:
    """Where Python workers import the package from."""
    def probe(_):
        import pdf_parser_spark
        yield os.path.dirname(os.path.dirname(
            os.path.realpath(pdf_parser_spark.__file__)))
    return set(spark.sparkContext.parallelize(range(n), n)
               .mapPartitions(probe).collect())


def execute(run: Run) -> tuple[dict, dict, int, int]:
    """Run the workload; returns (metrics, report, attempted, failed)."""
    import pdf_parser_spark
    from perfbench import ladder
    from perfbench.trace import median
    from jobs.equality_check import oracle_digest
    from perfbench.workloads import (BACKFILL_CONFIGS, CdcTable, Ops,
                                     backfill_job, check_backfill,
                                     generate_input, input_stats,
                                     run_backfill, run_refresh)
    from pdf_parser_spark.config import CLEANING_CONFIG, DEFAULT_CONFIG

    tracer, sizes = run.tracer, run.sizes
    root = os.path.dirname(os.path.dirname(
        os.path.realpath(pdf_parser_spark.__file__)))
    tracer.enabled = run.trace
    with tracer.span("session") as s_session:
        run.start_session()
    # the session's first Python job: daemon launch, worker forks, import
    with tracer.span("python.start") as s_python:
        workers = _worker_roots(run.spark, run.nproc)
    if {root} != {os.path.realpath(ROOT)} or workers != {root}:
        raise RuntimeError(f"package imported from {root} (driver) and "
                           f"{sorted(workers)} (workers), not {ROOT}")
    corpus = run.path("input")
    backfill = run.workload in BACKFILL_CONFIGS
    n_convs = sizes.backfill_convs if backfill else sizes.cdc_convs
    with tracer.span("synth") as s_gen:
        generate_input(run.spark, corpus, n_convs, run.seed)
    stats = input_stats(corpus)
    run.phases |= {"session": s_session["wall"], "synth": s_gen["wall"]}
    report = {"input": stats, "phases_s": run.phases,
              "heap": run.spark.conf.get("spark.driver.memory")}
    n_traced = 1 if run.trace else 0

    if backfill:
        cfg = BACKFILL_CONFIGS[run.workload]
        tracer.enabled = False
        ops, traced = run_backfill(run, corpus, cfg, stats["turns"],
                                   traced_jobs=n_traced)
        report["overhead"] = {"turns_per_s": [
            stats["turns"] / sp["wall"] - sum(ops.turns) / sum(ops.walls)
            for sp in traced], "note": OVERHEAD_NOTE}
    else:
        cfg = DEFAULT_CONFIG
        table = CdcTable(run, corpus, "cdc", sizes.cdc_files, cfg)
        tracer.enabled = False
        ops, traced_ops = run_refresh(run, table, traced_jobs=n_traced)
        ops.attempted += traced_ops.attempted
        ops.failed += traced_ops.failed
        if traced_ops.walls:
            report["overhead"] = {
                k: median(traced_ops.extra[k]) - median(ops.extra[k])
                for k in ("refresh_s", "ingest_s")} | {"note": OVERHEAD_NOTE}
    report["jobs"] = {"walls_s": ops.walls, "turns": ops.turns,
                      "written_bytes": ops.written, **ops.extra}
    if not ops.walls:
        raise RuntimeError(f"all {ops.attempted} timed jobs failed")

    if not run.trace:
        ok = ops.attempted - ops.failed
        metrics = {
            "turns_per_s": sum(ops.turns) / sum(ops.walls),
            "job_s": median(ops.walls),
            "setup_s": run.setup_s,
            "ok_frac": ok / ops.attempted,
        }
        return metrics, report, ops.attempted, ops.failed

    attempted, failed = ops.attempted, ops.failed
    tracer.enabled = True
    metrics = {"session.start_s": s_session["wall"],
               "python.start_s": s_python["wall"],
               "synth.gen_s": s_gen["wall"],
               "proc.cpu_util": ops.extra["cpu_util"][0]}
    with tracer.span("core"):
        core = ladder.core_layer(corpus, cfg, run.seed,
                                 sizes.core_sample_convs)
    report["core_sample_turns"] = core.pop("core.sample_turns")
    metrics |= core
    metrics |= ladder.spark_layers(run, corpus, cfg, CLEANING_CONFIG)
    if backfill:
        if traced:
            metrics |= ladder.lineage_metrics(tracer, traced[0])
        # the CDC layers, on a small table built from a second input
        tracer.enabled = False
        mini = run.path("mini_input")
        generate_input(run.spark, mini, sizes.mini_cdc_convs, run.seed)
        table = CdcTable(run, mini, "mini", 4, cfg)
        table.job(None)
        cdc_ops = Ops()
        tracer.enabled = True
        table.job(cdc_ops)
        tracer.enabled = False
        problems = table.check()
    else:
        sp = backfill_job(run, corpus, run.path("ladder_out"), cfg)
        tracer.enabled = False
        metrics |= ladder.lineage_metrics(tracer, sp)
        problems = check_backfill(run.spark, run.path("ladder_out"),
                                  oracle_digest(corpus, cfg))
        cdc_ops = traced_ops
    if problems:
        run.log(f"ladder output check failed: {problems}")
        failed += 1
    attempted += 1
    if cdc_ops.walls:
        metrics |= ladder.cdc_metrics(tracer, cdc_ops)
    report["self_time_s"] = tracer.self_times()
    return metrics, report, attempted, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny input, for testing the benchmark itself")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pdf_parser_spark",
                                       "session.py")):
        print(f"perfbench: no pdf_parser_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    declared = {m["name"]: m["unit"]
                for m in spec["per_layer" if args.trace else "end_to_end"]}

    work = os.path.join(STATE, f"work-{os.getpid()}")
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    from perfbench.host import host_stamp

    import bench  # the repo's bench.py: its host canary and CPU window

    stamp = host_stamp(bench._host_canary)
    cpu_before = bench._cpu_times()
    run = Run(args, work)
    try:
        metrics, report, attempted, failed = execute(run)
    except Exception:
        traceback.print_exc()
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
        return 1
    killed = run.stop()
    rss = {"driver_rss_mb": run.tree.jvm_hwm_mib * (1 << 20) / MB,
           "worker_rss_mb": run.tree.worker_hwm_mib * (1 << 20) / MB}
    if args.trace:
        metrics["proc.driver_rss_mb"] = rss["driver_rss_mb"]
    else:
        metrics["worker_rss_mb"] = rss["worker_rss_mb"]
    report["rss_mb"] = rss
    stamp |= bench._cpu_window(cpu_before, bench._cpu_times())
    stamp["canary_after_mloops_per_s"] = bench._host_canary()
    stamp["heap"] = report.pop("heap")
    missing = set(declared) - set(metrics)
    if missing:
        print(f"perfbench: metrics not measured: {sorted(missing)}",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1

    tag = (f"{args.workload}-seed{args.seed}-trace{args.trace}"
           + ("-smoke" if args.smoke else ""))
    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "smoke": args.smoke, "commit": _commit(),
              "source_sha256": _source_digest(), "host": stamp,
              "killed_pids": killed, **report,
              "metrics": metrics}
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    if args.trace:
        run.tracer.dump(os.path.join(results, f"{tag}.spans.json"),
                        {"workload": args.workload, "seed": args.seed,
                         "overhead": report.get("overhead")})
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in declared.items()}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
