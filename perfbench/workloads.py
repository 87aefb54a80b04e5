"""The workloads: a closed loop, one client, one job at a time.

- ``backfill_default``: the paper's job, ``sources.lineage.run_extraction``
  (what ``jobs/extract_job.py`` runs) in reference-parity mode, 16 buckets
  8 per job, resume on, a fresh output directory per job.
- ``refresh_cdc``: CDC maintenance. Each job applies one seed-derived
  change batch to a transcripts cow table with ``sources.cowtable.
  merge_into`` (the ingest) and reflects it in the extracted table with
  ``sources.maintain.refresh_extracted_table``.

Every job's output is checked against ``core.oracle`` with the canonical-
row digest of ``jobs/equality_check.py``; a job that raises or fails its
check counts as failed.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field

import pyarrow.dataset as ds
from pyspark.sql import functions as F

from jobs.equality_check import oracle_digest, spark_digest
from pdf_parser_spark.config import DEFAULT_CONFIG, ExtractionConfig
from pdf_parser_spark.sources.cowtable import (create_table, merge_into,
                                               read_manifest, read_table)
from pdf_parser_spark.sources.lineage import (read_extracted, read_lineage,
                                              run_extraction)
from pdf_parser_spark.sources.maintain import (build_extracted_table,
                                               refresh_extracted_table)
from pdf_parser_spark.sources.synth import (generate_transcripts,
                                            generate_transcripts_distributed)

N_BUCKETS, BUCKETS_PER_JOB = 16, 8       # the extract_job defaults
INPUT_FILES = 16                          # fixed: the input depends on the
                                          # seed only, never on the host


@dataclass(frozen=True)
class Sizes:
    """Input sizes. ``FULL`` is the benchmark; ``SMOKE`` runs the same
    code on a tiny input."""
    backfill_convs: int
    min_jobs: int
    max_jobs: int
    cdc_convs: int
    cdc_files: int
    cdc_jobs: int              # fixed, so runs compare like batches (each
                               # rewrites more of the extracted table)
    # conversations that gain turns per batch: a multiple of 97 holds
    # exactly one maximum-length conversation (sources.synth makes every
    # 97th one maximal), so batches weigh about the same
    cdc_append: int
    cdc_rewrite: int           # older conversations rewritten per batch
    cdc_recent: int            # size of the "recently active" key window
    mini_cdc_convs: int        # CDC ladder on backfill traced runs
    core_sample_convs: int


FULL = Sizes(backfill_convs=12000, min_jobs=2, max_jobs=8,
             cdc_convs=3000, cdc_files=12, cdc_jobs=3,
             cdc_append=97, cdc_rewrite=4, cdc_recent=300,
             mini_cdc_convs=600, core_sample_convs=1500)
SMOKE = Sizes(backfill_convs=300, min_jobs=1, max_jobs=2,
              cdc_convs=300, cdc_files=4, cdc_jobs=1,
              cdc_append=20, cdc_rewrite=2,
              cdc_recent=60, mini_cdc_convs=200, core_sample_convs=50)

BACKFILL_CONFIGS = {"backfill_default": DEFAULT_CONFIG}


@dataclass
class Ops:
    """Outcome of the timed jobs of one run."""
    attempted: int = 0
    failed: int = 0
    walls: list[float] = field(default_factory=list)
    turns: list[int] = field(default_factory=list)     # turns per job
    written: list[int] = field(default_factory=list)   # bytes per job
    extra: dict[str, list] = field(default_factory=dict)

    def add(self, key: str, value) -> None:
        self.extra.setdefault(key, []).append(value)


def generate_input(spark, path: str, n_convs: int, seed: int) -> None:
    (generate_transcripts_distributed(spark, n_convs, seed=seed,
                                      partitions=INPUT_FILES)
     .write.parquet(path))


def input_stats(path: str) -> dict:
    """Turns, bytes, files and heaviest-conversation share of the input,
    so a result pins the workload it measured."""
    files = [os.path.join(path, f) for f in sorted(os.listdir(path))
             if f.endswith(".parquet")]
    convs = ds.dataset(files).to_table(columns=["conv_id"]).column(0)
    counts = convs.value_counts()
    turns = len(convs)
    return {"turns": turns, "convs": len(counts),
            "bytes": sum(os.path.getsize(f) for f in files),
            "files": len(files),
            "heaviest_conv_share": round(
                max(c.as_py() for c in counts.field(1)) / turns, 6)}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


# --- backfill ----------------------------------------------------------------

def backfill_job(run, corpus: str, out: str,
                 cfg: ExtractionConfig) -> dict:
    """One ``run_extraction`` into a fresh directory; returns its span."""
    with run.tracer.span("lineage") as sp:
        res = run_extraction(run.spark, corpus, out, cfg,
                             n_buckets=N_BUCKETS,
                             buckets_per_job=BUCKETS_PER_JOB, resume=True)
    sp["groups"] = -(-len(res.processed_buckets) // BUCKETS_PER_JOB)
    return sp


def check_backfill(spark, out: str, want: tuple[int, int]) -> list[str]:
    """Problems with one backfill's output (empty when it is right)."""
    problems = []
    extracted = read_extracted(spark, out)
    got = spark_digest(extracted)
    if got != want:
        problems.append(f"digest {got} != oracle {want}")
    done = (read_lineage(spark, out).where(F.col("status") == "done")
            .agg(F.count("*").alias("n"),
                 F.countDistinct("bucket_id").alias("b")).collect()[0])
    if (done.n, done.b) != (N_BUCKETS, N_BUCKETS):
        problems.append(f"lineage holds {done.n} done rows over {done.b} "
                        f"buckets, want {N_BUCKETS}")
    chunks = (spark.read.parquet(f"{out}/metrics")
              .agg(F.sum("total_chunks")).collect()[0][0])
    if chunks != got[1]:
        problems.append(f"metrics total_chunks {chunks} != {got[1]} rows")
    return problems


def run_backfill(run, corpus: str, cfg: ExtractionConfig, n_turns: int,
                 traced_jobs: int = 0) -> tuple[Ops, list[dict]]:
    """One untimed warm-up job, then time jobs until ``run.seconds`` have
    been measured (at least ``min_jobs``); then ``traced_jobs`` more with
    tracing on, so untraced minus traced is the tracing overhead. Returns
    the untraced ops and the traced jobs' spans."""
    sizes = run.sizes
    with run.tracer.span("warmup") as warm:
        backfill_job(run, corpus, run.path("warm"), cfg)
        shutil.rmtree(run.path("warm"))
    run.phases["warmup"] = warm["wall"]
    run.setup_done()
    want = oracle_digest(corpus, cfg)

    def job(i: int, ops: Ops) -> dict | None:
        out = run.path(f"job{i}")
        ops.attempted += 1
        try:
            sp = backfill_job(run, corpus, out, cfg)
            problems = check_backfill(run.spark, out, want)
        except Exception as exc:  # a failed job is counted, not fatal
            sp, problems = None, [f"{type(exc).__name__}: {exc}"]
        if problems:
            ops.failed += 1
            run.log(f"job {i} failed: {problems}")
            sp = None
        else:
            ops.walls.append(sp["wall"])
            ops.turns.append(n_turns)
            ops.written.append(_dir_bytes(f"{out}/extracted"))
        shutil.rmtree(out, ignore_errors=True)
        return sp

    ops = Ops()
    cpu0 = run.tree.cpu_seconds()
    while ops.attempted < sizes.min_jobs or (
            sum(ops.walls) < run.seconds and ops.attempted < sizes.max_jobs):
        job(ops.attempted, ops)
    ops.add("cpu_util", (run.tree.cpu_seconds() - cpu0)
            / (max(sum(ops.walls), 1e-9) * run.nproc))
    traced_ops, traced = Ops(), []
    run.tracer.enabled = True
    try:
        for i in range(traced_jobs):
            run.tracer.new_trace()
            traced.append(job(sizes.max_jobs + i, traced_ops))
    finally:
        run.tracer.enabled = False
    ops.attempted += traced_ops.attempted
    ops.failed += traced_ops.failed
    return ops, [sp for sp in traced if sp is not None]


# --- CDC maintenance ---------------------------------------------------------

SRC_SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp, turn_key string, op string")


def _turn_key(conv_id: str, turn_idx: int) -> str:
    return f"{conv_id}#{turn_idx:06d}"


class CdcTable:
    """A transcripts cow table, its extracted table, and a driver-side
    model of the source that makes each change batch from the seed."""

    def __init__(self, run, corpus: str, name: str, n_files: int,
                 cfg: ExtractionConfig = DEFAULT_CONFIG):
        self.run, self.corpus, self.cfg = run, corpus, cfg
        self.src = run.path(f"{name}_src")
        self.dst = run.path(f"{name}_dst")
        spark = run.spark
        turns = spark.read.parquet(corpus).withColumn(
            "turn_key", F.concat_ws("#", "conv_id",
                                    F.format_string("%06d", "turn_idx")))
        # range-clustered on the turn key, the layout bench.py --maintain
        # uses: a conversation's turns sit in one or two files
        with run.tracer.span("cowtable.create") as create:
            create_table(spark, turns.repartitionByRange(n_files, "turn_key"),
                         self.src, "turn_key")
        with run.tracer.span("maintain.build") as build:
            build_extracted_table(spark, self.src, self.dst, cfg,
                                  n_files=n_files)
        run.phases[f"{name}.create"] = create["wall"]
        run.phases[f"{name}.build"] = build["wall"]
        counts = (ds.dataset(corpus).to_table(columns=["conv_id"])
                  .column(0).value_counts())
        self.n_turns = {c["values"].as_py(): c["counts"].as_py()
                        for c in counts}
        self.convs = sorted(self.n_turns)
        self.rewritten: set[str] = set()
        self.batches = 0

    def _batch(self):
        """The next batch: new turns on ``cdc_append`` adjacent
        conversations among the ``cdc_recent`` newest (adjacent keys, so
        few files) plus a full rewrite of ``cdc_rewrite`` scattered older
        conversations never rewritten before."""
        sizes = self.run.sizes
        append, rewrite, recent = (sizes.cdc_append, sizes.cdc_rewrite,
                                   sizes.cdc_recent)
        b = self.batches
        rng = random.Random(f"{self.run.seed}:cdc:{b}")
        window = self.convs[-recent:]
        lo = rng.randrange(len(window) - append + 1)
        grow = window[lo:lo + append]
        # one older conversation per equal slice of the key space, so every
        # batch touches about as many files as the last
        older = [c for c in self.convs[:-recent] if c not in self.rewritten]
        stride = len(older) // rewrite
        start = rng.randrange(stride)
        scatter = older[start::stride][:rewrite]
        self.rewritten.update(scatter)
        fresh = generate_transcripts(append, seed=rng.randrange(1 << 30),
                                     max_turns=3)
        by_conv: dict[str, list[dict]] = {}
        for r in fresh:
            by_conv.setdefault(r["conv_id"], []).append(r)
        rows = []
        for conv, new_turns in zip(grow, by_conv.values()):
            for r in new_turns:
                t = self.n_turns[conv]
                self.n_turns[conv] = t + 1
                rows.append((conv, t, r["role"], r["text"], r["tool"],
                             r["ts"], _turn_key(conv, t), "upsert"))
        old = (ds.dataset(self.corpus)
               .to_table(filter=ds.field("conv_id").isin(scatter))
               .to_pylist())
        for r in old:
            # every rewritten conversation must really change, empty ones too
            text = f"[rev {b}] {r['text'] or ''}"
            # Spark writes INT96 timestamps, which pyarrow reads as ns
            ts = r["ts"].to_pydatetime() if r["ts"] is not None else None
            rows.append((r["conv_id"], r["turn_idx"], r["role"], text,
                         r["tool"], ts,
                         _turn_key(r["conv_id"], r["turn_idx"]), "upsert"))
        changed = grow + scatter
        return (self.run.spark.createDataFrame(rows, SRC_SCHEMA), changed,
                sum(self.n_turns[c] for c in changed))

    @property
    def table_turns(self) -> int:
        return sum(self.n_turns.values())

    def job(self, ops: Ops | None) -> None:
        """One CDC cycle: ingest a batch, then refresh. ``ops`` None is a
        warm-up cycle (checked, not counted)."""
        batch, changed, turns = self._batch()
        self.batches += 1
        before = set(_snapshot_files(self.dst))
        tracer = self.run.tracer
        tracer.new_trace()
        with tracer.span("cowtable", batch=self.batches) as ing:
            ingest = merge_into(self.run.spark, self.src, batch)
        with tracer.span("maintain", batch=self.batches) as ref:
            stats = refresh_extracted_table(self.run.spark, self.src,
                                            self.dst)
        after = _snapshot_files(self.dst)
        if stats.get("changed_convs") != len(changed):
            raise RuntimeError(f"refresh saw {stats.get('changed_convs')} "
                               f"changed conversations, want {len(changed)}")
        if ops is None:
            return
        ops.walls.append(ing["wall"] + ref["wall"])
        # a cycle keeps the whole table current: its throughput is the
        # table's turns over the cycle wall (the turns the refresh re-reads
        # follow the heavy-tailed conversation lengths; see changed_turns)
        ops.turns.append(self.table_turns)
        ops.add("changed_turns", turns)
        ops.written.append(sum(os.path.getsize(os.path.join(self.dst, f))
                               for f in set(after) - before))
        ops.add("ingest_s", ing["wall"])
        ops.add("refresh_s", ref["wall"])
        ops.add("ingest", {"files_rewritten": ingest["files_rewritten"],
                           "span": ing.get("id")})
        ops.add("refresh", {"changed_convs": stats["changed_convs"],
                            "files_rewritten":
                                stats["merge"]["files_rewritten"],
                            "files_carried": stats["merge"]["files_carried"],
                            "table_files": len(after),
                            "span": ref.get("id")})

    def check(self) -> list[str]:
        """The extracted table equals the oracle over the final source."""
        m = read_manifest(self.src)
        snap = m["snapshots"][str(m["version"])]
        if snap.get("deletes"):
            return ["source carries delete files; the oracle reads data "
                    "files only"]
        want = oracle_digest([os.path.join(self.src, f)
                              for f in snap["files"]], self.cfg)
        got = spark_digest(read_table(self.run.spark, self.dst))
        return [] if got == want else [
            f"refreshed digest {got} != oracle {want}"]


def _snapshot_files(table_dir: str) -> list[str]:
    m = read_manifest(table_dir)
    return m["snapshots"][str(m["version"])]["files"]


def run_refresh(run, table: CdcTable,
                traced_jobs: int = 0) -> tuple[Ops, Ops]:
    """One untimed warm-up cycle, then exactly ``cdc_jobs`` timed cycles
    (a fixed count: each batch rewrites more of the extracted table than
    the last, so runs must time the same batches), then ``traced_jobs``
    traced cycles; the final tables are checked once, and a failed check
    fails every cycle. Returns the untraced and the traced ops."""
    sizes = run.sizes
    with run.tracer.span("warmup") as warm:
        table.job(None)
    run.phases["warmup"] = warm["wall"]
    run.setup_done()

    def cycles(ops: Ops, more) -> None:
        while more():
            ops.attempted += 1
            try:
                table.job(ops)
            except Exception as exc:  # a failed job is counted, not fatal
                ops.failed += 1
                run.log(f"cdc job {table.batches} failed: "
                        f"{type(exc).__name__}: {exc}")

    ops, traced = Ops(), Ops()
    cpu0 = run.tree.cpu_seconds()
    cycles(ops, lambda: ops.attempted < sizes.cdc_jobs)
    ops.add("cpu_util", (run.tree.cpu_seconds() - cpu0)
            / (max(sum(ops.walls), 1e-9) * run.nproc))
    run.tracer.enabled = True
    try:
        cycles(traced, lambda: traced.attempted < traced_jobs)
    finally:
        run.tracer.enabled = False
    problems = table.check()
    if problems:
        run.log(f"cdc check failed: {problems}")
        ops.failed, traced.failed = ops.attempted, traced.attempted
    return ops, traced
