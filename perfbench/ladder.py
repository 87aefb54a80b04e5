"""The layer ladder of a traced run: each layer's public function called on
its own, over the workload's input, and the per-layer metrics reduced from
the spans and SQL metrics those calls left.

Layers measured through Spark end in the noop sink, so each one is timed
to full materialization without a write.
"""

from __future__ import annotations

import random
import time

import pyarrow.dataset as ds

from perfbench.trace import median, metric_sum, self_time

MB = 1e6
# Spark's SQL metric names
TO_PY = "data sent to Python workers"
FROM_PY = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
SHUFFLE, SPILL = "shuffle bytes written", "spill size"
READ, WRITTEN = "size of files read", "written output"
FILES_WRITTEN = "number of written files"

IDENTITY_DDL = "conv_id string, turn_idx int, text string, tool string"


def identity(batches):
    """The bare Arrow round trip: every batch back unchanged."""
    yield from batches


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    """Median wall of three calls."""
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return median(walls)


def core_layer(corpus: str, cfg, seed: int, n_convs: int) -> dict:
    """The pure-Python core in this process, no Spark, on a seed-chosen
    sample of the input's conversations: the single-threaded baseline."""
    from pdf_parser_spark.core.blocks import tokenize_turn
    from pdf_parser_spark.core.heuristics import mine_repeated_lines
    from pdf_parser_spark.core.merge import merge_blocks_to_chunks
    from pdf_parser_spark.core.oracle import extract_conversation

    dataset = ds.dataset(corpus)
    ids = sorted(set(dataset.to_table(columns=["conv_id"])
                     .column(0).to_pylist()))
    pick = random.Random(f"{seed}:core").sample(ids, min(n_convs, len(ids)))
    rows = dataset.to_table(columns=["conv_id", "turn_idx", "text", "tool"],
                            filter=ds.field("conv_id").isin(pick)).to_pylist()
    convs: dict[str, list[dict]] = {}
    for r in rows:
        convs.setdefault(r["conv_id"], []).append(r)
    sample = [sorted(t, key=lambda r: r["turn_idx"]) for t in convs.values()]
    texts = [[r["text"] or "" for r in turns] for turns in sample]
    repeated = ([mine_repeated_lines(t, cfg) for t in texts]
                if cfg.clean_boilerplate else [None] * len(sample))

    def tokenize():
        return [[b for r in turns
                 for b in tokenize_turn(r["turn_idx"], r["text"], r["tool"],
                                        cfg, rep)]
                for turns, rep in zip(sample, repeated)]

    blocks = tokenize()
    extract_s = _timed(lambda: [extract_conversation(t, cfg)
                                for t in sample])
    return {"core.turns_per_s": len(rows) / extract_s,
            "core.tokenize_s": _timed(tokenize),
            "core.merge_s": _timed(lambda: [merge_blocks_to_chunks(b, cfg)
                                            for b in blocks]),
            "core.mine_s": _timed(lambda: [mine_repeated_lines(t, cfg)
                                           for t in texts]),
            "core.sample_turns": len(rows)}


def _straggler_ratio(spark, execs: list[dict]) -> float:
    """max / median task time of the busiest stage the executions ran."""
    store = spark.sparkContext._jsc.sc().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    best: list[float] = []
    for e in execs:
        for sid in e["stages"]:
            try:
                tasks = conv.asJava(store.taskList(sid, 0, 1 << 20))
            except Exception:  # stage skipped (its output was reused)
                continue
            times = [t.duration().get() for t in tasks
                     if t.duration().isDefined()]
            if sum(times) > sum(best):
                best = times
    return max(best) / max(median(best), 1) if best else 1.0


def spark_layers(run, corpus: str, cfg, cleaning_cfg) -> dict:
    """scan, arrow, merge.map, boilerplate, merge.stitch, pipeline.metrics:
    one traced call each. The boilerplate layer runs under
    ``cleaning_cfg`` because it only does work when cleaning is on."""
    from pdf_parser_spark.operators.boilerplate import with_repeated_lines
    from pdf_parser_spark.operators.merge import (chunks_from_local,
                                                  tokenized_local)
    from pdf_parser_spark.pipeline import full_metrics, read_transcripts

    spark, tracer = run.spark, run.tracer
    src = read_transcripts(spark, corpus)
    out = {}

    def layer(name: str, df) -> tuple[dict, list[dict]]:
        with tracer.span(name) as sp:
            _noop(df)
        return sp, tracer.sql_under(sp["id"])

    sp, ex = layer("scan", src)
    out |= {"scan.wall_s": sp["wall"],
            "scan.input_mb": metric_sum(ex, READ) / MB,
            "scan.tasks": sum(e["tasks"] for e in ex)}

    sp, ex = layer("arrow", src.select("conv_id", "turn_idx", "text", "tool")
                   .mapInPandas(identity, IDENTITY_DDL))
    out |= {"arrow.roundtrip_s": sp["wall"],
            "arrow.python_init_s": metric_sum(ex, PY_INIT)}

    sp, ex = layer("merge.map", tokenized_local(src, cfg))
    out |= {"map.wall_s": sp["wall"],
            "map.python_run_s": metric_sum(ex, PY_RUN),
            "map.python_init_s": metric_sum(ex, PY_INIT),
            "map.to_python_mb": metric_sum(ex, TO_PY) / MB,
            "map.from_python_mb": metric_sum(ex, FROM_PY) / MB,
            "map.tasks": sum(e["tasks"] for e in ex),
            "map.straggler_ratio": _straggler_ratio(spark, ex)}

    sp, ex = layer("boilerplate", with_repeated_lines(src, cleaning_cfg))
    out |= {"boilerplate.wall_s": sp["wall"],
            "boilerplate.shuffle_mb": metric_sum(ex, SHUFFLE) / MB}

    local = tokenized_local(src, cfg).persist()
    try:
        local.count()
        sp, ex = layer("merge.stitch", chunks_from_local(local))
        out |= {"stitch.wall_s": sp["wall"],
                "stitch.shuffle_mb": metric_sum(ex, SHUFFLE) / MB,
                "stitch.spill_mb": metric_sum(ex, SPILL) / MB}
        sp, ex = layer("pipeline.metrics",
                       full_metrics(src, chunks_from_local(local), cfg,
                                    local=local))
        out["metrics.wall_s"] = sp["wall"]
    finally:
        local.unpersist()
    return out


def _execs_writing(execs: list[dict], suffix: str) -> list[dict]:
    return [e for e in execs
            if (e["plan_writes"] or "").rstrip("/").endswith(suffix)]


def lineage_metrics(tracer, sp: dict) -> dict:
    """Per-layer metrics of one traced ``run_extraction``."""
    ex = tracer.sql_under(sp["id"])

    def dur(es):
        return sum(e["end"] - e["start"] for e in es)

    commits = (_execs_writing(ex, "/lineage") + _execs_writing(ex, "/manifest")
               + [e for e in ex if e["description"].startswith("collect")])
    return {"lineage.groups": sp["groups"],
            "lineage.sql_executions": len(ex),
            "lineage.input_read_mb": metric_sum(ex, READ) / MB,
            "lineage.written_mb": metric_sum(ex, WRITTEN) / MB,
            "lineage.files_written": metric_sum(ex, FILES_WRITTEN),
            "lineage.extract_write_s": dur(_execs_writing(ex, "/extracted")),
            "lineage.metrics_write_s": dur(_execs_writing(ex, "/metrics")),
            "lineage.commit_s": dur(commits),
            "lineage.driver_gap_s": self_time(sp, ex)}


def cdc_metrics(tracer, ops) -> dict:
    """Per-layer metrics of traced CDC cycles (medians over the cycles)."""
    rows = []
    for ing, ref, written in zip(ops.extra["ingest"], ops.extra["refresh"],
                                 ops.written):
        si, sr = tracer.spans[ing["span"]], tracer.spans[ref["span"]]
        ei, er = tracer.sql_under(si["id"]), tracer.sql_under(sr["id"])
        rows.append({
            "ingest.wall_s": si["wall"],
            "ingest.sql_executions": len(ei),
            "ingest.files_rewritten": ing["files_rewritten"],
            "ingest.written_mb": metric_sum(ei, WRITTEN) / MB,
            "ingest.driver_gap_s": self_time(si, ei),
            "refresh.wall_s": sr["wall"],
            "refresh.written_mb": written / MB,
            "refresh.changed_convs": ref["changed_convs"],
            "refresh.files_rewritten": ref["files_rewritten"],
            "refresh.files_carried": ref["files_carried"],
            "refresh.table_files": ref["table_files"],
            "refresh.sql_executions": len(er),
            "refresh.python_run_s": metric_sum(er, PY_RUN),
            "refresh.driver_gap_s": self_time(sr, er)})
    return {k: median(r[k] for r in rows) for k in rows[0]}
