"""Per-layer metrics of a traced run, named after the package's modules.

Times come from the spans in perfbench/trace.py; task counts, shuffle bytes
and Python-boundary time from Spark's status store, per span job group;
sizes and row counts from the checkpoints the run left in its work dir.
Every metric is emitted on every workload; a layer the workload does not
exercise reads 0.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench.trace import StageTotals, input_scans, stage_totals_by_group

STAGES = ("extract", "triples", "nodes", "edges", "sim_edges", "cooc", "params", "embeddings", "export")


def _epoch_seconds(params_dir: str, train_start_wall: float) -> list[float]:
    """Per-epoch durations from the params_epoch=NNNN/_SUCCESS mtimes; the
    first epoch counts from the start of the optimize span."""
    if not os.path.isdir(params_dir):
        return []
    marks = sorted(
        os.path.getmtime(os.path.join(params_dir, d, "_SUCCESS"))
        for d in os.listdir(params_dir)
        if os.path.exists(os.path.join(params_dir, d, "_SUCCESS"))
    )
    edges = [train_start_wall] + marks
    return [b - a for a, b in zip(edges, edges[1:])]


def layer_metrics(run, tracer, out: dict, exec_range: list[int], untraced_wall: float | None) -> dict:
    from perfbench.run import du_mb, parquet_rows

    spark = run.spark
    totals = stage_totals_by_group(spark.sparkContext)

    def group_totals(*names: str) -> StageTotals:
        acc = StageTotals()
        for s in tracer.spans:
            if s.name in names and s.group in totals:
                t = totals[s.group]
                acc.jobs += t.jobs
                acc.tasks += t.tasks
                acc.run_ms += t.run_ms
                acc.cpu_ns += t.cpu_ns
                acc.shuffle_write += t.shuffle_write
                acc.skew = max(acc.skew, t.skew)
        return acc

    ck = lambda stage: tracer.total(f"checkpoint_stage:{stage}")  # noqa: E731
    wd = run.work_dir

    def rows(stage: str) -> int:
        d = os.path.join(wd, stage, "data")
        return parquet_rows(d) if os.path.isdir(d) else 0

    extract = group_totals("checkpoint_stage:extract", "checkpoint_stage:triples")
    canon = group_totals("checkpoint_stage:sim_edges")
    glove = group_totals("optimize")

    (root,) = tracer.named("pipeline")
    wall = root.end - root.start
    top = [s for s in tracer.spans if s.parent == root.id]
    opt_spans = tracer.named("optimize")
    # span clocks are perf_counter; _SUCCESS mtimes are wall clock
    offset = time.time() - time.perf_counter()
    epochs = _epoch_seconds(
        os.path.join(wd, "params"), opt_spans[-1].start + offset
    ) if opt_spans else []

    if run.args.workload == "web_pages":
        marker, source_rows = "html:binary", run.input_rows  # only the page table has html
    else:
        marker, source_rows = "Scan text", run.triples.count()
    m = {
        "session.start_s": (tracer.total("session.get_spark"), "s"),
        "extract.text_s": (ck("extract"), "s"),
        "extract.triples_s": (ck("triples"), "s"),
        "extract.py_boundary_s": (extract.py_boundary_s, "s"),
        "extract.shuffle_mb": (extract.shuffle_mb, "MB"),
        "extract.rows_out": (rows("triples"), "rows"),
        "sources.input_passes": (input_scans(spark, *exec_range, marker), "passes"),
        "sources.rows_out": (source_rows, "rows"),
        "graph.nodes_s": (ck("nodes"), "s"),
        "graph.edges_s": (ck("edges"), "s"),
        "graph.vocab": (out["vocab"], "nodes"),
        "graph.edges": (rows("edges"), "edges"),
        "canon.sim_edges_s": (ck("sim_edges"), "s"),
        "canon.shuffle_mb": (canon.shuffle_mb, "MB"),
        "canon.py_boundary_s": (canon.py_boundary_s, "s"),
        "canon.task_skew": (canon.skew, "ratio"),
        "canon.pairs": (out["canon_pairs"], "pairs"),
        "canon.exact_pairs": (out["canon_exact_pairs"], "pairs"),
        "bca.cooc_s": (tracer.total("bca_cooccurrence"), "s"),
        "bca.checkpoint_s": (ck("cooc"), "s"),
        "bca.broadcast": (1 if tracer.named("bca.broadcast") else 0, "flag"),
        "bca.entries": (out["cooc_entries"], "entries"),
        "glove.train_s": (tracer.total("optimize"), "s"),
        "glove.epoch_s": (statistics.median(epochs) if epochs else 0.0, "s"),
        "glove.epochs": (out["epochs"], "epochs"),
        "glove.final_cost": (out["glove_final_cost"], "cost"),
        "glove.jobs": (glove.jobs, "jobs"),
        "glove.tasks": (glove.tasks, "tasks"),
        "glove.shuffle_mb": (glove.shuffle_mb, "MB"),
        "glove.pca_s": (tracer.total("pca_reduce"), "s"),
        "output.export_s": (tracer.total("write_tsv"), "s"),
        "output.export_mb": (du_mb(os.path.join(wd, "export")), "MB"),
        "pipeline.wall_s": (wall, "s"),
        "pipeline.unattributed_s": (wall - sum(s.end - s.start for s in top), "s"),
        # against the untraced runs of this checkout; before there are any,
        # the tracer's own time inside the call (a lower bound)
        "trace.overhead_s": (
            wall - untraced_wall if untraced_wall is not None else tracer.bookkeeping_s, "s"
        ),
    }
    for stage in STAGES:
        m[f"pipeline.{stage}.data_mb"] = (du_mb(os.path.join(wd, stage)), "MB")
    return m
