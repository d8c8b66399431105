"""End-to-end benchmark of the shipping pipeline entry points.

    python3 perfbench/run.py --workload web_pages --seed 1 --seconds 30 --trace 0

Run from the repository root. Each invocation is one fresh process with
one fresh Spark JVM (closed loop: one client, one pipeline call at a time).
The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones of a traced run. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import sys
import threading

WORKLOADS = ("web_pages", "rdf_canon")
# The JVM heap is fixed and touched up front (-Xms = -Xmx, pre-touch):
# a heap that grows whenever GC decides makes the JVM's RSS differ by
# hundreds of MB between identical runs.
HEAP = "2g"
# The JVM's JIT and GC pools are sized for two task slots (see Run). With
# the defaults (a GC thread per CPU, three compiler threads on 4 CPUs) and
# local[4], a cold call kept about three of 4 CPUs busy, so its time
# tracked how much CPU the host's other tenants left over.
JAVA_OPTS = (f"-Xms{HEAP} -XX:+AlwaysPreTouch"
             " -XX:CICompilerCount=2 -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1")
# the watchdog cancels a call still running this long after process start,
# so a run always ends with a result within three minutes
DEADLINE_S = 160.0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measure pipeline calls back to back for this long (at least one)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="full", choices=("full", "tiny"),
                   help="tiny runs the same code on inputs for the self-test")
    return p.parse_args(argv)


def du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total / 1e6


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in sorted(os.listdir(path)) if f.endswith(".parquet")
    )


def tsv_rows(path: str) -> int:
    """Data lines of an exported text dir (the '#' config header excluded)."""
    n = 0
    for f in sorted(os.listdir(path)):
        if f.startswith("part-"):
            with open(os.path.join(path, f), encoding="utf-8") as fh:
                n += sum(1 for line in fh if not line.startswith("#"))
    return n


def git_commit(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if ref.startswith("ref: "):
        ref_file = os.path.join(root, ".git", ref[5:])
        if not os.path.exists(ref_file):
            return None
        with open(ref_file) as f:
            return f.read().strip()
    return ref


def source_digest(root: str) -> str:
    """Digest of the package sources and the workload definitions: the
    outputs a seed must repeat are those of one such pair."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "perfbench", "workloads.py")]
    for d, dirs, files in os.walk(os.path.join(root, "graph_embeddings_spark")):
        dirs.sort()
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for path in sorted(paths):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def cpu_steal_s() -> float:
    """Time the hypervisor ran something else on this machine's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_loop_ms() -> float:
    """Median time of a fixed single-threaded Python loop: the host's CPU
    speed at the moment, which can drift without showing as steal."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        total = 0
        for k in range(1_000_000):
            total += k
        times.append((time.perf_counter() - t) * 1000)
    return statistics.median(times)


def tmpfs_free_mb() -> float | None:
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return None
    return st.f_bavail * st.f_frsize / 1e6


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM (its
    Python workers end with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


class Run:
    """One benchmark process: inputs, setup, timed calls, checks."""

    def __init__(self, args, root: str):
        from perfbench import workloads

        self.args = args
        self.size = workloads.SIZES[args.size]
        self.work = os.path.join(root, ".perfbench")
        self.run_dir = os.path.join(self.work, "run")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        for sub in ("tmp", "spark-local", "work"):
            os.makedirs(os.path.join(self.run_dir, sub))
        self.work_dir = os.path.join(self.run_dir, "work", "wd")
        nproc = len(os.sched_getaffinity(0))
        # Half the CPUs run tasks: each task slot keeps a JVM thread and a
        # Python worker busy, so two slots fill a 4-CPU host. A cold call
        # took no longer at local[2] than at local[4] (the inputs are small
        # and most of a call is per-job cost), while local[4] ran more busy
        # threads than there are CPUs.
        self.cores = max(1, nproc // 2)
        self.env = {
            "nproc": nproc,
            "loadavg_before": os.getloadavg(),
            "steal_s_before": cpu_steal_s(),
            "tmpfs_free_mb": tmpfs_free_mb(),
            "python": platform.python_version(),
            "git_commit": git_commit(root),
            "source_digest": source_digest(root),
            "seed": args.seed,
            "workload": args.workload,
            "size": args.size,
            "trace": args.trace,
            "heap": HEAP,
            "java_opts": JAVA_OPTS,
            "spark_local_dir": os.path.join(self.run_dir, "spark-local"),
        }
        # Deployment settings of the program under test: every scratch
        # byte stays in this run's own directory, wiped per run.
        os.environ["TMPDIR"] = os.path.join(self.run_dir, "tmp")
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = self.env["spark_local_dir"]
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )

        t = time.perf_counter()
        self.input_path, self.input_rows = workloads.ensure_inputs(
            os.path.join(self.work, "inputs"), args.workload, args.seed, args.size
        )
        self.input_bytes = os.path.getsize(self.input_path)
        self.render_s = time.perf_counter() - t

    # -- setup -------------------------------------------------------------
    def setup(self, tracer) -> None:
        from graph_embeddings_spark import corpus, session
        from perfbench import workloads

        if tracer is not None:
            tracer.install()
        self.spark = session.get_spark(
            "perfbench", cores=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": JAVA_OPTS,
            },
        )
        self.env["spark"] = self.spark.version
        self.env["cores"] = self.spark.sparkContext.defaultParallelism
        if tracer is not None:
            tracer.sc = self.spark.sparkContext
        if self.args.workload == "web_pages":
            self.world = workloads.web_world(self.args.seed)
            self.pages = self.spark.read.parquet(self.input_path)
            self.alias_df = corpus.alias_dict_df(self.spark, self.world)
            self.aliases = sorted(self.world.alias_map)
        else:
            from graph_embeddings_spark.sources.reader import read_rdf

            self.triples = read_rdf(self.spark, self.input_path)

    # -- the timed call ----------------------------------------------------
    def call(self):
        """The user-visible path. web_pages: `cli --input` (cold, no
        resume). rdf_canon: `cli --rdf-input --no-train --no-resume`, then
        the resumed `cli --rdf-input` that trains, reduces and exports."""
        from graph_embeddings_spark import pipeline
        from perfbench import workloads

        if self.args.workload == "web_pages":
            return pipeline.run_pipeline(
                self.spark, self.pages, self.alias_df, self.aliases,
                workloads.web_config(self.size), work_dir=self.work_dir, resume=False,
            )
        pipeline.run_graph_pipeline(
            self.spark, self.triples, workloads.rdf_config(self.size, train=False),
            work_dir=self.work_dir, resume=False, train=False,
        )
        return pipeline.run_graph_pipeline(
            self.spark, self.triples, workloads.rdf_config(self.size, train=True),
            work_dir=self.work_dir, resume=True, train=True,
        )

    # -- checks --------------------------------------------------------------
    def outputs(self, res) -> dict:
        """Quality figures and the counts the checks compare. Each quality
        metric is measured on the workload it belongs to and reads a
        neutral 1.0 on the other: triples P/R on `web_pages` (the extract
        tier), canonicalization recall on `rdf_canon`."""
        wd = self.work_dir
        export = os.path.join(wd, "export")
        out = {
            "triples_precision": 1.0,
            "triples_recall": 1.0,
            "canon_pairs": 0,
            "canon_exact_pairs": 0,
            "canon_recall": 1.0,
            "canon_rejected": 0,
            "vocab": res.cooc.vocab_size,
            "cooc_entries": res.cooc.co_count,
            "glove_final_cost": res.cost_history[-1] if res.cost_history else float("nan"),
            "epochs": len(res.cost_history),
            "embeddings": parquet_rows(os.path.join(wd, "embeddings", "data")),
            "vectors_lines": tsv_rows(os.path.join(export, "embedding.vectors.tsv")),
            "dict_lines": tsv_rows(os.path.join(export, "embedding.dict.tsv")),
            "work_dir_mb": du_mb(wd),
        }
        if self.args.workload == "web_pages":
            from graph_embeddings_spark.extract.triples import precision_recall
            from perfbench import workloads

            facts = sorted(workloads.expected_facts(self.world, self.size.web_pages))
            expected = self.spark.createDataFrame(facts, "subj string, pred string, obj string")
            out["triples_precision"], out["triples_recall"] = precision_recall(res.triples, expected)
        else:
            accepted, exact = self.similarity_pairs()
            out.update(
                canon_pairs=len(accepted),
                canon_exact_pairs=len(exact),
                canon_recall=len(accepted & exact) / len(exact) if exact else 0.0,
                canon_rejected=len(accepted - exact),
            )
        return out

    def similarity_pairs(self) -> tuple[set, set]:
        """(pred, label, label) pairs: those the run accepted (its
        sim_edges over its nodes checkpoint) and those the exact all-pairs
        compare accepts over the same literal nodes."""
        import pyarrow.parquet as pq

        from graph_embeddings_spark.config import LITERAL
        from perfbench import workloads

        nodes = pq.read_table(os.path.join(self.work_dir, "nodes", "data")).to_pandas()
        label = dict(zip(nodes["node_id"], nodes["label"]))
        pred = dict(zip(nodes["node_id"], nodes["pred_ctx"]))
        sim = pq.read_table(os.path.join(self.work_dir, "sim_edges", "data")).to_pandas()
        accepted = {
            (pred[a], *sorted((label[a], label[b])))
            for a, b in zip(sim["src"], sim["dst"]) if a < b
        }
        cfg = workloads.rdf_config(self.size, train=True)
        lits = nodes[nodes["node_type"] == LITERAL]
        exact = {
            (g.source_predicate, a, b)
            for g in cfg.similarity
            for a, b in workloads.exact_pairs(
                list(lits.loc[lits["pred_ctx"] == g.source_predicate, "label"]), g)
        }
        return accepted, exact

    def check(self, out: dict) -> list[str]:
        """Failed checks, empty when the outputs are right."""
        from perfbench import workloads

        bad = []
        if out["triples_precision"] < 0.95 or out["triples_recall"] < 0.95:
            bad.append(f"triples P/R {out['triples_precision']:.4f}/{out['triples_recall']:.4f} < 0.95")
        if not out["embeddings"] or not (out["vectors_lines"] == out["dict_lines"] == out["embeddings"]):
            bad.append(
                f"export lines vectors={out['vectors_lines']} dict={out['dict_lines']}"
                f" != embeddings={out['embeddings']}"
            )
        if not (math.isfinite(out["glove_final_cost"]) and out["glove_final_cost"] > 0):
            bad.append(f"glove_final_cost {out['glove_final_cost']}")
        if self.args.workload == "rdf_canon" and out["canon_pairs"] <= 0:
            bad.append("no accepted similarity pairs")
        if out["canon_rejected"]:
            bad.append(f"{out['canon_rejected']} accepted similarity pairs score below "
                       "the threshold under the exact scalar metric")
        # a seed's counts must repeat exactly across runs. The GloVe cost is
        # a float64 sum over tasks in completion order, so it repeats only
        # to rounding: it may differ in the last bits, by far less than 1e-12.
        ref_path = os.path.join(self.work, "reference", "{}-{}-c{}.json".format(
            workloads.input_key(self.args.workload, self.args.seed, self.args.size),
            self.env["source_digest"], self.cores,
        ))
        keys = ("vocab", "cooc_entries", "canon_pairs", "glove_final_cost")
        mine = {k: out[k] for k in keys}
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                ref = json.load(f)
            bad += [
                f"{k} {mine[k]!r} != earlier run's {ref[k]!r}" for k in keys
                if not (math.isclose(mine[k], ref[k], rel_tol=1e-12) if k == "glove_final_cost"
                        else mine[k] == ref[k])
            ]
        elif not bad:
            os.makedirs(os.path.dirname(ref_path), exist_ok=True)
            with open(ref_path, "w") as f:
                json.dump(mine, f)
        return bad


def untraced_wall_median(work: str, key: dict) -> float | None:
    """Median untraced `wall_s` of earlier runs of the same workload, size,
    seed, core count and sources in this checkout."""
    path = os.path.join(work, "history.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        walls = [r["wall_s"] for r in map(json.loads, f)
                 if all(r.get(k) == v for k, v in key.items())]
    return statistics.median(walls) if walls else None


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "graph_embeddings_spark")):
        print("perfbench: run from the repository root (graph_embeddings_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench")

    run = Run(args, root)
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    run.setup(tracer)
    setup_s = time.perf_counter() - T_START - run.render_s

    from perfbench import procstat
    from perfbench.trace import last_execution_id

    spark = run.spark
    sc = spark.sparkContext
    watchdog = threading.Timer(max(1.0, DEADLINE_S - (time.perf_counter() - T_START)), sc.cancelAllJobs)
    watchdog.daemon = True
    watchdog.start()
    # SQL executions of the timed call, for counting input scans
    exec_range = [last_execution_id(spark) + 1, -1] if tracer else None
    iters, failures, raised = [], [], 0
    t_loop = time.perf_counter()
    root_span = None
    while True:
        shutil.rmtree(run.work_dir, ignore_errors=True)
        cpu0 = procstat.cpu_seconds(os.getpid())
        if tracer:
            root_span = tracer.open("pipeline")
        t0 = time.perf_counter()
        try:
            res = run.call()
            wall = time.perf_counter() - t0
            cpu = procstat.cpu_seconds(os.getpid()) - cpu0
            if tracer:
                tracer.close(root_span)
                exec_range[1] = last_execution_id(spark)
            out = run.outputs(res)
            bad = run.check(out)
        except Exception as exc:  # a failed call is counted, not fatal
            failures.append(f"call or check raised {type(exc).__name__}: {exc}"[:500])
            raised = 1
            if tracer and root_span.end == 0.0:
                tracer.close(root_span)
            break
        failures += bad
        iters.append(dict(out, wall_s=wall, cpu_s=cpu, ok=not bad))
        if tracer or time.perf_counter() - t_loop >= args.seconds:
            break
        if time.perf_counter() - T_START > DEADLINE_S / 2:
            break
    watchdog.cancel()
    rss = procstat.peak_rss_mb(os.getpid())
    footprint = procstat.footprint_mb(os.getpid(), rss)
    rss_by = {f"{pid}:{procstat.comm(pid)}": round(mb, 1) for pid, mb in rss.items()}

    attempted = len(iters) + raised
    failed = attempted - sum(1 for i in iters if i["ok"])

    metrics, e2e, base = {}, {}, None
    history_key = {"workload": args.workload, "size": args.size, "seed": args.seed,
                   "cores": run.cores,
                   "source_digest": run.env["source_digest"]}
    if iters:
        med = lambda k: statistics.median(i[k] for i in iters)  # noqa: E731
        last = iters[-1]
        e2e = {
            "wall_s": (med("wall_s"), "s"),
            "rows_per_s": (run.input_rows / med("wall_s"), "rows/s"),
            "setup_s": (setup_s, "s"),
            "cpu_s": (med("cpu_s"), "s"),
            "peak_rss_mb": (footprint, "MB"),
            "work_dir_mb": (med("work_dir_mb"), "MB"),
            "triples_precision": (last["triples_precision"], "ratio"),
            "triples_recall": (last["triples_recall"], "ratio"),
            "canon_recall": (last["canon_recall"], "ratio"),
        }
        if tracer:
            from perfbench.layers import layer_metrics

            base = untraced_wall_median(work, history_key)
            layers = layer_metrics(run, tracer, last, exec_range, base)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
            os.makedirs(work, exist_ok=True)
            with open(os.path.join(work, "history.jsonl"), "a") as f:
                f.write(json.dumps(dict(history_key, wall_s=e2e["wall_s"][0])) + "\n")

    run.env["loadavg_after"] = os.getloadavg()
    run.env["steal_s_after"] = cpu_steal_s()
    record = {
        "env": run.env, "setup_s": setup_s, "render_s": run.render_s,
        "input_rows": run.input_rows, "input_bytes": run.input_bytes,
        "iterations": iters, "failures": failures, "rss_mb_by_process": rss_by,
        "end_to_end": e2e, "untraced_wall_median": base, "metrics": metrics, "spans": tracer.records() if tracer else [],
    }
    started = [pid for pid in procstat.tree(os.getpid()) if pid != os.getpid()]
    stop_spark(spark)
    procstat.wait_gone(started, timeout=60)
    run.env["host_loop_ms_after"] = host_loop_ms()
    rec_dir = os.path.join(work, "records")
    os.makedirs(rec_dir, exist_ok=True)
    name = f"{int(time.time())}-{args.workload}-{args.size}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
    with open(os.path.join(rec_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for msg in failures:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps({"correct": not failures and bool(iters), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
