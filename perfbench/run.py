"""Extraction benchmark: the shipped extraction path, end to end and by layer.

Usage (from the repository root)::

    python3 perfbench/run.py --workload markup --seed 1 --seconds 10 --trace 0

One Python process runs a closed loop at ``local[nproc]``: one extraction
at a time, no client threads. Workloads (see ``corpus.py`` for how each
corpus is cut from ``datagen``):

- ``scan``:   media-only documents plus ~1% junk blobs; ``pipeline.extract``
  and all five sinks (spans, rows, ``to_csv_strings`` CSV, quarantine,
  review).
- ``markup``: markup-only documents; the same one-shot path.
- ``resume``: the full interleaved mix through
  ``plans.checkpoint.run_extract_checkpointed``, crashed after half the
  bucket groups and resumed with the same ``run_id``.

``--trace 0`` measures for ``--seconds`` (whole iterations, at least one),
gates every iteration's outputs against the goldens and reports the
end-to-end metrics. ``--trace 1`` runs one traced iteration, the
count-only extraction (``extract()["spans"].count()``), the
other path (checkpointed legs on ``scan``/``markup``, one-shot sinks on
``resume``) and the kernel microbenches, and reports the per-layer metrics.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the full run record (configuration, corpus summary,
iterations, contention probe, spans). The exit code is 1 when any output
fails the gate and 2 when the engine is not importable from the checkout.
These ``local[nproc]`` figures do not compare with the ``local[32]``
``BENCH_r0*.json`` history or with ``bench.py``'s ``headline_suite_seconds``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import gate
import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# ordinary documents per slice (plus its mega documents), or the
# documents of the mixed corpus for ``resume``
SIZES = {"scan": 13, "markup": 120, "resume": 32}
N_BUCKETS, GROUP_SIZE = 8, 4
# shuffle partitions per core: ``session.get_spark`` defaults to 32, sized
# for local[32], and expects a deployment to size them for its cores
SHUFFLE_PER_CORE = 2
# a fixed JVM heap (initial = max): G1 growing the default 8g heap at its
# own pace made GC time, CPU and RSS bimodal from run to run
JVM_HEAP = "2g"
# engine settings a caller's environment could change; the benchmark runs
# the engine's defaults apart from the master, shuffle width and heap
_ENGINE_ENV = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE",
               "SPARK_GRAFT_PY_STAGE_FACTOR")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _engine_importable() -> bool:
    sys.path.insert(0, ROOT)
    init = os.path.join(ROOT, "ocr_to_csv_spark", "__init__.py")
    if not os.path.isfile(init):
        return False
    import ocr_to_csv_spark

    return os.path.abspath(ocr_to_csv_spark.__file__) == init


def _prepare_env(run_dir: str) -> dict:
    """Keep every file the run writes (engine staging, Spark scratch, the
    JVMs' temp files) inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM the run starts (Spark's launcher and the Spark JVM): temp files
    # here, and no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for var in _ENGINE_ENV:
        os.environ.pop(var, None)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": JVM_HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


def _start_spark(cores: int, conf: dict):
    from ocr_to_csv_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=SHUFFLE_PER_CORE * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every process
    this run started (JVM, Python worker daemon and workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    with contextlib.suppress(Exception):
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()  # later Java-object finalizers then send nothing
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        left = procstat.running()
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def _span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def one_shot(spark, corpus_dir: str, out_dir: str, tracer=None) -> dict:
    """``pipeline.extract`` followed by all five sinks."""
    from ocr_to_csv_spark.extraction import pipeline

    with _span(tracer, "sources.load_corpus"):
        tabs = pipeline.load_corpus(spark, corpus_dir)
    with _span(tracer, "pipeline.extract"):
        res = pipeline.extract(spark, tabs["documents"], tabs["media"],
                               tabs["aliases"])
    sinks = {
        "spans": res["spans"],
        "rows": res["rows"],
        "csv": pipeline.to_csv_strings(res["rows"]),
        "quarantine": res["quarantine"],
        "review": res["review"],
    }
    for name, df in sinks.items():
        with _span(tracer, f"pipeline.sink.{name}"):
            df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
    return {"recompute_frac": 0.0}  # one extract() over every document


def count_only(spark, corpus_dir: str) -> int:
    """``extract()["spans"].count()``: what ``bench.py`` times, and the
    base of the amplification ratios."""
    from ocr_to_csv_spark.extraction import pipeline

    tabs = pipeline.load_corpus(spark, corpus_dir)
    return pipeline.extract(spark, tabs["documents"], tabs["media"],
                            tabs["aliases"])["spans"].count()


def checkpointed(spark, corpus_dir: str, out_dir: str, run_id: str,
                 tracer=None) -> dict:
    """A checkpointed run crashed after half its bucket groups, then
    resumed with the same ``run_id``."""
    from ocr_to_csv_spark.plans.checkpoint import run_extract_checkpointed

    n_groups = -(-N_BUCKETS // GROUP_SIZE)
    kw = {"n_buckets": N_BUCKETS, "group_size": GROUP_SIZE}
    with _span(tracer, "checkpoint.crash_leg"):
        crash = run_extract_checkpointed(spark, corpus_dir, out_dir, run_id,
                                         max_groups=n_groups // 2, **kw)
    with _span(tracer, "checkpoint.resume_leg"):
        resume = run_extract_checkpointed(spark, corpus_dir, out_dir, run_id, **kw)
    return {
        "crash": crash,
        "resume": resume,
        "recompute_frac":
            (crash["processed"] + resume["processed"] - N_BUCKETS) / N_BUCKETS,
    }


def _gate(spark, goldens, out_dir: str, legs: dict, run_id: str | None):
    if run_id is None:
        return gate.check_one_shot(goldens, out_dir)
    from ocr_to_csv_spark.plans.checkpoint import run_metrics

    metrics = [r.asDict() for r in run_metrics(
        spark, os.path.join(out_dir, "run_state"), run_id).collect()]
    return gate.check_checkpointed(goldens, out_dir, legs["crash"],
                                   legs["resume"], metrics)


class Runner:
    """Runs whole iterations of one path on one corpus and gates each."""

    def __init__(self, spark, run_dir: str):
        self.spark = spark
        self.run_dir = run_dir
        self.n = 0
        self.gates = []

    def iteration(self, path: str, corpus_dir: str, goldens, tracer=None) -> dict:
        self.n += 1
        out = os.path.join(self.run_dir, "out", f"it{self.n}")
        run_id = f"perfbench-{self.n}" if path == "checkpointed" else None
        cpu0 = procstat.cpu_s()
        t0 = time.perf_counter()
        if run_id is None:
            legs = one_shot(self.spark, corpus_dir, out, tracer)
        else:
            legs = checkpointed(self.spark, corpus_dir, out, run_id, tracer)
        wall = time.perf_counter() - t0
        cpu = procstat.cpu_s() - cpu0
        peak = procstat.peak_rss_mb()
        with _span(tracer, "bench.read_back"):
            g = _gate(self.spark, goldens, out, legs, run_id)
        shutil.rmtree(out, ignore_errors=True)
        self.gates.append(g)
        if g.failed:
            _log(f"gate: {g.failed}/{g.attempted} documents failed: {g.problems[:5]}")
        n_docs = g.attempted
        return {
            "path": path, "wall_s": wall, "core_s": cpu, "peak_rss_mb": peak,
            "docs": n_docs, "docs_per_s": n_docs / wall,
            "core_s_per_kdoc": 1e3 * cpu / n_docs,
            "recompute_frac": legs["recompute_frac"],
            "failed": g.failed, "counts": g.counts,
            **({"crash": legs["crash"], "resume": legs["resume"]} if run_id else {}),
        }


def _end_to_end(its: list[dict], setup_s: float) -> dict:
    med = lambda k: statistics.median(it[k] for it in its)  # noqa: E731
    attempted = sum(it["docs"] for it in its)
    failed = sum(it["failed"] for it in its)
    return {
        "docs_per_s": (med("docs_per_s"), "1/s"),
        "core_s_per_kdoc": (med("core_s_per_kdoc"), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (med("peak_rss_mb"), "MB"),
        "doc_ok_frac": (1.0 - failed / attempted, "frac"),
    }


def _per_layer(tracer, ckpt_it: dict, kern: dict, cells: int, counts: dict,
               summary: dict) -> dict:
    m: dict[str, tuple[float, str]] = {
        k: (v, "frac" if k.endswith("_frac") else "ms") for k, v in kern.items()
    }
    layers = ["pipeline.extract", "pipeline.count_only", "checkpoint.crash_leg",
              "checkpoint.resume_leg"]
    layers += [f"pipeline.sink.{s}" for s in
               ("spans", "rows", "csv", "quarantine", "review")]
    units = {"wall_s": "s", "core_s": "s", "jobs": "count", "tasks": "count"}
    for layer in layers:
        tot = tracer.total(layer)
        for key, unit in units.items():
            m[f"{layer}.{key}"] = (tot[key], unit)
    one_shot_core = sum(tracer.total(p)["core_s"] for p in
                        ("sources.load_corpus", "pipeline.extract", "pipeline.sink"))
    base = tracer.total("pipeline.count_only")["core_s"]
    ckpt = tracer.total("checkpoint")["core_s"]
    m["pipeline.sink_amplification"] = (one_shot_core / base, "ratio")
    m["checkpoint.amplification"] = (ckpt / base, "ratio")
    m["sources.load_corpus.wall_s"] = (tracer.total("sources.load_corpus")["wall_s"], "s")
    m["spark.unattributed_jobs"] = (tracer.unattributed_jobs(), "count")
    m["checkpoint.recompute_frac"] = (ckpt_it["recompute_frac"], "frac")
    m["trace.overhead_frac"] = (tracer.overhead_frac(), "frac")
    m["input.docs"] = (summary["docs"], "count")
    for kind, n in summary["spans"].items():
        m[f"input.spans.{kind}"] = (n, "count")
    m["input.pages"] = (summary["pages"], "count")
    m["input.cells"] = (cells, "count")  # 0 when the workload has no pages
    m["input.junk"] = (summary["junk"], "count")
    # documents the slice skipped for the known PDF read-back defect
    m["input.pdf_defect_skipped"] = (len(summary["pdf_defect_skipped"]), "count")
    for k in ("spans", "rows", "quarantine", "review"):
        m[f"output.{k}"] = (counts[k], "count")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="ordinary documents in the corpus (default per workload)")
    args = ap.parse_args(argv)

    if not _engine_importable():
        _log(f"engine package ocr_to_csv_spark not found under {ROOT}")
        return 2
    import corpus
    import kernels

    size = args.size or SIZES[args.workload]
    cores = len(os.sched_getaffinity(0))
    t_gen = time.perf_counter()
    cache = os.path.join(WORK, "corpora")
    corpus_dir, summary = corpus.build(args.workload, args.seed, size, cache)
    warm_dir, _ = corpus.warm_corpus(args.workload, cache)
    kernel_fallback, _ = corpus.build("warm", 0, 0, cache)
    goldens = gate.Goldens(corpus_dir)
    _log(f"corpus {os.path.basename(corpus_dir)} ready in "
         f"{time.perf_counter() - t_gen:.1f}s: {summary}")

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = _prepare_env(run_dir)
    path = "checkpointed" if args.workload == "resume" else "one_shot"
    record = {"workload": args.workload, "seed": args.seed, "size": size,
              "trace": args.trace, "corpus": summary, "cores": cores,
              "n_buckets": N_BUCKETS, "group_size": GROUP_SIZE}
    spark = None
    try:
        with procstat.ContentionWindow() as window:
            t0 = time.perf_counter()
            spark = _start_spark(cores, conf)
            session_s = time.perf_counter() - t0
            runner = Runner(spark, run_dir)
            # warm-up: the workload's own path on a tiny corpus, so JIT,
            # codegen and the Python workers are warm for every plan timed
            warm_out = os.path.join(run_dir, "out", "warm")
            if path == "one_shot":
                one_shot(spark, warm_dir, warm_out)
            else:
                checkpointed(spark, warm_dir, warm_out, "perfbench-warm")
            shutil.rmtree(warm_out, ignore_errors=True)
            setup_s = time.perf_counter() - t0
            record["setup"] = {"session_s": session_s, "setup_s": setup_s}
            record["spark"] = {
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
                "driver_memory": spark.conf.get("spark.driver.memory"),
            }
            _log(f"setup {setup_s:.1f}s (session {session_s:.1f}s)")

            if not args.trace:
                its, measured = [], 0.0
                while not its or measured < args.seconds:
                    its.append(runner.iteration(path, corpus_dir, goldens))
                    measured += its[-1]["wall_s"]
                    _log(f"iteration {len(its)}: {its[-1]['wall_s']:.2f}s")
                metrics = _end_to_end(its, setup_s)
                record["iterations"] = its
            else:
                from layertrace import Tracer

                tracer = Tracer(spark)
                traced = runner.iteration(path, corpus_dir, goldens, tracer)
                with tracer.span("pipeline.count_only"):
                    count_only(spark, corpus_dir)
                other = "one_shot" if path == "checkpointed" else "checkpointed"
                other_it = runner.iteration(other, corpus_dir, goldens, tracer)
                tracer.resolve()
                _log("kernel microbenches")
                kern, kern_rec = kernels.run(corpus_dir, kernel_fallback)
                one, ckpt = ((traced, other_it) if path == "one_shot"
                             else (other_it, traced))
                seg = kern_rec["segment"]
                cells = seg["cells"] if seg["inputs"] == "workload" else 0
                metrics = _per_layer(tracer, ckpt, kern, cells, one["counts"],
                                     summary)
                record["iterations"] = [traced, other_it]
                record["kernels"] = kern_rec
                record["spans"] = tracer.dump()
        record["contention"] = window.record
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = sum(g.attempted for g in runner.gates)
    failed = sum(g.failed for g in runner.gates)
    record["problems"] = [p for g in runner.gates for p in g.problems][:20]
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
