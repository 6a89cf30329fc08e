#!/usr/bin/env python3
"""Benchmark of the pipeline CLI that users run: ``run_pipeline.main``
called in-process over a generated crawl segment.

    python3 perfbench/run.py --workload cli_ingest --seed 1 --seconds 1 --trace 0

Run from the repository root. Each run starts its own local Spark session
(``local[nproc]``) that ``main`` reuses, and then times the first CLI run
in that driver JVM, as with a ``spark-submit`` per crawl segment: the run
pays JIT warm-up and the Python workers' start, as a user's does.
Workloads are a closed loop of one client: the next CLI run starts when
the previous one returned, until ``--seconds`` have passed.
BENCHMARK.json sets ``run_seconds`` to 1, below the shortest CLI run
(about 40 s on 4 cores), so every benchmark run times exactly one cold CLI
run and runs stay comparable; later runs in a longer loop would be warm.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes the same
run with the Spark event log on and the layer wrappers of ``spans.py``
installed, and prints the per-layer metrics. Either way the correctness
pass (``check.py``) runs after every CLI run, outside the timed window, and
the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Scratch files (corpus, outputs, Spark local dirs, event logs) live
under ``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path.cwd()

#: name -> (pages, stages). Why each exists:
WORKLOADS = {
    # a new crawl segment through the per-page stages: extraction and
    # triples (the two Arrow passes), link extraction and mentions carry
    # the task time. The wall and the CPU are still mostly fixed cost
    # (about 2% per-page at this size), so a per-page optimisation shows
    # in the traced layers' task and Python-worker time, hardly in docs/s
    "cli_ingest": (2000, ("extract", "links", "mentions", "triples")),
    # a small crawl increment through the knowledge-graph stages (the
    # default stages but ``links``, which feeds none of them): the wall is
    # fixed per-stage cost (checkpoint commits and bookkeeping, job
    # launches, the whole-graph canon/graph/facts/analytics recompute), so
    # a per-page optimisation should show no change here
    "cli_small_batch": (1000, (
        "extract", "mentions", "triples", "link", "canon", "graph", "facts",
        "analytics",
    )),
}
#: Time budget: a full benchmark pass (48 runs) has to end within 57
#: minutes, about 70 s a run with session start, and a cold CLI run through
#: all default stages on 1000 pages takes 50-100 s on a shared 4-core host;
#: hence two workloads that split the stages, small corpora, and
#: 8 buckets rather than the CLI's default 32 (the default-stage run took
#: ~82 s at 32 buckets and ~63 s at 8)
BUCKETS = 8
#: see start_session
DRIVER_HEAP = "1g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Python workers import ``kg`` from the checkout; every temp file
    stays inside it."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # Spark's scratch dirs; the variable wins over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # what kg.session.get_spark reads when main re-applies its settings
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))


def start_session(work: Path, event_log: Path | None):
    """The CLI's own session (``kg.session.get_spark`` and its SQL
    settings), started before ``main`` so that ``main`` reuses it and the
    benchmark can time set-up apart from the CLI run.

    One departure: the driver heap is fixed at ``DRIVER_HEAP`` instead of
    the CLI's default of up to 8g. A growable heap is grown by the
    collector in timing-dependent steps: at 8g, peak RSS spread by 18-22%
    between runs of the same workload (quartiles of ten), at a fixed 1g by
    3-4%. The corpora here need no more: at 1g and at 8g the collector
    takes 1-2% of task time and nothing spills. The cost is that
    peak_rss_mb does not see changes in JVM heap use (they show in the
    layers' ``gc_s`` and ``spill_bytes``), only in the Python workers and
    the JVM outside its heap."""
    from kg.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={work / 'tmp'}"
        ),
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        master=f"local[{nproc()}]", app_name="perfbench", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the driver JVM, and wait until it has exited (the
    JVM stops the Python worker daemon on its way down)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def failed_tasks_since(sc, seen: set[int]) -> int:
    """Failed tasks in jobs not yet in ``seen`` (which is updated)."""
    st = sc.statusTracker()
    n = 0
    for jid in st.getJobIdsForGroup(None):
        if jid in seen:
            continue
        seen.add(jid)
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            n += si.numFailedTasks if si else 0
    return n


def run_cli(run_pipeline, corpus, out: Path, stages) -> dict:
    """One CLI run into an empty ``out``; wall, CPU and peak RSS of the
    Spark processes over the call into ``main`` until it returns."""
    import proc

    shutil.rmtree(out, ignore_errors=True)
    argv = [
        "--pages", str(corpus.pages_dir), "--out", str(out),
        "--buckets", str(BUCKETS),
        "--stages", ",".join(stages),
    ]
    rss = proc.PeakRss().start()
    cpu0 = proc.tree_usage()[0]
    t0 = time.monotonic()
    error = None
    try:
        # main prints its own summary line; keep stdout for the result
        with contextlib.redirect_stdout(sys.stderr):
            run_pipeline.main(argv)
    except Exception as exc:  # a raising run counts as failed, not fatal
        error = f"{type(exc).__name__}: {exc}"
    wall = time.monotonic() - t0
    cpu = proc.tree_usage()[0] - cpu0
    peak = rss.stop()
    return {"wall_s": wall, "cpu_s": cpu, "peak_rss_b": peak, "error": error}


def layer_metrics(tracer, rows, py_scale, cli_wall, res, stages) -> dict:
    import check
    import spans

    m = {}
    for layer in spans.LAYERS:
        r = rows.get(layer, {})
        m[f"{layer}.wall_s"] = tracer.self_s[layer]
        for key in ("task_s", "cpu_s", "gc_s", "shuffle_bytes",
                    "spill_bytes", "jobs"):
            m[f"{layer}.{key}"] = r.get(key, 0.0)
        m[f"{layer}.task_skew"] = r.get("task_skew", 1.0)
        if layer in spans.ARROW_LAYERS:
            m[f"{layer}.py_run_s"] = r.get("raw:" + spans.PY_RUN, 0) * py_scale
            m[f"{layer}.py_bytes_in"] = r.get("raw:" + spans.PY_IN, 0)
            m[f"{layer}.py_bytes_out"] = r.get("raw:" + spans.PY_OUT, 0)
    m["checkpoint.commit_s"] = tracer.timers["commit_s"]
    m["checkpoint.bookkeeping_s"] = (
        tracer.timers["run_stage_s"] - tracer.timers["stage_write_s"]
    )
    m["checkpoint.buckets_done"] = res["buckets_done"]
    n_checkpointed = len(set(stages) & set(check.CHECKPOINTED))
    m["checkpoint.buckets_skipped"] = (
        n_checkpointed * BUCKETS - res["buckets_done"]
    )
    m["checkpoint.error_rows"] = res["error_rows"]
    m["cli.wall_s"] = cli_wall
    m["cli.unattributed_s"] = cli_wall - sum(tracer.self_s.values())
    m["cli.jobs"] = rows.get(None, {}).get("jobs", 0.0)
    return m


UNITS = {
    "wall_s": "s", "task_s": "s", "cpu_s": "s", "gc_s": "s", "py_run_s": "s",
    "commit_s": "s", "bookkeeping_s": "s", "unattributed_s": "s",
    "shuffle_bytes": "bytes", "spill_bytes": "bytes", "py_bytes_in": "bytes",
    "py_bytes_out": "bytes", "task_skew": "ratio", "jobs": "count",
    "buckets_done": "count", "buckets_skipped": "count",
    "error_rows": "count", "docs_per_sec": "docs/s", "steal_frac": "ratio",
    "busy_frac": "ratio",
}


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    work = ROOT / ".perfbench_work"
    prepare_env(work)
    try:
        import run_pipeline  # the program under test

        import bench
        import kg.checkpoint  # noqa: F401 — the layers under test
    except ImportError as exc:
        print(f"perfbench: program not found in {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import check
    import spans
    from corpus import FILES_PER_CORE, Corpus

    n_pages, stages = WORKLOADS[args.workload]
    tables = check.output_tables(stages)
    busy_start = bench.cpu_busy_frac(0.25)
    host = bench.StatSampler(interval=1.0).start()
    tag = f"{args.workload}-s{args.seed}-{os.getpid()}"

    # set-up: corpus and oracles (pure Python) build in a thread while the
    # driver JVM starts
    t_setup = time.monotonic()
    corpus = Corpus(work / "corpus", n_pages, args.seed,
                    FILES_PER_CORE * nproc())
    event_log = work / "eventlog" / tag if args.trace else None
    with ThreadPoolExecutor(1) as pool:
        built = pool.submit(corpus.build)
        spark = start_session(work, event_log)
        built.result()
    setup_s = time.monotonic() - t_setup
    golden = corpus.golden
    exp_t, exp_m = corpus.expected_triples, corpus.expected_mentions

    runs, results = [], []
    seen_jobs: set[int] = set()
    failed_tasks_since(spark.sparkContext, seen_jobs)
    tracer = spans.Tracer(spark.sparkContext) if args.trace else None
    t_loop = time.monotonic()
    while not runs or time.monotonic() - t_loop < args.seconds:
        out = work / "out" / f"{tag}-{len(runs)}"
        if tracer:
            tracer.install()
        try:
            run = run_cli(run_pipeline, corpus, out, stages)
        finally:
            if tracer:
                tracer.uninstall()
        # outside the timed window from here on
        run["failed_tasks"] = failed_tasks_since(spark.sparkContext,
                                                 seen_jobs)
        res = check.check_output(out, tables, golden, exp_t, exp_m)
        run["correct"] = check.passes(res)
        run["failed"] = bool(
            run["error"] or run["failed_tasks"] or res["error_rows"]
        )
        runs.append(run)
        results.append(res)
        shutil.rmtree(out, ignore_errors=True)
        if tracer:
            break  # one traced run: tracing inflates its wall
    if tracer:
        probe_s = spans.warm_up_and_probe(spark)
    stop_session(spark)
    corpus.remove()
    contention = host.stop()

    walls = [r["wall_s"] for r in runs]
    n_failed = sum(r["failed"] for r in runs)
    correct = all(r["correct"] for r in runs) and n_failed == 0
    mismatch = max(r["extract_mismatch_docs"] for r in results)
    record = {
        "workload": args.workload, "seed": args.seed, "pages": n_pages,
        "stages": ",".join(stages), "buckets": BUCKETS,
        "cores": nproc(), "trace": args.trace, "setup_s": setup_s,
        "cli_walls_s": walls,
        "failed_frac": n_failed / len(runs),
        "extract_mismatch_docs": mismatch,
        "error_rows": max(r["error_rows"] for r in results),
        "missing_tables": sorted({t for r in results
                                  for t in r["missing_tables"]}),
        "errors": [r["error"] for r in runs if r["error"]],
        "cpu_busy_frac_start": busy_start, **contention,
    }

    if args.trace:
        rows = spans.fold_event_log(spans.event_log_file(event_log))
        shutil.rmtree(event_log, ignore_errors=True)
        try:
            py_scale = spans.pin_py_time_scale(rows, probe_s)
        except ValueError as exc:
            record["errors"].append(str(exc))
            correct, py_scale = False, 0.0
        values = layer_metrics(tracer, rows, py_scale, walls[0], results[0],
                               stages)
        values["trace.docs_per_sec"] = n_pages / walls[0]
        values["host.steal_frac"] = contention["cpu_steal_frac_during"]
        values["host.busy_frac"] = contention["cpu_busy_frac_during"]
        metrics = {
            k: (v, UNITS[k.rsplit(".", 1)[1]]) for k, v in values.items()
        }
    else:
        med = statistics.median
        metrics = {
            "docs_per_sec": (n_pages / med(walls), "docs/s"),
            "core_s_per_kdoc": (
                med(r["cpu_s"] for r in runs) * 1000 / n_pages, "s"),
            "peak_rss_mb": (max(r["peak_rss_b"] for r in runs) / 2**20, "MB"),
            "setup_s": (setup_s, "s"),
            **{
                k: (med(r[k] for r in results), "ratio")
                for k in ("triple_precision", "triple_recall",
                          "mention_precision", "mention_recall")
            },
            "extract_match_frac": (1 - mismatch / n_pages, "ratio"),
        }

    print(json.dumps(record))
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(f"failed_frac = {record['failed_frac']:.6g} ratio")
    print(f"extract_mismatch_docs = {mismatch} count")
    print(json.dumps({
        "correct": bool(correct), "attempted": len(runs), "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
