"""Per-layer tracing of one CLI run, from outside the program.

``Tracer.install`` wraps, for the duration of a traced run:

- the layer entry points ``run_pipeline.main`` imports at call time;
- ``CheckpointedPipeline.run_stage``;
- ``DataFrameWriter.parquet``, keyed by the output table (most layers are
  lazy DataFrame builders, so their Spark work runs inside the write of
  the table they feed).

Each wrapper records a span and sets the Spark job description to the
span's layer, so every job lands on the innermost open layer. A layer's
``wall_s`` is its spans' self time; whatever no span covers is
``cli.unattributed_s``. ``fold_event_log`` then folds the event log's
``SparkListenerTaskEnd`` metrics into one row per layer.
"""

from __future__ import annotations

import importlib
import json
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from pathlib import Path

import check

LAYERS = (
    "extract", "weblinks", "mentions", "triples", "link", "canon", "graph",
    "facts", "analytics", "checkpoint",
)
#: layers whose work crosses the Arrow boundary into Python workers (the
#: checkpoint layer's Python use is its peak-memory probe)
ARROW_LAYERS = ("extract", "triples", "checkpoint")

#: (module, function, layer) for the entry points main imports at call time
LAYER_FUNCS = (
    ("kg.stages.extract", "extract_docs", "extract"),
    ("kg.ops.weblinks", "extract_links", "weblinks"),
    ("kg.stages.mentions", "detect_mentions", "mentions"),
    ("kg.stages.triples", "extract_svo_triples", "triples"),
    ("kg.stages.link", "link_triples", "link"),
    ("kg.stages.canon", "canonicalize_aliases", "canon"),
    ("kg.graphstats", "fact_evidence", "facts"),
    ("kg.reason", "infer_transitive", "facts"),
    ("kg.reason", "induce_entity_types", "facts"),
    ("kg.graphstats", "pagerank", "analytics"),
    ("kg.graphstats", "degree_stats", "analytics"),
    ("kg.graphstats", "triangle_stats", "analytics"),
)

#: checkpointed stage tables (written inside run_stage) -> layer
STAGE_TABLES = {
    tables[0]: layer
    for layer, ckpt, tables in check.STAGES.values() if ckpt
}
#: every table the CLI writes -> layer
TABLE_LAYER = {
    **{t: layer for layer, _, tables in check.STAGES.values()
       for t in tables},
    **{t: "checkpoint" for t in (*check.COMMIT_TABLES, "_errors")},
}

#: job descriptions of the session warm-up and the units probe (not layers)
WARMUP = "perfbench.warmup"
PROBE = "perfbench.units_probe"
#: per-task Python worker accumulables (SQL metrics)
PY_RUN = "time to run Python workers"
PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"


class Tracer:
    """Span stack for one traced CLI run."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.stack: list[list] = []  # [layer, start, child seconds]
        self.self_s: Counter = Counter()
        self.timers: Counter = Counter()
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, layer: str, timer: str | None = None):
        frame = [layer, time.monotonic(), 0.0]
        self.stack.append(frame)
        self.sc.setJobDescription(layer)
        try:
            yield
        finally:
            dur = time.monotonic() - frame[1]
            self.stack.pop()
            self.self_s[layer] += dur - frame[2]
            if timer:
                self.timers[timer] += dur
            if self.stack:
                self.stack[-1][2] += dur
                self.sc.setJobDescription(self.stack[-1][0])
            else:
                self.sc.setJobDescription(None)

    def _patch(self, owner, name: str, make) -> None:
        orig = getattr(owner, name)
        setattr(owner, name, make(orig))
        self._patches.append((owner, name, orig))

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter

        from kg.checkpoint import CheckpointedPipeline

        tracer = self

        def layer_fn(orig, layer):
            def wrapped(*args, **kwargs):
                with tracer.span(layer):
                    return orig(*args, **kwargs)

            return wrapped

        for mod, name, layer in LAYER_FUNCS:
            self._patch(
                importlib.import_module(mod), name,
                lambda orig, layer=layer: layer_fn(orig, layer),
            )

        def run_stage(orig):
            def wrapped(*args, **kwargs):
                with tracer.span("checkpoint", timer="run_stage_s"):
                    return orig(*args, **kwargs)

            return wrapped

        self._patch(CheckpointedPipeline, "run_stage", run_stage)

        def parquet(orig):
            def wrapped(writer, path, *args, **kwargs):
                table = Path(str(path)).name
                layer = TABLE_LAYER.get(table)
                if layer is None:
                    return orig(writer, path, *args, **kwargs)
                timer = (
                    "commit_s" if table in check.COMMIT_TABLES
                    else "stage_write_s" if table in STAGE_TABLES
                    else None
                )
                with tracer.span(layer, timer=timer):
                    return orig(writer, path, *args, **kwargs)

            return wrapped

        self._patch(DataFrameWriter, "parquet", parquet)

    def uninstall(self) -> None:
        while self._patches:
            owner, name, orig = self._patches.pop()
            setattr(owner, name, orig)


def _sleepy(seconds: float):
    def fn(batches):
        for pdf in batches:
            time.sleep(seconds)
            yield pdf

    return fn


def _python_job(spark, desc: str, seconds_per_task: float, n_tasks: int):
    spark.sparkContext.setJobDescription(desc)
    try:
        spark.range(0, n_tasks, 1, n_tasks).mapInPandas(
            _sleepy(seconds_per_task), schema="id long"
        ).collect()
    finally:
        spark.sparkContext.setJobDescription(None)


def warm_up_and_probe(spark, seconds_per_task: float = 0.5) -> float:
    """Run the units probe: a job of known Python cost, one sleep of
    ``seconds_per_task`` per task. A warm-up job with one task per core
    runs first, so the probe's workers have paid interpreter and import
    start-up (after a CLI run they have already). The probe's event-log
    ``time to run Python workers`` pins that counter's unit. Returns the
    probe's expected Python seconds."""
    n = spark.sparkContext.defaultParallelism
    _python_job(spark, WARMUP, 0.0, n)
    _python_job(spark, PROBE, seconds_per_task, n)
    return seconds_per_task * n


def fold_event_log(path: Path) -> dict[str | None, dict]:
    """One row of summed task metrics per job description (a layer, the
    warm-up or probe, or ``None`` for jobs no span covered)."""
    stage_desc: dict[int, str | None] = {}
    rows: dict = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description")
                rows[desc]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_desc.setdefault(sid, desc)
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                sid = ev["Stage ID"]
                row = rows[stage_desc.get(sid)]
                run_s = m.get("Executor Run Time", 0) / 1e3
                row["task_s"] += run_s
                row["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                shuffle = m.get("Shuffle Write Metrics") or {}
                row["shuffle_bytes"] += shuffle.get("Shuffle Bytes Written", 0)
                row["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                stage_tasks[(stage_desc.get(sid), sid)].append(run_s)
                for acc in info.get("Accumulables") or ():
                    name = acc.get("Name")
                    if name in (PY_RUN, PY_IN, PY_OUT):
                        row["raw:" + name] += float(acc.get("Update") or 0)
    # task_skew: max/median task time per stage with >= 2 tasks, weighted
    # by the stage's task time so a 3 ms stage cannot dominate
    skew_num: Counter = Counter()
    skew_den: Counter = Counter()
    for (desc, _sid), times in stage_tasks.items():
        med = statistics.median(times)
        if len(times) >= 2 and med > 0:
            skew_num[desc] += sum(times) * max(times) / med
            skew_den[desc] += sum(times)
    for desc, row in rows.items():
        row["task_skew"] = (
            skew_num[desc] / skew_den[desc] if skew_den[desc] else 1.0
        )
    return dict(rows)


def pin_py_time_scale(rows: dict, expected_s: float) -> float:
    """Seconds per raw unit of ``time to run Python workers``, chosen from
    ms and ns by the units probe's known cost; raises if neither fits. The
    window is wide because worker overhead adds to each task's sleep, and
    the two candidates are six orders of magnitude apart."""
    raw = rows.get(PROBE, {}).get("raw:" + PY_RUN, 0.0)
    for scale in (1e-3, 1e-9):
        if expected_s * 0.5 <= raw * scale <= expected_s * 4.0:
            return scale
    raise ValueError(
        f"units probe: raw {PY_RUN} = {raw} fits neither ms nor ns "
        f"for an expected {expected_s:.2f} s"
    )


def event_log_file(log_dir: Path) -> Path:
    files = [p for p in Path(log_dir).iterdir() if p.is_file()]
    if len(files) != 1:
        raise ValueError(f"expected one event log in {log_dir}, got {files}")
    return files[0]
