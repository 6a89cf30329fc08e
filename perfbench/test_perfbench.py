"""Self-tests of the benchmark's own machinery. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The first group needs no Spark. The second starts one local session and
takes a few minutes: it pins the Python-worker counter units, checks that
traced layer spans and ``cli.unattributed_s`` add up to the CLI wall, and
that a resume after a crash skips exactly the committed buckets and
reproduces the fresh run's outputs.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import check  # noqa: E402
import spans  # noqa: E402
from corpus import Corpus  # noqa: E402
from run import stop_session  # noqa: E402

#: every table the checkpointed stages write
INGEST = check.output_tables(check.CHECKPOINTED)


# ---- correctness pass (no Spark) ----


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    """A 6-page corpus and a CLI-shaped output dir that matches its
    oracles exactly."""
    root = tmp_path_factory.mktemp("tiny")
    corpus = Corpus(root, 6, seed=7, n_files=2)
    corpus.build()
    out = root / "out"
    golden = corpus.golden
    tables = {
        "docs": golden.assign(url_hash_bucket=0),
        "triples": corpus.expected_triples.assign(url_hash_bucket=0),
        "mentions": corpus.expected_mentions.assign(url_hash_bucket=0),
        "_metrics": pd.DataFrame({"n_buckets_done": [1]}),
    }
    for name in INGEST:
        df = tables.get(name, pd.DataFrame({"x": [1]}))
        (out / name).mkdir(parents=True)
        df.to_parquet(out / name / "part-0.parquet", index=False)
    return corpus, out


def _check(corpus, out):
    return check.check_output(
        out, INGEST, corpus.golden,
        corpus.expected_triples, corpus.expected_mentions,
    )


def _rewrite(out: Path, name: str, df: pd.DataFrame) -> Path:
    bad = out.parent / f"bad_{name}"
    shutil.rmtree(bad, ignore_errors=True)
    shutil.copytree(out, bad)
    df.to_parquet(bad / name / "part-0.parquet", index=False)
    return bad


def test_exact_output_passes(tiny):
    corpus, out = tiny
    res = _check(corpus, out)
    assert check.passes(res), res
    assert res["triple_precision"] == res["mention_recall"] == 1.0


def test_injected_wrong_triple_fails(tiny):
    corpus, out = tiny
    triples = check.read_table(out, "triples")
    # one wrong row must push precision under the gate
    assert 0 < len(triples) < 1 / (1 - check.MIN_PR) - 1
    wrong = triples.iloc[:1].assign(obj="Nowhere In Particular")
    bad = _rewrite(out, "triples", pd.concat([triples, wrong]))
    res = _check(corpus, bad)
    assert res["triple_precision"] < check.MIN_PR
    assert not check.passes(res)


def test_changed_docs_row_fails(tiny):
    corpus, out = tiny
    docs = check.read_table(out, "docs")
    docs.loc[0, "text"] = docs.loc[0, "text"] + " "
    res = _check(corpus, _rewrite(out, "docs", docs))
    assert res["extract_mismatch_docs"] == 1
    assert not check.passes(res)


def test_missing_table_fails(tiny):
    corpus, out = tiny
    bad = _rewrite(out, "docs", check.read_table(out, "docs"))
    shutil.rmtree(bad / "linked")
    res = _check(corpus, bad)
    assert res["missing_tables"] == ["linked"]
    assert not check.passes(res)


class _FakeSc:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, value):
        self.descriptions.append(value)


def test_span_self_times_add_up_to_wall():
    sc = _FakeSc()
    tracer = spans.Tracer(sc)
    t0 = time.monotonic()
    with tracer.span("checkpoint", timer="run_stage_s"):
        time.sleep(0.02)
        with tracer.span("extract", timer="stage_write_s"):
            time.sleep(0.03)
        with tracer.span("checkpoint", timer="commit_s"):
            time.sleep(0.01)
    wall = time.monotonic() - t0
    assert sum(tracer.self_s.values()) == pytest.approx(wall, abs=2e-3)
    assert tracer.self_s["extract"] == pytest.approx(0.03, abs=5e-3)
    assert tracer.timers["run_stage_s"] >= (
        tracer.timers["stage_write_s"] + tracer.timers["commit_s"]
    )
    # the innermost open layer owns the jobs; the outer one is restored
    assert sc.descriptions == [
        "checkpoint", "extract", "checkpoint", "checkpoint", "checkpoint",
        None,
    ]


# ---- with Spark ----


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    log_dir = tmp_path_factory.mktemp("eventlog")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    session = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(log_dir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session, log_dir
    stop_session(session)


@pytest.fixture(scope="module")
def cli_runs(spark, tmp_path_factory):
    """A traced fresh CLI run over the checkpointed stages, then a resume
    from a copy of its output with half the buckets un-committed."""
    import run_pipeline

    session, log_dir = spark
    root = tmp_path_factory.mktemp("cli")
    corpus = Corpus(root, 300, seed=11, n_files=4)
    corpus.build()
    n_buckets = 8
    probe_s = spans.warm_up_and_probe(session)

    def cli(out):
        run_pipeline.main([
            "--pages", str(corpus.pages_dir), "--out", str(out),
            "--buckets", str(n_buckets),
            "--stages", ",".join(check.CHECKPOINTED),
        ])

    fresh = root / "fresh"
    tracer = spans.Tracer(session.sparkContext)
    tracer.install()
    t0 = time.monotonic()
    try:
        cli(fresh)
    finally:
        tracer.uninstall()
    wall = time.monotonic() - t0

    # crash mid-run: buckets >= 4 lose their lineage rows and partitions
    resumed = root / "resumed"
    shutil.copytree(fresh, resumed)
    dropped = set(range(4, n_buckets))
    for stage in spans.STAGE_TABLES:
        for b in dropped:
            shutil.rmtree(resumed / stage / f"url_hash_bucket={b}",
                          ignore_errors=True)
    lineage = ds.dataset(str(resumed / "_lineage")).to_table().to_pandas()
    shutil.rmtree(resumed / "_lineage")
    (resumed / "_lineage").mkdir()
    kept = lineage[~lineage["url_hash_bucket"].isin(dropped)]
    pq.write_table(pa.Table.from_pandas(kept, preserve_index=False),
                   resumed / "_lineage" / "part-0.parquet")
    cli(resumed)
    return {
        "corpus": corpus, "fresh": fresh, "resumed": resumed,
        "tracer": tracer, "wall": wall, "probe_s": probe_s,
        "log_dir": log_dir, "dropped": dropped, "n_buckets": n_buckets,
    }


def test_units_probe_pins_ms(cli_runs):
    log = spans.event_log_file(cli_runs["log_dir"])
    rows = spans.fold_event_log(log)
    assert spans.pin_py_time_scale(rows, cli_runs["probe_s"]) == 1e-3
    assert rows["extract"]["raw:" + spans.PY_IN] > 0


def test_traced_spans_cover_cli_wall(cli_runs):
    tracer, wall = cli_runs["tracer"], cli_runs["wall"]
    attributed = sum(tracer.self_s.values())
    assert all(v >= 0 for v in tracer.self_s.values())
    assert 0 <= wall - attributed < 0.25 * wall
    assert set(tracer.self_s) <= set(spans.LAYERS)


def test_resume_skips_exactly_the_committed_buckets(cli_runs):
    metrics = ds.dataset(str(cli_runs["resumed"] / "_metrics")).to_table()
    metrics = metrics.to_pandas().sort_values("ts")
    n_stages = len(spans.STAGE_TABLES)
    # the copied fresh run's rows come first, then the resume's
    resume = metrics.iloc[n_stages:]
    assert sorted(resume["stage"]) == sorted(spans.STAGE_TABLES)
    assert (resume["n_buckets_done"] == len(cli_runs["dropped"])).all()


def _digest(df: pd.DataFrame) -> tuple[int, int]:
    """(row count, order-independent content hash): the sum of per-row
    hashes over the columns in name order, every value as its string."""
    cols = sorted(df.columns)
    rows = pd.util.hash_pandas_object(
        df[cols].astype(str), index=False
    ).astype("uint64")
    return len(df), int(rows.sum())


def test_resume_reproduces_fresh_outputs(cli_runs):
    corpus = cli_runs["corpus"]
    for out in (cli_runs["fresh"], cli_runs["resumed"]):
        assert check.passes(_check(corpus, out))
    for name in INGEST:
        if name in ("_lineage", "_metrics"):
            continue
        a = check.read_table(cli_runs["fresh"], name)
        b = check.read_table(cli_runs["resumed"], name)
        assert _digest(a) == _digest(b), name
