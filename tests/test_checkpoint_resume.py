"""Checkpoint/lineage/resume semantics: kill-and-resume must reproduce the
exact same output (north rule: resumable from per-partition checkpoints)."""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kg import synth
from kg.checkpoint import (
    LINEAGE_SCHEMA,
    METRICS_SCHEMA,
    CheckpointedPipeline,
    add_bucket,
)
from kg.stages.mentions import detect_mentions, gazetteer_dim


@pytest.fixture()
def pages_sdf(spark, tmp_path):
    pdf = synth.gen_pages(120, seed=42)
    p = str(tmp_path / "pages.parquet")
    pdf.to_parquet(p, index=False)
    return spark.read.parquet(p)


def _rows(df):
    return sorted(map(tuple, df.drop("url_hash_bucket").toPandas().values.tolist()))


def _lengths(df):
    """A cheap pure-map stage fn: the checkpoint mechanics are under test."""
    return df.select("url", "url_hash_bucket", F.length("text").alias("n"))


def _commit_log(base, table, cols):
    """Sorted ``cols`` rows of a commit table, read with pyarrow as the
    benchmark's correctness pass reads it."""
    t = ds.dataset(str(Path(base) / table), format="parquet",
                   partitioning="hive").to_table()
    return sorted(zip(*(t.column(c).to_pylist() for c in cols)))


def test_stage_runs_and_is_idempotent(spark, pages_sdf, tmp_path):
    base = str(tmp_path / "ckpt")
    gaz = gazetteer_dim(spark, synth.GAZETTEER_DATA)
    pipe = CheckpointedPipeline(spark, base, n_buckets=8)
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)

    fn = lambda df: detect_mentions(df, gaz, None).join(  # noqa: E731
        bucketed.select("url", "url_hash_bucket").distinct(), "url"
    )
    out1 = _rows(pipe.run_stage("mentions", bucketed, fn))
    assert pipe.completed_buckets("mentions") == set(range(8))

    # second run: nothing to do, identical output
    out2 = _rows(pipe.run_stage("mentions", bucketed, fn))
    assert out1 == out2


def test_kill_and_resume_reproduces_output(spark, pages_sdf, tmp_path):
    base_full = str(tmp_path / "full")
    base_killed = str(tmp_path / "killed")
    gaz = gazetteer_dim(spark, synth.GAZETTEER_DATA)
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)

    def fn(df):
        return detect_mentions(df, gaz, None).join(
            bucketed.select("url", "url_hash_bucket").distinct(), "url"
        )

    golden = _rows(
        CheckpointedPipeline(spark, base_full, n_buckets=8).run_stage(
            "mentions", bucketed, fn
        )
    )

    # simulate a killed run: only buckets 0-3 were processed and committed
    pipe1 = CheckpointedPipeline(spark, base_killed, n_buckets=8)
    half = bucketed.where(F.col("url_hash_bucket") < 4)
    pipe1.run_stage("mentions", half, fn)
    assert pipe1.completed_buckets("mentions") == {0, 1, 2, 3}

    # a NEW process resumes with the full input and the same config
    pipe2 = CheckpointedPipeline(spark, base_killed, n_buckets=8)
    resumed = _rows(pipe2.run_stage("mentions", bucketed, fn))
    assert resumed == golden
    assert pipe2.completed_buckets("mentions") == set(range(8))


def test_config_change_invalidates_checkpoints(spark, pages_sdf, tmp_path):
    base = str(tmp_path / "cfg")
    gaz = gazetteer_dim(spark, synth.GAZETTEER_DATA)
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)
    fn = lambda df: detect_mentions(df, gaz, None)  # noqa: E731

    pipe_a = CheckpointedPipeline(spark, base, n_buckets=8, run_config={"v": 1})
    pipe_a.run_stage("mentions", bucketed, fn)
    pipe_b = CheckpointedPipeline(spark, base, n_buckets=8, run_config={"v": 2})
    assert pipe_b.completed_buckets("mentions") == set()


def test_lineage_and_metrics_written(spark, pages_sdf, tmp_path):
    base = str(tmp_path / "lin")
    gaz = gazetteer_dim(spark, synth.GAZETTEER_DATA)
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)
    pipe = CheckpointedPipeline(spark, base, n_buckets=8)
    out = pipe.run_stage("mentions", bucketed, lambda df: detect_mentions(df, gaz, None))

    lineage = pipe.read_lineage().toPandas()
    assert len(lineage) == 8
    assert lineage["n_out"].sum() == out.count()
    assert (lineage["stage"] == "mentions").all()
    # per-bucket n_out (from the written files' footers) = a Spark count
    counts = {r["url_hash_bucket"]: r["count"] for r in
              pipe.read_stage("mentions").groupBy("url_hash_bucket")
              .count().collect()}
    assert dict(zip(lineage["url_hash_bucket"], lineage["n_out"])) == {
        b: counts.get(b, 0) for b in range(8)
    }
    # wall time lives ONLY in metrics — per-bucket wall would be fiction
    assert "wall_ms" not in lineage.columns
    metrics = spark.read.parquet(str(Path(base) / "_metrics")).toPandas()
    assert metrics["n_rows_out"].iloc[0] == out.count()
    assert metrics["wall_ms"].iloc[0] > 0
    # O23: worker peak RSS captured and plausible (>10 MB for a JVM-fed
    # Python worker, nonzero proves the probe ran)
    assert metrics["peak_mem_mb"].iloc[0] > 10


def test_compact_stage_preserves_content_and_lineage(spark, pages_sdf,
                                                     tmp_path):
    """Compaction rewrites the stage at ~one file per bucket: identical
    rows, identical completed-bucket set, strictly fewer files, and a
    post-compaction resume is still a no-op."""
    from pathlib import Path

    base = str(tmp_path / "ckpt")
    gaz = gazetteer_dim(spark, synth.GAZETTEER_DATA)
    pipe = CheckpointedPipeline(spark, base, n_buckets=8)
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)

    fn = lambda df: detect_mentions(df, gaz, None).join(  # noqa: E731
        bucketed.select("url", "url_hash_bucket").distinct(), "url"
    )
    # run the stage at high shuffle parallelism so each bucket's rows land
    # in many tasks -> many small files per bucket (the layout compaction
    # exists to fix; a real stage at P=4096 is far worse)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    aqe = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "40")
    try:
        before = _rows(pipe.run_stage("mentions", bucketed, fn))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", aqe)
    stage_dir = Path(pipe.stage_output_path("mentions"))
    files_before = len(list(stage_dir.rglob("*.parquet")))

    files_after = pipe.compact_stage("mentions")
    assert files_after < files_before
    assert files_after <= 8  # ~one file per bucket at this size
    assert _rows(pipe.read_stage("mentions")) == before
    assert pipe.completed_buckets("mentions") == set(range(8))
    # resume after compaction: still a no-op with identical output
    assert _rows(pipe.run_stage("mentions", bucketed, fn)) == before
    # idempotent: compacting twice is safe
    assert pipe.compact_stage("mentions") == files_after


def _parent_format(spark, base, table, schema):
    """Rewrite a commit table the way earlier versions wrote it: one
    Spark append (INT96 timestamps, _SUCCESS and .crc side files)."""
    path = Path(base) / table
    rows = spark.read.schema(schema).parquet(str(path)).collect()
    shutil.rmtree(path)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append").parquet(str(path))
    schemas = [pq.ParquetFile(f).schema for f in path.glob("part-*.parquet")]
    assert schemas and all(
        s.column(s.names.index("ts")).physical_type == "INT96" for s in schemas
    )


def test_resume_over_commit_logs_of_earlier_versions(spark, pages_sdf,
                                                     tmp_path):
    """An output dir whose commit logs were Spark-written (INT96 ts) by an
    earlier version keeps resuming: the old buckets are skipped, and the
    mixed-format logs read whole from Spark and from pyarrow."""
    base = str(tmp_path / "mixed")
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)
    old = CheckpointedPipeline(spark, base, n_buckets=8)
    old.run_stage("lengths", bucketed.where(F.col("url_hash_bucket") < 4),
                  _lengths)
    _parent_format(spark, base, "_lineage", LINEAGE_SCHEMA)
    _parent_format(spark, base, "_metrics", METRICS_SCHEMA)

    pipe = CheckpointedPipeline(spark, base, n_buckets=8)
    assert pipe.completed_buckets("lengths") == {0, 1, 2, 3}
    out = pipe.run_stage("lengths", bucketed, _lengths)
    assert pipe.completed_buckets("lengths") == set(range(8))

    lineage = pipe.read_lineage()
    assert lineage.count() == 8
    assert lineage.where(F.col("ts").isNull()).count() == 0
    assert sorted(r[0] for r in lineage.select("url_hash_bucket")
                  .collect()) == list(range(8))
    metrics = spark.read.schema(METRICS_SCHEMA).parquet(
        str(Path(base) / "_metrics"))
    assert metrics.where(F.col("ts").isNotNull()).count() == 2
    # the resume recomputed only the buckets the old log did not commit
    assert _commit_log(base, "_metrics", ["run_id", "n_buckets_done"]) == \
        sorted([(old.run_id, 4), (pipe.run_id, 4)])
    assert [b for _, b in _commit_log(
        base, "_lineage", ["stage", "url_hash_bucket"])] == list(range(8))
    assert sum(n for (n,) in _commit_log(base, "_lineage", ["n_out"])) == \
        out.count() == pages_sdf.count()


def test_crash_inside_commit_leaves_buckets_uncommitted(
    spark, pages_sdf, tmp_path, monkeypatch
):
    """A commit that dies after writing its temp file and before the
    rename commits nothing; the leftover hidden file stays invisible, and
    a rerun recomputes exactly the uncommitted buckets into a clean run's
    tables."""
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)
    clean_base = str(tmp_path / "clean")
    golden = _rows(CheckpointedPipeline(spark, clean_base, n_buckets=8)
                   .run_stage("lengths", bucketed, _lengths))

    base = tmp_path / "crash"
    CheckpointedPipeline(spark, str(base), n_buckets=8).run_stage(
        "lengths", bucketed.where(F.col("url_hash_bucket") < 4), _lengths)

    def crash(src, dst):
        raise OSError("crash before rename")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(OSError, match="crash before rename"):
            CheckpointedPipeline(spark, str(base), n_buckets=8).run_stage(
                "lengths", bucketed, _lengths)
    assert len(list((base / "_lineage").glob(".part-*.parquet"))) == 1

    pipe = CheckpointedPipeline(spark, str(base), n_buckets=8)
    assert pipe.completed_buckets("lengths") == {0, 1, 2, 3}
    assert pipe.read_lineage().count() == 4
    assert len(_commit_log(base, "_lineage", ["url_hash_bucket"])) == 4
    assert len(_commit_log(base, "_metrics", ["run_id"])) == 1

    assert _rows(pipe.run_stage("lengths", bucketed, _lengths)) == golden
    metrics = _commit_log(base, "_metrics", ["run_id", "n_buckets_done"])
    assert (pipe.run_id, 4) in metrics and len(metrics) == 2
    cols = ["stage", "url_hash_bucket", "n_out"]
    assert _commit_log(base, "_lineage", cols) == _commit_log(
        clean_base, "_lineage", cols)


def test_fresh_run_stage_job_budget(spark, pages_sdf, tmp_path):
    """Spark jobs a fresh run_stage launches for a pure-map stage fn: the
    bucket set (AQE runs its shuffle as its own job), the data write, the
    peak-memory probe and the returned read's schema inference. The commit
    log costs none, so a bookkeeping job added later fails here."""
    pipe = CheckpointedPipeline(spark, str(tmp_path / "jobs"), n_buckets=8)
    bucketed = add_bucket(pages_sdf.select("url", "text"), 8)
    sc = spark.sparkContext
    sc.setJobGroup("run_stage_job_budget", "fresh run_stage")
    try:
        pipe.run_stage("lengths", bucketed, _lengths)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("run_stage_job_budget")
    assert len(jobs) == 5
