"""O21: per-partition error capture — a poisoned page lands an errors row
and the stage completes instead of aborting the job."""

from __future__ import annotations

import pytest

from kg.errors import split_errors
from kg.stages.extract import extract_docs
from kg.stages.triples import detect_ner_mentions


@pytest.fixture(scope="module")
def poisoned_docs(spark):
    return spark.createDataFrame(
        [
            ("u1", "Acme Corporation opened in London.", "en"),
            ("poison://1", "some text", "tlh"),  # unsupported lang -> raises
            ("u2", "Paris is in France.", "en"),
        ],
        "url string, text string, lang string",
    )


def test_poisoned_doc_becomes_error_row_not_job_abort(spark, poisoned_docs):
    raw = detect_ner_mentions(poisoned_docs, capture_errors=True)
    ok, errs = split_errors(raw, stage="ner_mentions")
    err_rows = errs.collect()
    assert len(err_rows) == 1
    assert err_rows[0]["url"] == "poison://1"
    assert err_rows[0]["stage"] == "ner_mentions"
    assert err_rows[0]["error"].startswith("UnknownLanguageError:")
    # the good docs are fully processed
    ok_urls = {r["url"] for r in ok.collect()}
    assert "u1" in ok_urls and "u2" in ok_urls and "poison://1" not in ok_urls


def test_without_capture_the_stage_fails(spark, poisoned_docs):
    with pytest.raises(Exception, match="no detector resources"):
        detect_ner_mentions(poisoned_docs).collect()


def test_capture_matches_plain_path_on_clean_input(spark, poisoned_docs):
    clean = poisoned_docs.where("lang = 'en'")
    plain = {tuple(r) for r in detect_ner_mentions(clean).collect()}
    ok, errs = split_errors(
        detect_ner_mentions(clean, capture_errors=True), stage="ner_mentions"
    )
    assert errs.isEmpty()
    assert {tuple(r) for r in ok.collect()} == plain


def test_extract_capture_passthrough(spark):
    pages = spark.createDataFrame(
        [("u1", b"<p>hello world</p>", "en")],
        "url string, html binary, lang string",
    )
    ok, errs = split_errors(
        extract_docs(pages, capture_errors=True), stage="extract"
    )
    assert errs.isEmpty()
    got = ok.collect()[0]
    assert got["text"] == "hello world"
    assert got["n_chars"] == 11


def test_pipeline_routes_captured_errors_to_errors_table(spark, poisoned_docs, tmp_path):
    from pyspark.sql import functions as F

    from kg.checkpoint import CheckpointedPipeline, add_bucket

    base = str(tmp_path / "pipe")
    bucketed = add_bucket(poisoned_docs, 4)
    pipe = CheckpointedPipeline(spark, base, n_buckets=4)
    out = pipe.run_stage(
        "ner", bucketed,
        lambda df: detect_ner_mentions(df, capture_errors=True).join(
            df.select("url", "url_hash_bucket"), "url"
        ),
    )
    # stage table is clean: no poison row, no bookkeeping columns
    assert "error" not in out.columns and "has_error" not in out.columns
    assert {r["url"] for r in out.select("url").distinct().collect()} == {"u1", "u2"}
    errs = pipe.read_errors().collect()
    assert len(errs) == 1
    assert errs[0]["url"] == "poison://1" and errs[0]["stage"] == "ner"
    assert errs[0]["error"].startswith("UnknownLanguageError:")
    # lineage n_out counts clean rows only
    lineage = pipe.read_lineage().toPandas()
    assert lineage["n_out"].sum() == out.count()
    n_out = dict(zip(lineage["url_hash_bucket"], lineage["n_out"]))
    counts = {r["url_hash_bucket"]: r["count"]
              for r in out.groupBy("url_hash_bucket").count().collect()}
    assert n_out == {b: counts.get(b, 0) for b in n_out}
    # the poisoned row sits in its bucket's files but not in its n_out
    raw = spark.read.parquet(pipe.stage_output_path("ner"))
    poison = raw.where("has_error = 'true'").collect()
    assert [r["url"] for r in poison] == ["poison://1"]
    b = poison[0]["url_hash_bucket"]
    assert raw.where(F.col("url_hash_bucket") == b).count() == n_out[b] + 1


def test_resume_does_not_reappend_prior_runs_errors(spark, poisoned_docs, tmp_path):
    from pyspark.sql import functions as F

    from kg.checkpoint import CheckpointedPipeline, add_bucket

    base = str(tmp_path / "pipe2")
    bucketed = add_bucket(poisoned_docs, 4)
    poison_bucket = bucketed.where("url = 'poison://1'").first()["url_hash_bucket"]
    fn = lambda df: detect_ner_mentions(df, capture_errors=True).join(  # noqa: E731
        df.select("url", "url_hash_bucket"), "url"
    )
    pipe = CheckpointedPipeline(spark, base, n_buckets=4)
    pipe.run_stage(
        "ner", bucketed.where(F.col("url_hash_bucket") == poison_bucket), fn
    )
    assert pipe.read_errors().count() == 1
    # fresh pipeline resumes over the full input: only the remaining buckets
    # run, and the already-logged poison row must NOT be appended again
    pipe2 = CheckpointedPipeline(spark, base, n_buckets=4)
    pipe2.run_stage("ner", bucketed, fn)
    assert pipe2.read_errors().count() == 1


def test_annotate_pages_capture_errors(spark):
    """ADVICE r2 (medium): the fused production path must survive a page
    whose lang the backend has no resources for — one error row, not a
    stage abort."""
    from kg.stages.triples import annotate_pages

    pages = spark.createDataFrame(
        [
            ("u1", b"<p>Acme Corporation opened in London.</p>", "en"),
            ("poison://1", b"<p>some text</p>", "tlh"),
        ],
        "url string, html binary, lang string",
    )
    with pytest.raises(Exception, match="no detector resources"):
        annotate_pages(pages).collect()
    ok, errs = split_errors(
        annotate_pages(pages, capture_errors=True), stage="annotate"
    )
    err_rows = errs.collect()
    assert len(err_rows) == 1
    assert err_rows[0]["url"] == "poison://1"
    assert err_rows[0]["error"].startswith("UnknownLanguageError:")
    # clean pages agree with the plain fused path
    plain = annotate_pages(pages.where("lang = 'en'")).collect()
    captured = ok.collect()
    assert len(captured) == len(plain) == 1
    assert captured[0].asDict() == plain[0].asDict()


def test_read_errors_dedups_at_least_once_appends(spark, tmp_path):
    """A crash between the errors append and the lineage commit re-appends
    the same rows on retry; read_errors() must hide that."""
    from kg.checkpoint import CheckpointedPipeline

    base = tmp_path / "pipe3"
    pipe = CheckpointedPipeline(spark, str(base), n_buckets=2)
    rows = [("u1", "ner", "Boom: x")]
    for _ in range(2):  # the double append
        spark.createDataFrame(rows, "url string, stage string, error string") \
            .coalesce(1).write.mode("append").parquet(str(base / "_errors"))
    assert pipe.read_errors().count() == 1


def test_stale_error_partition_from_crashed_attempt_is_not_phantom(
    spark, tmp_path
):
    """ADVICE r2: a crashed attempt's has_error=true partition survives a
    fully-clean retry (dynamic overwrite only replaces partitions present in
    the retry's output); its rows must NOT be appended as errors when the
    retry's clean output covers those urls."""
    from pyspark.sql import functions as F

    from kg.checkpoint import CheckpointedPipeline, add_bucket

    base = tmp_path / "pipe4"
    docs = spark.createDataFrame(
        [("u1", "Acme Corporation opened in London.", "xx"),
         ("u2", "Paris is in France.", "en")],
        "url string, text string, lang string",
    )
    bucketed = add_bucket(docs, 2)
    fn = lambda df: detect_ner_mentions(df, capture_errors=True).join(  # noqa: E731
        df.select("url", "url_hash_bucket"), "url"
    )
    # attempt 1: u1 has an unsupported lang -> error partition written.
    pipe1 = CheckpointedPipeline(spark, str(base), n_buckets=2)
    pipe1.run_stage("ner", bucketed, fn)
    assert pipe1.read_errors().count() == 1
    # simulate the crash window: stage partitions are on disk but neither the
    # errors append nor the lineage commit happened
    import shutil

    shutil.rmtree(base / "_errors")
    shutil.rmtree(base / "_lineage")
    shutil.rmtree(base / "_metrics")
    # retry: u1's lang is fixed, every row succeeds. The stale
    # has_error=true partition survives the dynamic overwrite.
    fixed = add_bucket(docs.withColumn("lang", F.lit("en")), 2)
    pipe2 = CheckpointedPipeline(spark, str(base), n_buckets=2)
    out = pipe2.run_stage("ner", fixed, fn)
    assert {r["url"] for r in out.select("url").distinct().collect()} == {
        "u1", "u2"
    }
    # no phantom error row for u1 (it has clean output in the retry)
    assert pipe2.read_errors().count() == 0


def test_in_stage_peak_mem_metrics(spark, tmp_path):
    """O23 in-stage: capture_metrics samples ru_maxrss inside the stage's
    own UDF batches; the pipeline max-aggregates it into metrics and keeps
    the stage table free of bookkeeping columns."""
    from kg.checkpoint import METRICS_SCHEMA, CheckpointedPipeline, add_bucket

    base = tmp_path / "pipe5"
    docs = spark.createDataFrame(
        [("u1", "Acme Corporation opened in London.", "en"),
         ("u2", "Paris is in France.", "en")],
        "url string, text string, lang string",
    )
    bucketed = add_bucket(docs, 2)
    pipe = CheckpointedPipeline(spark, str(base), n_buckets=2)
    out = pipe.run_stage(
        "ner", bucketed,
        lambda df: detect_ner_mentions(
            df, capture_errors=True, capture_metrics=True
        ).join(df.select("url", "url_hash_bucket"), "url"),
    )
    assert "peak_mb" not in out.columns and "error" not in out.columns
    metrics = spark.read.schema(METRICS_SCHEMA).parquet(
        str(base / "_metrics")
    ).collect()
    assert len(metrics) == 1
    # sourced from the stage's own workers: a real python process RSS
    assert metrics[0]["peak_mem_mb"] > 10.0
