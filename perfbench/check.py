"""Correctness pass over one CLI output directory, run outside the timed
window. Reads the parquet outputs with pyarrow, so it needs no Spark job and
adds nothing to the Spark profile.

- triple / mention precision and recall: multiset of the ``triples`` /
  ``mentions`` rows against ``kg.synth`` oracles over the same corpus;
- byte identity: every corpus page has exactly one ``docs`` row whose
  ``text`` equals the golden text;
- ``_errors`` rows: any captured row error fails the run;
- every table the run's stages write must exist.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import pandas as pd
import pyarrow.dataset as ds

#: the north rule's quality gate (ROADMAP / PAPER)
MIN_PR = 0.95

#: CLI stage -> (layer, checkpointed, tables it writes), as run_pipeline.py
#: has them. A checkpointed stage commits per-bucket through ``run_stage``,
#: which writes its first table; the rest are derived from it.
STAGES = {
    "extract": ("extract", True, ("docs",)),
    "links": ("weblinks", True, (
        "links", "link_host_graph", "crawl_frontier", "url_templates",
    )),
    "mentions": ("mentions", True, ("mentions",)),
    "triples": ("triples", True, ("triples",)),
    "link": ("link", True, ("linked",)),
    "canon": ("canon", False, ("entities_canonical",)),
    "graph": ("graph", False, ("graph",)),
    "facts": ("facts", False, ("facts", "facts_inferred", "entity_types")),
    "analytics": ("analytics", False, (
        "analytics_pagerank", "analytics_degrees", "analytics_triangles",
    )),
}
CHECKPOINTED = tuple(s for s, (_, ckpt, _) in STAGES.items() if ckpt)
#: the checkpoint layer's commit log, written after every run_stage
COMMIT_TABLES = ("_lineage", "_metrics")


def output_tables(stages: tuple[str, ...]) -> tuple[str, ...]:
    """Every table a CLI run of ``stages`` writes, commit log included."""
    return tuple(t for s in stages for t in STAGES[s][2]) + COMMIT_TABLES


TRIPLE_KEY = ["url", "subj", "pred", "obj"]
MENTION_KEY = ["url", "matched_word", "entity_name", "detector"]


def read_table(out: Path, name: str) -> pd.DataFrame | None:
    """A CLI output table (hive-partitioned parquet dir), or None if the
    run did not write it."""
    path = Path(out) / name
    if not path.is_dir():
        return None
    return (
        ds.dataset(str(path), format="parquet", partitioning="hive")
        .to_table()
        .to_pandas()
    )


def _multiset(df: pd.DataFrame, cols: list[str]) -> Counter:
    return Counter(df[cols].itertuples(index=False, name=None))


def precision_recall(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]):
    g, w = _multiset(got, cols), _multiset(want, cols)
    hit = sum((g & w).values())
    n_got, n_want = sum(g.values()), sum(w.values())
    precision = hit / n_got if n_got else float(n_want == 0)
    recall = hit / n_want if n_want else 1.0
    return precision, recall


def extract_mismatches(docs: pd.DataFrame, golden: pd.DataFrame) -> int:
    """Corpus pages without exactly one docs row of byte-identical text."""
    got = docs.groupby("url")["text"].agg(list)
    bad = 0
    for url, text in zip(golden["url"], golden["text"]):
        texts = got.get(url)
        if texts is None or len(texts) != 1 or texts[0] != text:
            bad += 1
    return bad + int(len(got.index.difference(golden["url"])))


def check_output(
    out: Path,
    table_names: tuple[str, ...],
    golden: pd.DataFrame,
    expected_triples: pd.DataFrame,
    expected_mentions: pd.DataFrame,
) -> dict:
    tables = {name: read_table(out, name) for name in table_names}
    missing = sorted(n for n, t in tables.items() if t is None)
    res: dict = {"missing_tables": missing}
    empty_t = pd.DataFrame(columns=TRIPLE_KEY)
    empty_m = pd.DataFrame(columns=MENTION_KEY)
    res["triple_precision"], res["triple_recall"] = precision_recall(
        tables["triples"] if tables["triples"] is not None else empty_t,
        expected_triples, TRIPLE_KEY,
    )
    res["mention_precision"], res["mention_recall"] = precision_recall(
        tables["mentions"] if tables["mentions"] is not None else empty_m,
        expected_mentions, MENTION_KEY,
    )
    docs = tables["docs"]
    res["extract_mismatch_docs"] = (
        len(golden) if docs is None else extract_mismatches(docs, golden)
    )
    errors = read_table(out, "_errors")
    res["error_rows"] = 0 if errors is None else len(errors)
    metrics = tables["_metrics"]
    res["buckets_done"] = (
        0 if metrics is None else int(metrics["n_buckets_done"].sum())
    )
    return res


def passes(res: dict) -> bool:
    return (
        not res["missing_tables"]
        and min(
            res["triple_precision"], res["triple_recall"],
            res["mention_precision"], res["mention_recall"],
        ) >= MIN_PR
        and res["extract_mismatch_docs"] == 0
        and res["error_rows"] == 0
    )
