"""Seeded crawl-segment corpus and its oracles.

The corpus is ``kg.synth.gen_pages(n, seed)`` written as many small parquet
files, the way a crawl segment arrives. The layout matters for what the
benchmark measures: Spark packs small files into read splits of about
``max(openCostInBytes, total_bytes / parallelism)``, and every file costs
``openCostInBytes`` (4 MB) in that sum. With ``FILES_PER_CORE`` files per
core the scan therefore yields about one split per core, so extraction runs
on every core. A single file of a few MB would be one split, and the whole
``docs`` extraction would run as one task.

The oracles (``expected_triples``, ``expected_mentions``) and the golden
``text`` column come from the same generator, independent of the pipeline.

Every build generates and writes the corpus anew, even when a directory
for the same (size, seed) is left from an earlier run: the benchmark's
set-up time includes generation, and it must not depend on what an earlier
run left behind.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FILES_PER_CORE = 4

PAGES_COLUMNS = ["url", "warc_ts", "html", "lang"]


def _write_pages(pdf: pd.DataFrame, dest: Path, n_files: int) -> None:
    """Write the program's input (golden ``text`` stays out of it) as
    ``n_files`` row slices of equal size."""
    table = pa.Table.from_pandas(pdf[PAGES_COLUMNS], preserve_index=False)
    step = -(-table.num_rows // n_files)
    dest.mkdir(parents=True)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), dest / f"part-{i:05d}.parquet"
        )


class Corpus:
    """Pages, golden text and oracles for one (size, seed); the pages are
    on disk under ``root/n{size}_s{seed}_f{files}``, the rest in memory."""

    def __init__(self, root: Path, n_pages: int, seed: int, n_files: int):
        self.dir = root / f"n{n_pages}_s{seed}_f{n_files}"
        self.pages_dir = self.dir / "pages"
        self.n_pages = n_pages
        self.seed = seed
        self.n_files = n_files

    def build(self) -> "Corpus":
        from kg import synth

        shutil.rmtree(self.dir, ignore_errors=True)
        pdf = synth.gen_pages(self.n_pages, seed=self.seed)
        _write_pages(pdf, self.pages_dir, self.n_files)
        self.golden = pdf[["url", "text"]].reset_index(drop=True)
        self.expected_triples = synth.expected_triples(pdf)
        self.expected_mentions = synth.expected_mentions(pdf)
        return self

    def remove(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
