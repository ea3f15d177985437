"""The benchmark workloads: one operation each, driven through the
public functions behind ``spark_submit_main.py``, plus the output
checks every operation must pass."""

from __future__ import annotations

import hashlib
import os
import shutil
from collections import Counter

from inputs import Inputs, cached


def table(path: str, columns: list[str]):
    import pyarrow.dataset as ds
    return ds.dataset(path, format="parquet",
                      partitioning="hive").to_table(columns=columns)


class FilterBatch:
    """``runner.run`` over the whole input into an empty warehouse."""

    dedup = False

    def __init__(self, spark, inp: Inputs, work: str, cache: str):
        self.spark, self.inp, self.work, self.cache = spark, inp, work, cache
        self._n = 0

    @property
    def docs(self) -> int:
        """Pages one operation filters."""
        return self.inp.n_pages

    def prepare(self) -> None:
        """State the operation starts from, built outside every timer."""

    def warm_up(self) -> None:
        """One untimed, unchecked operation: in a fresh JVM the first
        costs about twice a warm one (codegen, JIT, Python workers)."""
        wh = self.fresh_warehouse()
        self.op(wh)
        shutil.rmtree(wh)

    def fresh_warehouse(self) -> str:
        self._n += 1
        wh = os.path.join(self.work, f"wh{self._n}")
        os.makedirs(wh)
        return wh

    def op(self, wh: str) -> None:
        from standard_data_quality_framework_spark.runner import run
        run(self.spark, self.spark.read.parquet(self.inp.pages_dir), wh)

    def check(self, wh: str) -> list[str]:
        """Kept rows (url, scrubbed text, predicted language) and
        per-rule drop counts must equal the reference labeler's."""
        inp, probs = self.inp, []
        t = table(os.path.join(wh, "pages_filtered"), ["url", "text", "lang"])
        urls = t.column("url").to_pylist()
        got = dict(zip(urls, zip(t.column("text").to_pylist(),
                                 t.column("lang").to_pylist())))
        if len(got) != len(urls):
            probs.append(f"{len(urls) - len(got)} duplicate kept urls")
        if got != inp.kept:
            both = got.keys() & inp.kept.keys()
            probs.append(
                f"kept rows differ: {len(inp.kept.keys() - both)} missing, "
                f"{len(got.keys() - both)} extra, "
                f"{sum(got[u] != inp.kept[u] for u in both)} with other "
                "text or language")
        d = table(os.path.join(wh, "dropped_by_rule"),
                  ["stage", "rule", "n_dropped"])
        counts: Counter = Counter()
        for stage, rule, n in zip(d.column("stage").to_pylist(),
                                  d.column("rule").to_pylist(),
                                  d.column("n_dropped").to_pylist()):
            if stage == "quality_filter":
                counts[rule] += n
        if dict(counts) != inp.rule_counts:
            probs.append(f"per-rule drop counts {dict(counts)} != "
                         f"expected {inp.rule_counts}")
        return probs


class IngestDay(FilterBatch):
    """The daily continuous-ingest path: a warehouse holding days
    1..N-1 (filtered and globally deduped) receives day N —
    ``runner.run`` over every day (resume finds one pending day), then
    the incremental ``run_global_dedup``."""

    dedup = True

    @property
    def docs(self) -> int:
        return self.inp.n_new_day

    def prepare(self) -> None:
        """The starting warehouse — days 1..N-1 of the fixed history,
        filtered and deduped by the program itself — cached per program
        version."""
        hist = os.path.basename(os.path.dirname(self.inp.history_dir))
        self.pristine = cached(
            os.path.join(self.cache, f"pristine-{_code_version()}-{hist}"),
            self._build_pristine)

    def _build_pristine(self, wh: str) -> None:
        from pyspark.sql import functions as F

        from standard_data_quality_framework_spark.runner import (
            run, run_global_dedup)
        pages = self.spark.read.parquet(self.inp.history_dir)
        before = F.to_date("warc_ts") < F.lit(self.inp.new_day).cast("date")
        run(self.spark, pages.filter(before), wh)
        run_global_dedup(self.spark, wh, incremental=True)

    def fresh_warehouse(self) -> str:
        wh = super().fresh_warehouse()
        os.rmdir(wh)
        shutil.copytree(self.pristine, wh)
        return wh

    def op(self, wh: str) -> None:
        from standard_data_quality_framework_spark.runner import (
            run_global_dedup)
        super().op(wh)
        self.last_summary = run_global_dedup(self.spark, wh,
                                             incremental=True)

    def missed(self, wh: str) -> int:
        """Planted re-crawls that ``dup_clusters`` does not put in their
        original's cluster."""
        c = table(os.path.join(wh, "dup_clusters"), ["url", "cluster_id"])
        cid = dict(zip(c.column("url").to_pylist(),
                       c.column("cluster_id").to_pylist()))
        return sum(cid.get(a) is None or cid.get(a) != cid.get(b)
                   for a, b in self.inp.planted)

    def check(self, wh: str) -> list[str]:
        """Also: every planted re-crawl shares its original's cluster."""
        probs = super().check(wh)
        missed = self.missed(wh)
        if missed:
            probs.append(f"{missed} of {len(self.inp.planted)} planted "
                         "re-crawls not clustered with their original")
        return probs


def _code_version() -> str:
    """Digest of the package's sources: a cached warehouse is reused
    only by the program version that wrote it."""
    import standard_data_quality_framework_spark as pkg
    h = hashlib.sha256()
    root = os.path.dirname(pkg.__file__)
    for path in sorted(os.path.join(r, f) for r, _d, fs in os.walk(root)
                       for f in fs if f.endswith(".py")):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


WORKLOADS = {
    "filter_batch": ("clean", FilterBatch),
    "ingest_day": ("ingest", IngestDay),
}
