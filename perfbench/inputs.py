"""Seeded benchmark inputs and their expected outputs.

Inputs are built with the package's own fixture generator
(``fixtures.make_pages`` / ``write_pages_parquet``: 48 part files, 30
crawl days) and cached under the benchmark cache, so the generator and
the reference labeler (``tests/oracle.label_pages``) run once per seed
and never inside a timer. The program under test receives only the
parquet files.

Kinds:
  clean    the fixture for ``--seed`` (filter_batch)
  ingest   a fixed history (the fixture for HISTORY_SEED, whatever
           ``--seed`` is) plus one part file for the last crawl day,
           from seeds derived from ``--seed`` (``sub_seed``): fresh
           pages, and re-crawls of earlier long pages under a new URL
           with one of their own words appended, recorded as planted
           near-duplicate pairs (ingest_day). The
           history being fixed lets the warehouse built from its first
           29 days be cached too.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil
from collections import Counter
from dataclasses import dataclass

N_PAGES = 12000      # filter_batch input
N_HISTORY = 2000     # ingest_day history
N_FILES = 48
HISTORY_SEED = 0
N_FRESH = 160
N_RECRAWLS = 48
MIN_RECRAWL_WORDS = 100


@dataclass
class Inputs:
    dir: str
    pages_dir: str
    n_pages: int
    input_bytes: int
    new_day: str | None = None       # ingest: ISO date of the new day
    n_new_day: int = 0               # ingest: pages on that day
    history_dir: str | None = None   # ingest: the fixed history's pages
    # expected outputs, filled by load()
    kept: dict | None = None          # url -> (scrubbed text, lang_pred)
    rule_counts: dict | None = None   # rule id -> pages it dropped
    planted: list | None = None       # [original url, re-crawl url],
    #                                   both kept by the reference


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


def cached(path: str, build) -> str:
    """``build(tmp)`` once, then publish it at ``path`` by rename."""
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.rename(tmp, path)
    return path


def sub_seed(seed: int, use: str) -> int:
    """A seed for one use of ``--seed``, independent of the others and
    never equal to HISTORY_SEED (it is odd, HISTORY_SEED is 0), so no
    ``--seed`` makes the new day a copy of the history."""
    d = hashlib.sha256(f"{use}/{seed}".encode()).digest()
    return int.from_bytes(d[:8], "big") | 1


def _recrawls(pdf, rng: random.Random, new_day: dt.date):
    """Re-crawl rows for the new day: a long, cleanly extracted earlier
    page under a new URL, with one of its own words appended — a
    single-word edit that adds exactly one word 5-gram."""
    import pandas as pd

    from standard_data_quality_framework_spark.functions.textpure import (
        extract_text)

    days = pd.to_datetime(pdf["warc_ts"], utc=True).dt.date
    cand = [i for i in range(len(pdf))
            if days.iat[i] < new_day
            and len(pdf["text"].iat[i].split()) >= MIN_RECRAWL_WORDS
            and extract_text(pdf["html"].iat[i]) == pdf["text"].iat[i]]
    picks = sorted(rng.sample(cand, min(N_RECRAWLS, len(cand))))
    day0 = dt.datetime.combine(new_day, dt.time(), tzinfo=dt.timezone.utc)
    rows = []
    for i in picks:
        r = pdf.iloc[i]
        word = rng.choice(r.text.split())
        html = bytes(r.html)
        cut = html.rindex(b"</p>")
        rows.append((f"{r.url}?recrawl={new_day.isoformat()}",
                     day0 + dt.timedelta(seconds=rng.randrange(86400)),
                     html[:cut] + b" " + word.encode() + html[cut:],
                     f"{r.text} {word}", r.lang))
    return pd.DataFrame(rows, columns=list(pdf.columns)), [
        pdf["url"].iat[i] for i in picks]


def _new_day_pages(seed: int, history, new_day: dt.date):
    """Fresh pages for ``seed`` moved onto the new day (same-day
    mirrors stay same-day), then the re-crawls."""
    import pandas as pd

    from standard_data_quality_framework_spark.fixtures import make_pages

    fresh = make_pages(N_FRESH, sub_seed(seed, "fresh"))
    fresh["url"] = fresh["url"].str.replace("/page/", "/new/", regex=False)
    fresh["warc_ts"] = [ts.replace(year=new_day.year, month=new_day.month,
                                   day=new_day.day) for ts in fresh["warc_ts"]]
    recrawls, originals = _recrawls(
        history, random.Random(sub_seed(seed, "recrawl")), new_day)
    return (pd.concat([fresh, recrawls], ignore_index=True),
            list(zip(originals, recrawls["url"])))


def _write_pages(cache: str, kind: str, seed: int, out: str) -> dict:
    from standard_data_quality_framework_spark.fixtures import (
        make_pages, write_pages_parquet)

    pages_dir = os.path.join(out, "pages")
    if kind == "clean":
        write_pages_parquet(pages_dir, n=N_PAGES, seed=seed, n_files=N_FILES)
        return {"n_pages": N_PAGES}

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    hist_dir = cached(
        os.path.join(cache, "inputs", f"history-n{N_HISTORY}-s{HISTORY_SEED}"),
        lambda d: write_pages_parquet(os.path.join(d, "pages"), n=N_HISTORY,
                                      seed=HISTORY_SEED, n_files=N_FILES))
    history = make_pages(N_HISTORY, HISTORY_SEED)
    days = pd.to_datetime(history["warc_ts"], utc=True).dt.date
    new_day = max(days)
    extra, planted = _new_day_pages(seed, history, new_day)
    shutil.copytree(os.path.join(hist_dir, "pages"), pages_dir)
    schema = pq.read_schema(os.path.join(pages_dir, "part-0000.parquet"))
    pq.write_table(pa.Table.from_pandas(extra, schema=schema,
                                        preserve_index=False),
                   os.path.join(pages_dir, f"part-{N_FILES:04d}.parquet"))
    return {"n_pages": N_HISTORY + len(extra), "new_day": new_day.isoformat(),
            "n_new_day": int((days == new_day).sum()) + len(extra),
            "history_dir": os.path.join(hist_dir, "pages"),
            "planted": planted}


def build_expected(out: str) -> None:
    """Label the pages as written with the reference labeler; keep the
    kept rows, per-rule drop counts and the planted pairs whose two
    pages are both kept."""
    import pandas as pd
    import pyarrow.dataset as ds

    from tests.oracle import label_pages

    pages = ds.dataset(os.path.join(out, "pages")).to_table().to_pandas()
    gold = label_pages(pages)
    kept = gold[gold["keep"]]
    pd.DataFrame({"url": kept["url"], "text": kept["scrubbed_text"],
                  "lang": kept["lang_pred"]}).to_parquet(
        os.path.join(out, "expected_kept.parquet"), index=False)
    with open(os.path.join(out, "pages.json")) as f:
        meta = json.load(f)
    meta["rule_counts"] = dict(Counter(
        r for rs in gold["drop_reasons"] for r in rs))
    keep = set(kept["url"])
    meta["planted"] = [[a, b] for a, b in meta.get("planted", [])
                       if a in keep and b in keep]
    with open(os.path.join(out, "expected.json.tmp"), "w") as f:
        json.dump(meta, f)
    os.rename(os.path.join(out, "expected.json.tmp"),
              os.path.join(out, "expected.json"))


def prepare(cache: str, kind: str, seed: int) -> Inputs:
    """Write (or reuse) the cached pages of one kind and seed. The
    expected outputs come later, from ``start_labeler`` and ``load``."""
    def build(tmp: str) -> None:
        with open(os.path.join(tmp, "pages.json"), "w") as f:
            json.dump(_write_pages(cache, kind, seed, tmp), f)

    n = N_PAGES if kind == "clean" else N_HISTORY
    out = cached(os.path.join(cache, "inputs", f"{kind}-n{n}-s{seed}"), build)
    with open(os.path.join(out, "pages.json")) as f:
        meta = json.load(f)
    pages_dir = os.path.join(out, "pages")
    return Inputs(dir=out, pages_dir=pages_dir, n_pages=meta["n_pages"],
                  input_bytes=dir_bytes(pages_dir),
                  new_day=meta.get("new_day"),
                  n_new_day=meta.get("n_new_day", 0),
                  history_dir=meta.get("history_dir"))


def start_labeler(inp: Inputs):
    """Run the reference labeler in a child process (it needs no Spark,
    so it overlaps the untimed warm-up); None if its output is cached.
    The child finds the package through PYTHONPATH."""
    import subprocess
    import sys
    if os.path.exists(os.path.join(inp.dir, "expected.json")):
        return None
    return subprocess.Popen([sys.executable, os.path.abspath(__file__),
                             inp.dir])


def load(inp: Inputs, labeler) -> None:
    """Wait for the labeler, then load the expected outputs."""
    import pyarrow.parquet as pq
    if labeler is not None and labeler.wait() != 0:
        raise RuntimeError(f"reference labeler exited {labeler.returncode}")
    with open(os.path.join(inp.dir, "expected.json")) as f:
        meta = json.load(f)
    exp = pq.read_table(os.path.join(inp.dir, "expected_kept.parquet"))
    inp.kept = dict(zip(exp.column("url").to_pylist(),
                        zip(exp.column("text").to_pylist(),
                            exp.column("lang").to_pylist())))
    inp.rule_counts = meta["rule_counts"]
    inp.planted = meta["planted"]


if __name__ == "__main__":
    import sys
    build_expected(sys.argv[1])
