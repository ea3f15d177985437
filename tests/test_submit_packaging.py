"""End-to-end evidence for the spark-submit --py-files pillar:
the zip build, import-from-zip (what --py-files actually does on an
executor), and the cluster entry point driven as a real subprocess
(its own JVM, like spark-submit client mode)."""

from __future__ import annotations

import json
import os

import duckdb
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pyfiles_zip_builds_and_imports_standalone():
    from make_pyfiles import build
    path = build()
    with zipfile.ZipFile(path) as z:
        names = z.namelist()
    pkg = "standard_data_quality_framework_spark"
    assert f"{pkg}/__init__.py" in names
    assert f"{pkg}/pipeline.py" in names
    assert f"{pkg}/operators/dedup.py" in names
    assert not any("__pycache__" in n for n in names)
    # import the package FROM THE ZIP in a clean interpreter — the
    # exact mechanism --py-files relies on (zipimport on sys.path)
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        f"import {pkg}.pipeline as p; "
        f"import {pkg}.operators.sampling as s; "
        "print('zip-import-ok', p.__file__.split('.zip')[0][-1:] "
        "if '.zip' in p.__file__ else 'NOT-FROM-ZIP')"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", probe, path], env=env, cwd="/",
        capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "zip-import-ok" in out.stdout
    assert "NOT-FROM-ZIP" not in out.stdout


def test_spark_submit_main_local_smoke():
    # the documented local-smoke invocation, as its own process/JVM
    from standard_data_quality_framework_spark.fixtures import (
        write_pages_parquet)
    tmp = tempfile.mkdtemp()
    pages = os.path.join(tmp, "pages.parquet")
    wh = os.path.join(tmp, "wh")
    write_pages_parquet(pages, n=300, seed=7)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "spark_submit_main.py"),
         "--input", pages, "--warehouse", wh, "--cores", "4",
         "--run-id", "smoke1"],
        cwd=REPO, capture_output=True, text=True, timeout=420)
    assert out.returncode == 0, out.stderr[-2000:]
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    assert summary.get("rows_in") == 300, summary
    obs = summary["observed"]
    assert obs["docs_scanned"] == 300, summary
    assert 0 < obs["docs_kept"] < 300, summary
    assert summary.get("rows_kept") == obs["docs_kept"], summary
    # warehouse artifacts exist and are readable parquet
    n = duckdb.sql(
        f"select count(*) from '{wh}/pages_filtered/**/*.parquet'"
    ).fetchone()[0]
    assert n == obs["docs_kept"]


def test_spark_submit_main_global_dedup_and_streaming_modes():
    """The other two CLI modes, each as its own process/JVM: batch →
    --global-dedup chained on the same warehouse, and --streaming
    (trigger-once) over the same input directory into its own table,
    after which the batch tables still read: a second --global-dedup
    resumes."""
    from standard_data_quality_framework_spark.fixtures import (
        write_pages_parquet)
    tmp = tempfile.mkdtemp()
    pages = os.path.join(tmp, "pages.parquet")
    wh = os.path.join(tmp, "wh")
    write_pages_parquet(pages, n=250, seed=11, dup_frac=0.2, n_files=2)

    def cli(*extra):
        return subprocess.run(
            [sys.executable, os.path.join(REPO, "spark_submit_main.py"),
             "--input", pages, "--warehouse", wh, "--cores", "4",
             *extra],
            cwd=REPO, capture_output=True, text=True, timeout=420)

    out = cli("--run-id", "d0")
    assert out.returncode == 0, out.stderr[-2000:]

    ded = cli("--global-dedup", "--run-id", "d1")
    assert ded.returncode == 0, ded.stderr[-2000:]
    summary = json.loads(ded.stdout.strip().splitlines()[-1])
    assert summary.get("mode") == "full", summary
    assert summary.get("lsh_docs", 0) > 0, summary
    # the planted dup_frac copies are SAME-DAY exact dups, so the
    # pipeline's per-day exact dedup drops them before the warehouse
    # and cross-day clustering correctly finds nothing — the smoke
    # asserts the mode runs end-to-end and reports consistently
    assert summary["dup_rows"] == 0, summary
    assert summary["clusters"] == summary["lsh_docs"], summary

    st = cli("--streaming")
    assert st.returncode == 0, st.stderr[-2000:]
    line = json.loads(st.stdout.strip().splitlines()[-1])
    assert line == {"mode": "streaming", "status": "done"}
    k = duckdb.sql(
        f"select count(*) from '{wh}/pages_filtered_stream/**/*.parquet'"
    ).fetchone()[0]
    assert k > 0

    again = cli("--global-dedup", "--run-id", "d2")
    assert again.returncode == 0, again.stderr[-2000:]
    assert json.loads(again.stdout.strip().splitlines()[-1])["resumed"]
