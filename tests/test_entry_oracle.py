"""Replicates the driver's correctness gate locally: every queries()
entry vs its oracle_sql() in DuckDB — row count, schema (column names),
and order-insensitive value equality.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SDQF_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                row.append(("f", round(v, 9)))
            elif isinstance(v, (bool,)):
                row.append(("b", bool(v)))
            elif v is None or (isinstance(v, float) and math.isnan(v)):
                row.append(("n",))
            else:
                row.append(("o", str(v)))
        rows.append(tuple(row))
    return sorted(rows)


NAMES = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", NAMES)
def test_query_vs_oracle(spark, ddb, name):
    qfn = entry_mod.queries()[name]
    sdf = qfn(spark, SF_DIR).toPandas()
    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        assert len(sdf) >= 0  # rows-only check
        return
    odf = ddb.execute(sql).fetchdf()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        name, sorted(sdf.columns), sorted(odf.columns))
    assert len(sdf) == len(odf), (name, len(sdf), len(odf))
    a, b = _norm(sdf), _norm(odf)
    mismatch = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    assert not mismatch, (name, mismatch[:3],
                          [a[i] for i in mismatch[:2]],
                          [b[i] for i in mismatch[:2]])


def test_null_text_documents_vs_oracle(spark, tmp_path):
    """NULL text is one exact-dup group in the oracle (PARTITION BY
    md5(text)), apart from empty text: the keep-first queries must keep
    every NULL-text doc and flag all but the smallest id."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    texts = ["alpha beta gamma", None, "alpha beta gamma", None, ""]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(5), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": ["en"] * 5, "source": ["src0"] * 5,
        "n_chars": pa.array([len(t or "") for t in texts], pa.int64())}),
        str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path}/documents.parquet'")
    for name in ("dedup_exact_keep_first", "pipeline_verdict_documents"):
        sdf = entry_mod.queries()[name](spark, str(tmp_path)).toPandas()
        odf = con.execute(entry_mod.oracle_sql()[name]).fetchdf()
        assert len(odf) == 5, name
        assert _norm(sdf) == _norm(odf), (name, sdf, odf)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_id", "reasons_csv", "keep"}
