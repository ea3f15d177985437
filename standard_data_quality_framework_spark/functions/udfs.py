"""The fused pandas/Arrow UDF — the ONLY Python that runs on executors.

One Python stage exists in the whole pipeline (everything else is
native Catalyst expressions): ``process_page(payload, is_html)`` does
HTML text extraction, langid, perplexity, repetition signals and the
PII scrub in ONE Arrow round trip per batch. Extracted and scrubbed
text are byte-identical to the reference labeler by construction: both
call the kernels in ``textpure``.

Model artifacts (langid log-prob matrix ~1 MB, bigram LM ~1 MB) are
broadcast once per session and lazily referenced inside the UDF closure
— the classic broadcast-variable pattern, no per-task re-pickling.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..models.langid import train_langid
from ..models.perplexity import train_perplexity
from .textpure import extract_text, repetition_signals, scrub

_PROCESS_SCHEMA = T.StructType([
    T.StructField("etext", T.StringType()),
    T.StructField("lang_pred", T.StringType()),
    T.StructField("lang_conf", T.DoubleType()),
    T.StructField("perplexity", T.DoubleType()),
    T.StructField("dup_line_frac", T.DoubleType()),
    T.StructField("top2gram_frac", T.DoubleType()),
    T.StructField("dup5gram_frac", T.DoubleType()),
    T.StructField("scrubbed_text", T.StringType()),
    T.StructField("scrub_edits", T.IntegerType()),
])


def make_udfs(spark: SparkSession) -> dict:
    """Build the fused ``process_page`` UDF with models broadcast to
    executors. Returned as a dict keyed by UDF name."""
    sc = spark.sparkContext
    b_lid = sc.broadcast(train_langid())
    b_ppl = sc.broadcast(train_perplexity())

    @F.pandas_udf(_PROCESS_SCHEMA)
    def process_page_udf(payload: pd.Series,
                         is_html: pd.Series) -> pd.DataFrame:
        """ALL Python work in ONE Arrow round trip.

        Chaining separate extract/model/scrub UDFs creates one Python
        eval node — and one concurrent python worker — per UDF per
        task: measured 64-96 workers at local[32], 88% kernel time in
        socket/fork churn, and 2.4× WORSE throughput than local[8].
        A single eval node keeps workers == tasks, and the caller
        coalesces (html, text) into ONE binary payload column so each
        doc crosses the JVM↔Python boundary exactly once.

        Return-volume contract (the Python→JVM Arrow stream is the
        other half of the ser/de bill): ``etext`` is returned ONLY for
        html rows — for text rows it byte-equals the input text, so
        the caller coalesces it back natively. ``scrubbed_text`` is
        returned ONLY when the scrubber edited something (most docs
        have no PII hits) — the caller coalesces null → etext. Both
        halvings are exact, not approximations.
        """
        lid = b_lid.value
        lm = b_ppl.value
        cols: dict[str, list] = {k.name: [] for k in _PROCESS_SCHEMA}
        for p, h in zip(payload, is_html):
            if p is None:
                et = ""
            elif h:
                et = extract_text(p)
            else:
                et = bytes(p).decode("utf-8", errors="replace")
            lang, conf = lid.predict_one(et)
            a, b, c = repetition_signals(et)
            sc, ed = scrub(et)
            cols["etext"].append(et if h else None)
            cols["lang_pred"].append(lang)
            cols["lang_conf"].append(conf)
            cols["perplexity"].append(lm.perplexity(et))
            cols["dup_line_frac"].append(a)
            cols["top2gram_frac"].append(b)
            cols["dup5gram_frac"].append(c)
            cols["scrubbed_text"].append(sc if ed > 0 else None)
            cols["scrub_edits"].append(ed)
        out = pd.DataFrame(cols)
        out["scrub_edits"] = out["scrub_edits"].astype("int32")
        return out

    return {"process_page": process_page_udf}
