"""standard_data_quality_framework_spark — a from-scratch PySpark-native
web-scale quality filter.

Recasts the per-record quantitative quality checks of the reference
(Metamind-Innovations/Standard_Data_Quality_Framework, a single-process
pandas/Streamlit app — see /root/reference) as a distributed keep/drop +
scrub pipeline over Common-Crawl-style pages:

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Architecture is Spark-first: declarative DataFrame plans, native column
expressions for every heuristic signal, ONE fused pandas/Arrow UDF for
the work that genuinely needs Python (HTML text extraction, char-n-gram
language ID, n-gram perplexity, repetition signals, regex scrub),
broadcast model artifacts, AQE + explicit partitioning for scale.
"""

__version__ = "0.1.0"
