"""Generic dataset-level quality checks — the reference's seven check
families as reusable single-pass aggregations over ANY DataFrame.

Each mirrors a reference formula exactly (citations per function) and
returns a small DataFrame with stable column names so an ANSI-SQL
oracle can replay it. All are one groupBy/agg — partial aggregation
map-side, no skew (global aggregates), no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rating import bucket_rating


def _flag(c) -> F.Column:
    return F.when(c, 1).otherwise(0)


def completeness(df: DataFrame, cols: list[str],
                 empty_string_is_missing: bool = True) -> DataFrame:
    """Non-missing cells / total cells + per-column missing counts.

    Reference: quality_checks.py:215-242 (NaN as missing), with the
    empty-string sentinel of uc3_timeseries_quality_checks.py:824-830.
    Output: one row (score, n_rows, missing_<col>...).
    """
    def missing(c: str):
        m = F.col(c).isNull()
        if empty_string_is_missing:
            m = m | (F.col(c).cast("string") == "")
        return m

    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(_flag(missing(c))).alias(f"missing_{c}"))
    row = df.agg(*aggs)
    total_missing = sum(F.col(f"missing_{c}") for c in cols)
    return row.select(
        F.round(F.lit(1.0) - total_missing
                / (F.col("n_rows") * len(cols)), 6).alias("score"),
        "n_rows",
        *[F.col(f"missing_{c}") for c in cols],
    )


def accuracy_ranges(df: DataFrame, ranges: dict[str, tuple[float, float]],
                    allowed: dict[str, list] | None = None) -> DataFrame:
    """Values-within-expected-range ratio, POOLED across columns.

    Reference: quality_checks.py:77-133 — overall score =
    values_within_range / total_values_checked summed over ALL
    configured columns (not a mean of per-column ratios: columns with
    more non-null values weigh more, exactly as the reference pools
    its counters). total_values_checked == 0 → 1.0 (reference's "no
    numeric values" branch). Per-column accuracies ride along as
    detail columns, null when the column has no non-null values.
    Output: one row (score, acc_<col>...).
    """
    allowed = allowed or {}
    aggs = []
    names = []
    specs = [(c, F.col(c).between(lo, hi)) for c, (lo, hi) in ranges.items()]
    specs += [(c, F.col(c).isin(vals)) for c, vals in allowed.items()]
    for c, ok_cond in specs:
        aggs.append(F.sum(_flag(F.col(c).isNotNull())).alias(f"_nn_{c}"))
        aggs.append(F.sum(_flag(ok_cond)).alias(f"_ok_{c}"))
        names.append(c)
    row = df.agg(*aggs)
    total_nn = sum(F.col(f"_nn_{c}") for c in names)
    total_ok = sum(F.col(f"_ok_{c}") for c in names)
    return row.select(
        F.when(total_nn == 0, F.lit(1.0))
        .otherwise(F.round(total_ok / total_nn, 6)).alias("score"),
        *[F.when(F.col(f"_nn_{c}") > 0,
                 F.round(F.col(f"_ok_{c}") / F.col(f"_nn_{c}"), 6))
          .alias(f"acc_{c}") for c in names])


def coherence_types(df: DataFrame, numeric_cols: list[str],
                    categorical_cols: list[str],
                    max_unique: int = 50) -> DataFrame:
    """Type-consistency ratio: numeric ⇒ every non-null value castable
    to double; categorical ⇒ distinct count ≤ max_unique.

    Reference: quality_checks.py:136-188 (nunique ≤ 50; UC4 uses ≤ 20
    — pass max_unique=20 for that profile). Output: one row
    (score, n_consistent, n_checked).
    """
    aggs = []
    for c in numeric_cols:
        bad = F.sum(_flag(F.col(c).cast("string").isNotNull()
                          & F.col(c).cast("double").isNull()))
        aggs.append(_flag(bad == 0).alias(f"ok_{c}"))
    for c in categorical_cols:
        aggs.append(_flag(F.count_distinct(F.col(c)) <= max_unique)
                    .alias(f"ok_{c}"))
    row = df.agg(*aggs)
    names = [f"ok_{c}" for c in numeric_cols + categorical_cols]
    n_ok = sum(F.col(n) for n in names)
    return row.select(
        F.round(n_ok / F.lit(len(names)), 6).alias("score"),
        n_ok.cast("int").alias("n_consistent"),
        F.lit(len(names)).alias("n_checked"))


def representativity_maxdev(df: DataFrame, col: str) -> DataFrame:
    """A2: score = 1 − max_c |p_c − 1/k| / (1 − 1/k), clamped to [0,1];
    k ≤ 1 → 0.0 (the reference's "need at least 2 classes" branch,
    quality_checks.py:25-29 — a single-class column is maximally
    unrepresentative, not perfect).

    Reference: quality_checks.py:31-43. Output: one row (score, k).
    """
    counts = df.filter(F.col(col).isNotNull()) \
               .groupBy(col).agg(F.count("*").alias("n"))
    dev = (counts.crossJoin(
        counts.agg(F.count("*").alias("k"),
                   F.sum("n").alias("total")))
        .agg(F.max(F.abs(F.col("n") / F.col("total") - 1.0 / F.col("k")))
             .alias("max_dev"),
             F.first("k").alias("k")))
    return dev.select(
        F.when(F.col("k") <= 1, F.lit(0.0)).otherwise(
            F.round(F.greatest(
                F.lit(0.0),
                F.least(F.lit(1.0),
                        F.lit(1.0) - F.col("max_dev")
                        / (1.0 - 1.0 / F.col("k")))), 6)).alias("score"),
        F.col("k").cast("int").alias("k"))


def representativity_totaldev(df: DataFrame, col: str) -> DataFrame:
    """A3: score = 1 − Σ_c |p_c − 1/k| / (2(1 − 1/k)); k ≤ 1 → 0.0
    (single-class branch, quality_checks.py:25-29 — see A2).

    Reference: uc4_tabular_quality_checks.py:34-42 (duplicated at
    uc1:337-347). Output: one row (score, k).
    """
    counts = df.filter(F.col(col).isNotNull()) \
               .groupBy(col).agg(F.count("*").alias("n"))
    dev = (counts.crossJoin(
        counts.agg(F.count("*").alias("k"), F.sum("n").alias("total")))
        .agg(F.sum(F.abs(F.col("n") / F.col("total") - 1.0 / F.col("k")))
             .alias("total_dev"),
             F.first("k").alias("k")))
    return dev.select(
        F.when(F.col("k") <= 1, F.lit(0.0)).otherwise(
            F.round(F.greatest(
                F.lit(0.0),
                F.least(F.lit(1.0),
                        F.lit(1.0) - F.col("total_dev")
                        / (2.0 * (1.0 - 1.0 / F.col("k"))))), 6))
        .alias("score"),
        F.col("k").cast("int").alias("k"))


def bucketed_balance(df: DataFrame, col: str,
                     bins: list[float], labels: list[str]) -> DataFrame:
    """A4: bucket a numeric column (closed-right bins, include-lowest,
    pd.cut semantics — uc4:145-150), drop empty bins, score via A3.
    Output: one row (score, k)."""
    c = F.col(col).cast("double")
    b = F.lit(None).cast("string")
    for i in range(len(bins) - 1, 0, -1):
        lo, hi = bins[i - 1], bins[i]
        cond = (c <= hi) & ((c > lo) if i > 1 else (c >= lo))
        b = F.when(cond, F.lit(labels[i - 1])).otherwise(b)
    bucketed = df.select(b.alias("bucket")).filter(F.col("bucket").isNotNull())
    return representativity_totaldev(bucketed, "bucket")


def duplicate_rows(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """A10 relational consistency: unique rows / total rows.

    Reference: quality_checks.py:245-275. Output: one row
    (score, n_rows, n_unique, n_dup_rows)."""
    cols = cols or df.columns
    key = F.struct(*[F.col(c) for c in cols])
    agg = df.agg(F.count("*").alias("n_rows"),
                 F.count_distinct(key).alias("n_unique"))
    return agg.select(
        F.round(F.col("n_unique") / F.col("n_rows"), 6).alias("score"),
        "n_rows", "n_unique",
        (F.col("n_rows") - F.col("n_unique")).alias("n_dup_rows"))


def metadata_granularity(df: DataFrame, meta_cols: list[str],
                         min_present: int | None = None) -> DataFrame:
    """A16 (UC3 profile): rows with ≥ min_present of the metadata
    columns populated / rows (uc3:314-370; default = all columns,
    the graft's (url, warc_ts, lang) completeness). Output: one row
    (score, n_rows)."""
    min_present = min_present if min_present is not None else len(meta_cols)
    present = sum(
        _flag(F.col(c).isNotNull() & (F.col(c).cast("string") != ""))
        for c in meta_cols)
    agg = df.agg(
        F.count("*").alias("n_rows"),
        F.sum(_flag(present >= min_present)).alias("n_ok"))
    return agg.select(
        F.round(F.col("n_ok") / F.col("n_rows"), 6).alias("score"),
        "n_rows")


def with_rating(scored: DataFrame, score_col: str = "score") -> DataFrame:
    """Attach the reference bucket rating (rating.py:4-27)."""
    return scored.withColumn("rating", bucket_rating(score_col))


def subgroup_diversity(df: DataFrame, group_col: str,
                       status_col: str) -> DataFrame:
    """A6 (UC3): a group "passes" iff it contains EVERY observed status
    value; score = passing groups / total groups.

    Reference: uc3_timeseries_quality_checks.py:4-122 (age/gender
    subgroup diversity). Output: one row (score, n_groups, n_passing).
    """
    total_statuses = df.select(
        F.count_distinct(F.col(status_col)).alias("k_all"))
    per_group = (df.groupBy(group_col)
                 .agg(F.count_distinct(F.col(status_col)).alias("k_g")))
    joined = per_group.crossJoin(total_statuses)
    agg = joined.agg(
        F.count("*").alias("n_groups"),
        F.count(F.when(F.col("k_g") == F.col("k_all"), 1))
        .alias("n_passing"))
    return agg.select(
        F.round(F.col("n_passing") / F.col("n_groups"), 6).alias("score"),
        "n_groups", "n_passing")


def grouped_ratio_mean(df: DataFrame, group_col: str, flag) -> DataFrame:
    """A13 (UC1): per-group ratio of flagged rows, then the MEAN of the
    per-group ratios (≠ the global ratio when groups are unbalanced).

    Reference: uc1_image_quality_checks.py:428-501 (per-patient
    missing-pixel ratio averaged over patients; the global variant
    A14, uc1:662-726, is the plain agg). Output: one row
    (mean_group_ratio, global_ratio, n_groups)."""
    per = (df.groupBy(group_col)
           .agg((F.count(F.when(flag, 1)) / F.count("*")).alias("ratio"),
                F.count(F.when(flag, 1)).alias("n_flag"),
                F.count("*").alias("n")))
    return per.agg(
        F.round(F.avg("ratio"), 6).alias("mean_group_ratio"),
        F.round(F.sum("n_flag") / F.sum("n"), 6).alias("global_ratio"),
        F.count("*").alias("n_groups"))


def modal_consistency(df: DataFrame, value_col: str) -> DataFrame:
    """A15 (UC1 channel consistency): find the modal value of value_col,
    score = rows holding the modal value / rows.

    Reference: uc1_image_quality_checks.py:504-586 (mode at 556-563).
    Output: one row (score, modal_value, n_rows). Ties break on the
    smaller value for determinism."""
    counts = (df.groupBy(F.col(value_col).alias("modal_value"))
              .agg(F.count("*").alias("n")))
    totals = counts.agg(F.sum("n").alias("n_rows"))
    mode = (counts.orderBy(F.desc("n"), F.asc("modal_value")).limit(1))
    return (mode.crossJoin(totals)
            .select(F.round(F.col("n") / F.col("n_rows"), 6).alias("score"),
                    "modal_value",
                    F.col("n_rows").cast("long").alias("n_rows")))


def identical_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """A18: detect pairs of columns with identical value vectors in
    O(k) via order-insensitive fingerprints (sum of 60-bit hashes of
    the values + count) instead of the reference's O(k²) pairwise
    comparison (uc3_timeseries_quality_checks.py:696-699, 741-744).

    Output: (col_a, col_b) pairs whose fingerprints match.
    NOTE: the fingerprint is multiset-based (order-insensitive); for
    positional equality add a row-index salt upstream."""
    from ..functions.hashing import MERSENNE31, hash60
    aggs = []
    for c in cols:
        # mod the 60-bit hash by a prime before summing so the sum
        # stays within int64 for up to ~2^32 rows (cross-engine exact)
        aggs.append(F.sum(F.pmod(hash60(F.col(c).cast("string")),
                                 F.lit(MERSENNE31))).alias(f"fp_{c}"))
        aggs.append(F.count(F.col(c)).alias(f"n_{c}"))
    return _fingerprint_pairs(df.agg(*aggs), cols)


def _fingerprint_pairs(row: DataFrame, cols: list[str]) -> DataFrame:
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            pairs.append(row.select(
                F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                ((F.col(f"fp_{a}") == F.col(f"fp_{b}"))
                 & (F.col(f"n_{a}") == F.col(f"n_{b}"))).alias("identical")))
    out = pairs[0]
    for p in pairs[1:]:
        out = out.unionByName(p)
    return out.filter(F.col("identical")).select("col_a", "col_b")


def identical_columns_positional(df: DataFrame, cols: list[str],
                                 key_col: str) -> DataFrame:
    """A18, POSITIONAL variant: columns are identical iff they hold the
    same value on every row, rows identified by the unique ``key_col``
    (the reference compares aligned series element-wise —
    uc3_timeseries_quality_checks.py:696-699).

    Instead of a global row_number (a single-partition sort at scale),
    each value is hashed JOINTLY with its row key: sums of
    hash(key ‖ value) match iff the (key → value) mappings match —
    order-insensitive aggregation, position-exact semantics, still one
    O(k) pass with no shuffle beyond the final agg."""
    from ..functions.hashing import MERSENNE31, hash60
    aggs = []
    for c in cols:
        salted = F.concat_ws("␟", F.col(key_col).cast("string"),
                             F.col(c).cast("string"))
        aggs.append(F.sum(F.when(F.col(c).isNotNull(),
                                 F.pmod(hash60(salted), F.lit(MERSENNE31))))
                    .alias(f"fp_{c}"))
        aggs.append(F.count(F.col(c)).alias(f"n_{c}"))
    return _fingerprint_pairs(df.agg(*aggs), cols)


def expected_columns_presence(df: DataFrame,
                              expected: list[str]) -> DataFrame:
    """Schema-presence check: expected columns found / expected.

    Reference: config/use_case_config.py:7-18 expected_columns — the
    per-use-case schema contract, scored instead of silently guarded.
    Resolved at plan time from the DataFrame schema (no data pass).
    Output: one row (score, n_expected, n_present, missing_cols).
    """
    have = set(df.columns)
    present = [c for c in expected if c in have]
    missing = [c for c in expected if c not in have]
    return df.sparkSession.range(1).select(
        F.round(F.lit(len(present) / len(expected)), 6).alias("score"),
        F.lit(len(expected)).alias("n_expected"),
        F.lit(len(present)).alias("n_present"),
        F.lit(",".join(missing)).alias("missing_cols"))


def calibration_curve(df: DataFrame, score_col: str, label_col: str,
                      n_bins: int = 10) -> DataFrame:
    """Reliability diagram for a quality classifier: bin predicted
    scores into ``n_bins`` equal-width bins over [0, 1] and compare
    mean predicted score (confidence) with the observed positive rate
    (accuracy) per bin — the standard check before a model score is
    trusted to gate keep/drop decisions (a miscalibrated filter
    silently shifts the corpus mix when the threshold moves).

    Extends the reference's accuracy/validity ratio family
    (quality_checks.py:45-76 — observed-vs-expected per rule) to the
    model-score axis.  Output: one row per non-empty bin — (bin,
    bin_lo, n, mean_score, frac_pos, abs_gap), all doubles rounded to
    6 decimals.

    Scale shape: one projection + one groupBy on ≤ ``n_bins`` keys —
    fully map-side-combined, no skew (every reducer key holds one
    small aggregate), nothing driver-side.
    """
    s = F.col(score_col).cast("double")
    bin_ = F.least(F.floor(s * n_bins), F.lit(n_bins - 1)).cast("long")
    lab = F.col(label_col).cast("int")
    return (df.select(bin_.alias("bin"), s.alias("_s"), lab.alias("_y"))
            .groupBy("bin")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("_s"), 6).alias("mean_score"),
                 F.round(F.avg("_y"), 6).alias("frac_pos"))
            .select("bin",
                    F.round(F.col("bin") / n_bins, 6).alias("bin_lo"),
                    "n", "mean_score", "frac_pos",
                    F.round(F.abs(F.col("mean_score")
                                  - F.col("frac_pos")), 6)
                    .alias("abs_gap")))


def calibration_report(df: DataFrame, score_col: str, label_col: str,
                       n_bins: int = 10) -> DataFrame:
    """``calibration_curve`` plus the corpus-level expected
    calibration error stitched onto every bin row: ``ece`` =
    Σ_b (n_b / N) · |frac_pos_b − mean_score_b| — the single number
    corpus cards quote.  Computed from the per-bin ROUNDED values so
    the figure is engine-stable, attached by broadcasting the 1-row
    total (the ``host_concentration`` stitch shape — no second scan
    of the data: the curve frame is ≤ ``n_bins`` rows).
    """
    curve = calibration_curve(df, score_col, label_col, n_bins)
    # integer micro-units: Σ n_b·gap_µ is an exact long in both
    # engines (a float Σ n·gap could straddle a round(…,6) boundary
    # by an ulp depending on summation order)
    gap_micro = F.round(F.col("abs_gap") * 1e6).cast("long")
    ece = curve.agg(
        F.round(F.sum(F.col("n") * gap_micro)
                / (F.sum("n") * F.lit(1e6)), 6).alias("ece"))
    return curve.crossJoin(F.broadcast(ece))


def pr_curve(df: DataFrame, score_col: str, label_col: str,
             n_bins: int = 10) -> DataFrame:
    """Threshold sweep for a keep/drop classifier: one row per
    candidate threshold (every bin lower edge), with the confusion
    counts and precision/recall/F1 the corpus would see if the filter
    kept docs scoring ≥ that threshold — the table a curator reads to
    pick the operating point (``calibration_curve`` says whether the
    scores are honest; this says what each cutoff costs).

    All ratios are computed from the INTEGER tp/fp/fn counts in one
    division each (engine-stable: both engines divide the same two
    longs), F1 as 2·tp/(2·tp+fp+fn) — never from pre-rounded
    precision/recall.

    Scale shape: one groupBy onto ≤ ``n_bins`` keys (map-side
    combined), then cumulative windows over the ≤ ``n_bins``-row bin
    frame — the single-partition window touches bin COUNTS, never
    rows, so the pass over the corpus is exactly one partial
    aggregation.
    """
    s = F.col(score_col).cast("double")
    bin_ = F.least(F.floor(s * n_bins), F.lit(n_bins - 1)).cast("long")
    y = F.col(label_col).cast("int")
    per_bin = (df.select(bin_.alias("bin"), y.alias("_y"))
               .groupBy("bin")
               .agg(F.count("*").alias("_n"),
                    F.sum("_y").cast("long").alias("_pos")))
    w_ge = (Window.orderBy(F.desc("bin"))
            .rowsBetween(Window.unboundedPreceding, 0))
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    c = per_bin.select(
        "bin",
        F.sum("_pos").over(w_ge).alias("tp"),
        (F.sum("_n").over(w_ge) - F.sum("_pos").over(w_ge)).alias("fp"),
        (F.sum("_pos").over(w_all) - F.sum("_pos").over(w_ge))
        .alias("fn"))
    return c.select(
        F.round(F.col("bin") / n_bins, 6).alias("threshold"),
        "tp", "fp", "fn",
        F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 6)
        .alias("precision"),
        F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6)
        .alias("recall"),
        F.round(2 * F.col("tp")
                / (2 * F.col("tp") + F.col("fp") + F.col("fn")), 6)
        .alias("f1"))


def score_drift_psi(df_a: DataFrame, df_b: DataFrame, score_col: str,
                    n_bins: int = 10,
                    min_share: float = 1e-6) -> DataFrame:
    """Population stability index between two snapshots of a score
    distribution — the standard drift alarm for a quality classifier
    between crawl snapshots (PSI < 0.1 stable, 0.1–0.25 drifting,
    > 0.25 the model or the corpus changed; credit-scoring heritage,
    same formula corpus cards use).  Per-bin rows (bin, bin_lo,
    share_a, share_b, psi_term) with the total ``psi`` stitched onto
    every row via a broadcast of the ≤ ``n_bins``-row aggregate (the
    ``calibration_report`` shape).

    psi_term = (a − b)·ln(a/b) over shares clamped to ``min_share``
    (the standard zero-bin guard); shares and terms are rounded to 6
    decimals, the total is summed from the ROUNDED terms so both
    engines report the same figure.

    Scale shape: one map-side-combined groupBy onto ≤ ``n_bins`` keys
    per snapshot, a broadcast join of two tiny bin frames, zero
    corpus-scale shuffles.
    """
    def bins(df: DataFrame, share_name: str) -> DataFrame:
        s = F.col(score_col).cast("double")
        b = F.least(F.floor(s * n_bins), F.lit(n_bins - 1)).cast("long")
        per = (df.select(b.alias("bin")).groupBy("bin")
               .agg(F.count("*").alias("_n")))
        tot = per.agg(F.sum("_n").alias("_tot"))
        return (per.crossJoin(F.broadcast(tot))
                .select("bin", (F.col("_n") / F.col("_tot"))
                        .alias(share_name)))
    a = bins(df_a, "_sa")
    b = bins(df_b, "_sb")
    j = a.join(b, "bin", "full")
    sa = F.greatest(F.coalesce(F.col("_sa"), F.lit(0.0)),
                    F.lit(float(min_share)))
    sb = F.greatest(F.coalesce(F.col("_sb"), F.lit(0.0)),
                    F.lit(float(min_share)))
    terms = j.select(
        "bin",
        F.round(F.col("bin") / n_bins, 6).alias("bin_lo"),
        F.round(sa, 6).alias("share_a"),
        F.round(sb, 6).alias("share_b"),
        F.round((sa - sb) * F.log(sa / sb), 6).alias("psi_term"))
    total = terms.agg(F.round(F.sum("psi_term"), 6).alias("psi"))
    return terms.crossJoin(F.broadcast(total))
