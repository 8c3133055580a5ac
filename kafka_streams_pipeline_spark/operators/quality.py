"""Data-quality operators: single-pass column profiling and a
declarative constraint-check suite (the Deequ/Great-Expectations
family, re-expressed as plain Catalyst aggregates).

Why an engine for training data needs this: before a 100 TB corpus
feeds a tokenizer or a dedup pass, the pipeline needs per-column
health numbers (null rates, cardinalities, ranges) and hard
contracts (keys unique, foreign keys resolve, enums closed, values
in range) — and it needs them as ONE scan each, not a job per
metric. Both operators here compile the whole metric/check set into
a single ``agg`` so Catalyst evaluates every measure in the same
pass over the data (plus one anti-join per referential check, the
only kind that genuinely needs a second input).

Scale posture:
- ``table_profile``: all per-column measures are algebraic partial
  aggregates except distinct counts; exact distincts run as an
  explicit (col_name, value) dedupe shuffle (see the function
  docstring for why Catalyst's Expand-rewritten multi-distinct plan
  — input duplicated once per distinct column — was measured and
  rejected), and ``approx=True`` collapses to one pass of HLL++
  register state.
- ``run_checks``: every single-table check is an algebraic
  aggregate merged into one pass; referential checks add one
  LEFT ANTI join each, with the referenced key side deduplicated
  and broadcast when small (dimension tables) — the 100 TB fact
  side never shuffles for broadcastable dims.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# HLL++ relative standard deviation of the approx profile: 0.01 gives
# a 1% σ estimator, so the 5% certification gate of
# ``table_profile_approx_certified`` sits at 5σ — and
# approx_count_distinct is DETERMINISTIC given the data (hash-based
# registers, max-merge, order-independent), so the gate is a fixed
# fact of the dataset at the certification SFs, not a flake.
PROFILE_HLL_RSD = 0.01
PROFILE_HLL_TOL_PCT = 5


def table_profile(df: DataFrame, approx: bool = False) -> DataFrame:
    """Per-column profile of every column of ``df``: row count,
    non-null count, distinct count (exact, or HLL++ at
    ``PROFILE_HLL_RSD`` when ``approx=True``), and min/max rendered as
    strings (computed TYPED, cast after — binary string ordering is
    never applied to numeric columns).

    Output: one row per column —
    ``(col_name, n_rows, n_nonnull, n_distinct, min_value,
    max_value)``. Row order is not part of the contract.

    Plan shape, chosen by measurement: asking Catalyst for N
    ``count(DISTINCT col)`` in one aggregate triggers the
    RewriteDistinctAggregates Expand plan — the scan stream is
    DUPLICATED once per distinct column (+1 for the non-distinct
    measures), so the aggregate consumes (N+1)× the input rows
    (measured 2.7× slower at sf0.1 for N=6). The exact form here is
    two honest passes instead: (1) every algebraic measure (counts, typed
    min/max) in one whole-stage-codegen aggregate + stack pivot;
    (2) distinct counts via an explicit stack-explode to
    ``(col_name, value)`` → partial-aggregated dedupe → per-column
    count — one shuffle on (col_name, value), constant-size
    buffers, then a broadcast join of the two column-sized results.
    ``approx=True`` collapses back to a SINGLE pass: HLL++ register
    sketches are partial-merge-safe, so all measures ride one
    aggregate. That branch is the one ``table_profile_approx_certified``
    runs, so the driver row ``q_table_profile_approx`` certifies it."""
    cols = df.columns

    def _stack_cols(expr_fn, out_names: str) -> Column:
        args = ", ".join(expr_fn(c) for c in cols)
        return F.expr(f"stack({len(cols)}, {args}) AS {out_names}")

    if approx:
        aggs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs += [
                F.count(F.col(c)).alias(f"__nn_{c}"),
                F.approx_count_distinct(c, PROFILE_HLL_RSD)
                .cast("long")
                .alias(f"__nd_{c}"),
                F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
                F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
            ]
        return (
            df.agg(*aggs)
            .select(
                _stack_cols(
                    lambda c: f"'{c}', __nn_{c}, __nd_{c}, "
                    f"__min_{c}, __max_{c}",
                    "(col_name, n_nonnull, n_distinct, "
                    "min_value, max_value)",
                ),
                F.col("__rows").alias("n_rows"),
            )
            .select(
                "col_name", "n_rows", "n_nonnull", "n_distinct",
                "min_value", "max_value",
            )
        )

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    base = (
        df.agg(*aggs)
        .select(
            _stack_cols(
                lambda c: f"'{c}', __nn_{c}, __min_{c}, __max_{c}",
                "(col_name, n_nonnull, min_value, max_value)",
            ),
            F.col("__rows").alias("n_rows"),
        )
    )
    nd = (
        df.select(
            _stack_cols(
                lambda c: f"'{c}', cast({c} as string)",
                "(col_name, val)",
            )
        )
        .where(F.col("val").isNotNull())
        .groupBy("col_name", "val")
        .agg(F.lit(1).alias("__one"))
        .groupBy("col_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"))
    )
    return base.join(F.broadcast(nd), "col_name", "left").select(
        "col_name",
        "n_rows",
        "n_nonnull",
        F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
        "min_value",
        "max_value",
    )


def table_profile_approx_certified(
    df: DataFrame,
    tol_pct: int = PROFILE_HLL_TOL_PCT,
) -> DataFrame:
    """Certification form of the ``approx=True`` 100 TB profile path:
    runs ``table_profile(df, approx=True)`` NEXT TO the exact profile
    and emits the exact columns (oracle-matched value-for-value) plus
    ``hll_within_tol`` — TRUE iff the approx branch's HLL++ distinct
    count is within ``tol_pct`` % of the exact one, integer
    cross-multiply (|nd̂ − nd|·100 ≤ tol·nd). The oracle pins the bit
    TRUE: a broken sketch (wrong rsd plumbing, a lost register merge)
    flips it and hash-mismatches. At 100 TB you run only the approx
    branch — one pass, no (col_name, value) dedupe shuffle; the
    plan-contract test pins it Expand-free."""
    apx = table_profile(df, approx=True).select(
        "col_name", F.col("n_distinct").alias("n_distinct_apx")
    )
    return table_profile(df).join(F.broadcast(apx), "col_name").select(
        "col_name",
        "n_rows",
        "n_nonnull",
        "n_distinct",
        "min_value",
        "max_value",
        (
            F.abs(F.col("n_distinct_apx") - F.col("n_distinct")) * 100
            <= F.lit(tol_pct) * F.col("n_distinct")
        ).alias("hll_within_tol"),
    )


@dataclass(frozen=True)
class Check:
    """One declarative constraint. ``kind`` picks the semantics:

    - ``not_null``:   violations = rows where ``col`` IS NULL
    - ``unique``:     violations = rows beyond the first per value
      of ``col`` (nulls excluded, SQL-UNIQUE style)
    - ``in_set``:     violations = non-null rows whose ``col`` is
      outside ``values``
    - ``in_range``:   violations = non-null rows with ``col`` <
      ``lo`` or > ``hi`` (either bound optional)
    - ``matches``:    violations = non-null rows not rlike ``pattern``
    - ``references``: violations = rows whose ``col`` has no match
      in ``ref_df[ref_col]`` (nulls excluded, FK style)
    """

    name: str
    kind: str
    col: str
    values: tuple = ()
    lo: object = None
    hi: object = None
    pattern: str = ""
    ref_df: DataFrame | None = field(default=None, compare=False)
    ref_col: str = ""


def _violation_expr(c: Check) -> Column:
    col = F.col(c.col)
    if c.kind == "not_null":
        cond = col.isNull()
    elif c.kind == "in_set":
        cond = col.isNotNull() & ~col.isin(list(c.values))
    elif c.kind == "in_range":
        cond = F.lit(False)
        if c.lo is not None:
            cond = cond | (col < F.lit(c.lo))
        if c.hi is not None:
            cond = cond | (col > F.lit(c.hi))
        cond = col.isNotNull() & cond
    elif c.kind == "matches":
        cond = col.isNotNull() & ~col.rlike(c.pattern)
    else:
        raise ValueError(f"unknown single-pass check kind {c.kind!r}")
    return F.sum(cond.cast("long")).alias(c.name)


def run_checks(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Evaluate every check and return one row per check:
    ``(check_name, violations, passed)``.

    All ``not_null`` / ``in_set`` / ``in_range`` / ``matches``
    checks compile to conditional sums in ONE aggregate over ``df``;
    each ``unique`` check is a count-minus-distinct pair in the same
    aggregate (violations = count(col) − count(distinct col) — rows
    beyond the first per duplicated value); each ``references``
    check is a LEFT ANTI join against the deduplicated, broadcast
    reference keys counted in its own small job. Results are unioned
    into one frame; row order is not part of the contract.
    """
    single = [c for c in checks if c.kind not in ("references", "unique")]
    uniques = [c for c in checks if c.kind == "unique"]
    refs = [c for c in checks if c.kind == "references"]

    parts: list[DataFrame] = []
    if single:
        wide = df.agg(*[_violation_expr(c) for c in single])
        stack_args = ", ".join(f"'{c.name}', {c.name}" for c in single)
        parts.append(
            wide.select(
                F.expr(
                    f"stack({len(single)}, {stack_args}) "
                    "AS (check_name, violations)"
                )
            )
        )
    if uniques:
        # violations = Σ_v (count(v) − 1) over non-null values: the
        # same (check_name, value) dedupe-shuffle shape as
        # table_profile's exact distincts — one shuffle for ALL
        # unique checks, never Catalyst's Expand multi-distinct
        # rewrite (input duplicated once per distinct column)
        stack_args = ", ".join(
            f"'{c.name}', cast({c.col} as string)" for c in uniques
        )
        parts.append(
            df.select(
                F.expr(
                    f"stack({len(uniques)}, {stack_args}) "
                    "AS (check_name, val)"
                )
            )
            .where(F.col("val").isNotNull())
            .groupBy("check_name", "val")
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .groupBy("check_name")
            .agg(
                F.sum(F.col("__cnt") - 1).cast("long").alias("violations")
            )
        )
    for c in refs:
        if c.ref_df is None:
            raise ValueError(f"references check {c.name!r} needs ref_df")
        keys = F.broadcast(
            c.ref_df.select(F.col(c.ref_col).alias(c.col)).distinct()
        )
        parts.append(
            df.where(F.col(c.col).isNotNull())
            .join(keys, on=c.col, how="left_anti")
            .agg(F.count(F.lit(1)).alias("violations"))
            .select(F.lit(c.name).alias("check_name"), "violations")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "check_name",
        F.col("violations").cast("long").alias("violations"),
        (F.col("violations") == 0).alias("passed"),
    )


DRIFT_DEFAULT_PPM = 50_000  # 5% — the alerting convention


def profile_drift(old_profile: DataFrame, new_profile: DataFrame) -> DataFrame:
    """Cross-snapshot DRIFT detection: join two ``table_profile``
    outputs per column and flag columns whose health metrics moved —
    the Deequ/whylogs anomaly-check pattern for continuously
    ingested corpora (a version whose null fraction or distinct
    cardinality jumps is a broken upstream, caught from two
    column-count-sized profiles without rescanning either snapshot —
    that is what makes drift monitoring O(columns), not O(rows), at
    100 TB; pair with the versioned store's ``read_corpus`` to diff
    any two committed versions).

    Per column: old/new row, non-null and distinct counts; the
    non-null FRACTION drift and the relative distinct drift in ppm
    (integer divisions, engine-exact); whether min/max moved; and
    ``drifted`` = any of (non-null fraction drift, distinct drift)
    ≥ ``DRIFT_DEFAULT_PPM`` OR a min/max change. Ascending col_name."""
    o = old_profile.select(
        "col_name",
        F.col("n_rows").alias("rows_old"),
        F.col("n_nonnull").alias("nonnull_old"),
        F.col("n_distinct").alias("distinct_old"),
        F.col("min_value").alias("min_old"),
        F.col("max_value").alias("max_old"),
    )
    nw = new_profile.select(
        "col_name",
        F.col("n_rows").alias("rows_new"),
        F.col("n_nonnull").alias("nonnull_new"),
        F.col("n_distinct").alias("distinct_new"),
        F.col("min_value").alias("min_new"),
        F.col("max_value").alias("max_new"),
    )
    return (
        o.join(nw, "col_name")
        .select(
            "col_name",
            "rows_old",
            "rows_new",
            "nonnull_old",
            "nonnull_new",
            "distinct_old",
            "distinct_new",
            F.expr(
                "abs((nonnull_new * 1000000) div rows_new"
                " - (nonnull_old * 1000000) div rows_old)"
            )
            .cast("long")
            .alias("nonnull_drift_ppm"),
            F.expr(
                "(abs(distinct_new - distinct_old) * 1000000)"
                " div distinct_old"
            )
            .cast("long")
            .alias("distinct_drift_ppm"),
            (
                (F.col("min_old") != F.col("min_new"))
                | (F.col("max_old") != F.col("max_new"))
            ).alias("minmax_changed"),
        )
        .withColumn(
            "drifted",
            (F.col("nonnull_drift_ppm") >= DRIFT_DEFAULT_PPM)
            | (F.col("distinct_drift_ppm") >= DRIFT_DEFAULT_PPM)
            | F.col("minmax_changed"),
        )
        .orderBy("col_name")
    )


K_ANON_DEFAULT = 5


def k_anonymity(
    df: DataFrame, quasi_cols: list[str], k: int = K_ANON_DEFAULT
) -> DataFrame:
    """k-anonymity audit over the quasi-identifier columns: one row
    per QI equivalence class with its size and whether it is AT RISK
    (size < k — an individual in such a class is re-identifiable by
    the QI combination alone; Sweeney 2002). The classes are what a
    privacy review reads; :func:`k_anonymize` is the enforcement.

    One groupBy over the QI key (map-side partial counts — at 100 TB
    the shuffle carries one counter per class per partition, not
    rows). Ascending QI order."""
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
        .withColumn("at_risk", F.col("class_size") < k)
        .orderBy(*quasi_cols)
    )


def k_anonymize(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = K_ANON_DEFAULT,
) -> DataFrame:
    """ENFORCE k-anonymity by suppression: rows whose QI class has
    fewer than ``k`` members get every quasi-identifier column
    NULLed (full-domain suppression of the risky classes — the
    baseline mechanism; generalization hierarchies are a policy
    layer above this operator). Non-QI columns pass through
    untouched, row count is preserved (suppression, never deletion —
    dropping rare classes would bias the survivors).

    Plan: the class-size aggregate joins back onto the rows; each QI
    column becomes CASE WHEN size < k THEN NULL. NO broadcast hint
    is planted: the size frame is class-count-sized, which for a
    near-unique QI combination is row-count-sized, and an
    unconditional broadcast there is an executor OOM at 100 TB.
    AQE decides at runtime from the aggregate's actual output size —
    broadcast when classes are few (the common audit case), shuffle
    join when the QI is near-unique — with zero extra scan, which a
    driver-side size probe would cost."""
    # the size frame derives from df itself — rename its QI columns
    # so the join condition can never be ambiguous (self-join
    # column-lineage hazard)
    sizes = (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("__class_size"))
        .select(
            *[F.col(c).alias(f"__qi_{c}") for c in quasi_cols],
            "__class_size",
        )
    )
    joined = df.join(
        sizes,
        on=[
            F.col(c).eqNullSafe(F.col(f"__qi_{c}")) for c in quasi_cols
        ],
    )
    risky = F.col("__class_size") < k
    out_cols = []
    for c in df.columns:
        if c in quasi_cols:
            out_cols.append(
                F.when(risky, F.lit(None)).otherwise(F.col(c)).alias(c)
            )
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


QUANTILE_NUM = 1  # keep the top num/den fraction per group (1/4)
QUANTILE_DEN = 4


def group_quantile_filter(df: DataFrame) -> DataFrame:
    """Per-group quality-quantile gate (the Gopher/MassiveText
    per-language filtering convention): within each group, keep the
    top num/den = ``QUANTILE_NUM``/``QUANTILE_DEN`` fraction of
    documents by quality — a GLOBAL cutoff
    would let a high-resource language's distribution set the bar
    and wipe out low-resource groups entirely.

    Quality is the quality_score numerator in integer ppm
    (qnum·10⁶ div (200·n)) — pure BIGINT, so ranks are engine-exact;
    ties break by ascending doc_id. The keep rule is the float-free
    rank read: keep iff rank_desc·den ≤ n_group·num (the
    cum·den ≥ q·n convention — no percentile float ever computed).

    Output per group: (group, n_docs, n_kept, kept_checksum,
    cutoff_quality_ppm) — the checksum pins MEMBERSHIP of the kept
    set, the cutoff is the lowest kept quality. Per-doc keep flags
    are the same frame before the final aggregate.

    Scale shape: one window partitioned by group (groups are
    languages/domains — thousands at most, each internally large;
    the per-group rank is the partitioned-window shuffle every
    top-fraction filter pays) + one group aggregate."""
    from pyspark.sql.window import Window as _W

    base = df.select(
        F.col("lang").alias("grp"),
        F.col("doc_id"),
        F.expr(
            """
            (cast(size(split(text, ' ')) as bigint) *
                    least(size(split(text, ' ')), 100)
                  + 60L * size(array_distinct(split(text, ' ')))
                  + 4L * least(length(text)
                               - size(split(text, ' ')) + 1,
                               10 * size(split(text, ' '))))
                 * 1000000L
            div (200L * size(split(text, ' ')))
            """
        ).alias("quality_ppm"),
    )
    ranked = base.withColumn(
        "rnk",
        F.row_number().over(
            _W.partitionBy("grp").orderBy(
                F.col("quality_ppm").desc(), F.col("doc_id").asc()
            )
        ),
    ).withColumn("n_docs", F.count(F.lit(1)).over(_W.partitionBy("grp")))
    kept = ranked.where(
        F.col("rnk") * QUANTILE_DEN <= F.col("n_docs") * QUANTILE_NUM
    )
    return (
        kept.groupBy(F.col("grp").alias("lang"))
        .agg(
            F.max("n_docs").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("doc_id").cast("long").alias("kept_checksum"),
            F.min("quality_ppm").cast("long").alias("cutoff_quality_ppm"),
        )
        .orderBy("lang")
    )


def group_quantile_filter_oracle() -> str:
    return f"""
        WITH base AS (
            SELECT lang AS grp, doc_id,
                   (CAST(len(toks) AS BIGINT) * least(len(toks), 100)
                    + 60 * len(list_distinct(toks))
                    + 4 * least(length(text) - len(toks) + 1,
                                10 * len(toks))) * 1000000
                   // (200 * len(toks)) AS quality_ppm
            FROM (SELECT lang, doc_id, text,
                         string_split(text, ' ') AS toks
                  FROM documents)
        ),
        ranked AS (
            SELECT grp, doc_id, quality_ppm,
                   row_number() OVER (
                       PARTITION BY grp
                       ORDER BY quality_ppm DESC, doc_id ASC) AS rnk,
                   count(*) OVER (PARTITION BY grp) AS n_docs
            FROM base
        )
        SELECT grp AS lang,
               CAST(max(n_docs) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_kept,
               CAST(sum(doc_id) AS BIGINT) AS kept_checksum,
               CAST(min(quality_ppm) AS BIGINT) AS cutoff_quality_ppm
        FROM ranked WHERE rnk * {QUANTILE_DEN} <= n_docs * {QUANTILE_NUM}
        GROUP BY grp ORDER BY grp
    """


def ref_integrity(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Cross-table referential-integrity audit (the Deequ
    `isContainedIn`/FK check the profile/checks family lacked): how
    many left keys have a right-side match, how many are orphans,
    and vice versa — the join-health scorecard run before any
    multimodal pairing job (documents ↔ embeddings, images ↔
    captions) trains on silently-dropped rows.

    Output: one row per class — matched / left_only / right_only —
    with n_keys (DISTINCT keys) and key_checksum. NULL keys are
    counted as left_only/right_only (a NULL FK can never match;
    checksum treats them as 0).

    Scale shape: both sides reduce to distinct keys map-side, one
    full-outer hash join on the key — the minimum possible work for
    an exact FK audit; payload columns are pruned at the scan."""
    lk = left.select(F.col(left_key).alias("k")).distinct()
    rk = right.select(F.col(right_key).alias("k")).distinct()
    j = lk.withColumn("l", F.lit(1)).join(
        rk.withColumn("r", F.lit(1)).withColumnRenamed("k", "k2"),
        F.col("k").eqNullSafe(F.col("k2")),
        "full",
    )
    return (
        j.select(
            F.when(
                F.col("l").isNotNull() & F.col("r").isNotNull(), "matched"
            )
            .when(F.col("l").isNotNull(), "left_only")
            .otherwise("right_only")
            .alias("class"),
            F.coalesce(F.col("k"), F.col("k2")).alias("key"),
        )
        .groupBy("class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum(F.coalesce(F.col("key"), F.lit(0)))
            .cast("long")
            .alias("key_checksum"),
        )
        .orderBy("class")
    )


def ref_integrity_oracle(
    left_table: str = "documents", right_table: str = "embeddings"
) -> str:
    return f"""
        WITH lk AS (SELECT DISTINCT doc_id AS k FROM {left_table}),
        rk AS (SELECT DISTINCT vec_id AS k2 FROM {right_table}),
        j AS (
            SELECT lk.k, rk.k2 FROM lk
            FULL OUTER JOIN rk ON lk.k IS NOT DISTINCT FROM rk.k2
        )
        SELECT CASE WHEN k IS NOT NULL AND k2 IS NOT NULL THEN 'matched'
                    WHEN k IS NOT NULL THEN 'left_only'
                    ELSE 'right_only' END AS class,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(coalesce(coalesce(k, k2), 0)) AS BIGINT)
                   AS key_checksum
        FROM j GROUP BY 1 ORDER BY 1
    """


L_DIVERSITY_DEFAULT = 3


def l_diversity(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l_threshold: int = L_DIVERSITY_DEFAULT,
) -> DataFrame:
    """Distinct l-diversity audit over the quasi-identifier columns
    (Machanavajjhala et al., TKDD 2007 — the successor criterion to
    k-anonymity): one row per QI equivalence class with its size,
    the number of DISTINCT sensitive values it contains, and whether
    it is AT RISK (fewer than ``l_threshold`` distinct values — a
    k-anonymous class whose members all share one sensitive value
    still leaks it; homogeneity attack). NULL sensitive values are
    not counted as a value (count(DISTINCT) semantics, identical in
    both engines); a class of only-NULL sensitive rows has
    n_distinct_sensitive = 0 and is at risk for any l ≥ 1.

    One groupBy over the QI key with a distinct-count (map-side
    partial distinct — at 100 TB the shuffle carries per-partition
    distinct sets per class, bounded by the sensitive domain, not
    row count). Ascending QI order. The enforcement mechanism is
    :func:`k_anonymize`'s suppression join with this audit's at-risk
    classes as the predicate source."""
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("class_size"),
            F.countDistinct(sensitive_col)
            .cast("long")
            .alias("n_distinct_sensitive"),
        )
        .withColumn(
            "at_risk", F.col("n_distinct_sensitive") < l_threshold
        )
        .orderBy(*quasi_cols)
    )


T_CLOSENESS_NUM, T_CLOSENESS_DEN = 1, 12  # t = 1/12


def t_closeness(df: DataFrame, quasi_cols: list[str], sensitive_col: str) -> DataFrame:
    """t-closeness audit over an ORDERED sensitive attribute (Li,
    Li & Venkatasubramanian, ICDE 2007 — the third rung of the
    governance ladder after k-anonymity and l-diversity): a class
    whose sensitive distribution sits far from the GLOBAL
    distribution leaks information even when it is diverse
    (skewness attack). Distance is the ordered-domain Earth Mover's
    Distance, EMD = (1/(m−1))·Σ_i |CumP_i − CumQ_i| over the global
    domain's m distinct values; a class is AT RISK when EMD > t,
    t = t_num/t_den = ``T_CLOSENESS_NUM``/``T_CLOSENESS_DEN``.

    Float-free: with class cumulative counts cpc, global cumulative
    counts gqc, class size n_c and total N, the per-step term is
    |cpc·N − gqc·n_c| (exact integers) and the threshold test is
    emd_num·t_den ≤ t_num·(m−1)·n_c·N — one cross-multiply, no
    division anywhere. NULL sensitive values are excluded from both
    distributions (count(col) semantics, matching the l-diversity
    NULL pin). Output ``emd_num`` is the scaled integer itself so
    the oracle hash covers the full distance, not just the bit.

    Plan: two domain-bounded aggregates (class×value cells, global
    values); the zero-filled grid is classes × domain via a
    broadcast cross of the two SMALL aggregates — never a row-level
    shuffle; cumulative sums are per-class windows over the
    ≤ m-row partitions. At 100 TB the only data-sized pass is the
    two groupBys (map-side partial counts); everything after is
    domain-sized. Products are held wide (cpc·N at trillion rows
    exceeds BIGINT — the grid arithmetic casts through
    DECIMAL(38,0), the cosine_pairs overflow posture) and the
    OUTPUT is cast BIGINT (asserted in-range at certified SFs)."""
    base = df.select(
        *quasi_cols, F.col(sensitive_col).alias("s")
    ).where(F.col("s").isNotNull())
    cell = base.groupBy(*quasi_cols, "s").agg(
        F.count(F.lit(1)).cast("long").alias("cp")
    )
    return t_closeness_from_cells(cell, quasi_cols)


def t_closeness_from_cells(cell: DataFrame, quasi_cols: list[str]) -> DataFrame:
    """The t-closeness audit computed from (quasi…, s, cp) CELL
    COUNTS — the joint distribution itself — rather than row-level
    data. This is the ONE shared EMD/threshold path: the batch
    :func:`t_closeness` reduces its rows to cells and calls this,
    and the streaming monitor's persisted state IS this cell table,
    so the distance convention cannot fork between the two (the
    hourly_cents_series discipline). Everything downstream of the
    cells is domain-sized: gdist/cls/tot all derive from the cells
    by map-side-partial aggregates."""
    from pyspark.sql.window import Window

    # NULL sensitive values are excluded from BOTH distributions —
    # the batch path filters them before building cells; a caller
    # passing raw state cells gets the identical semantics here
    cell = cell.where(F.col("s").isNotNull())
    gdist = cell.groupBy("s").agg(F.sum("cp").alias("gq"))
    tot = cell.agg(
        F.sum("cp").alias("N"),
        F.countDistinct("s").cast("long").alias("m"),
    )
    cls = cell.groupBy(*quasi_cols).agg(F.sum("cp").alias("n_c"))
    grid = (
        cls.crossJoin(F.broadcast(gdist))
        .join(cell, [*quasi_cols, "s"], "left")
        .withColumn("cp", F.coalesce("cp", F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    wc = (
        Window.partitionBy(*quasi_cols)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.withColumn("cpc", F.sum("cp").over(wc)).withColumn(
        "gqc", F.sum("gq").over(wc)
    )
    agg = cum.groupBy(*quasi_cols).agg(
        F.max("n_c").alias("n_c"),
        F.max("m").alias("m"),
        F.max("N").alias("N"),
        F.sum(
            F.abs(
                F.col("cpc").cast("decimal(38,0)") * F.col("N")
                - F.col("gqc").cast("decimal(38,0)") * F.col("n_c")
            )
        ).alias("emd_raw"),
    )
    return agg.select(
        *quasi_cols,
        F.col("n_c").alias("class_size"),
        F.col("m").alias("domain_size"),
        F.col("emd_raw").cast("long").alias("emd_num"),
        (
            F.col("emd_raw") * T_CLOSENESS_DEN
            > F.lit(T_CLOSENESS_NUM)
            * (F.col("m") - 1).cast("decimal(38,0)")
            * F.col("n_c")
            * F.col("N")
        ).alias("at_risk"),
    ).orderBy(*quasi_cols)
