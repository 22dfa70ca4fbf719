"""Null / distinct column profiler — the nullcheck core.

Reference behavior: ONE query per table computing ``COUNT(DISTINCT col)``
for every column (dbqt/tools/nullcheck.py:43-69); distinct==0 => all-NULL
column, 1<=distinct<=5 => low-distinct (nullcheck.py:83-99, threshold 5).

Spark design: a single ``groupBy().agg`` with N count-distincts plus N
null-counts — one table scan (Catalyst plans the multi-distinct via Expand,
same shape the reference's backends use). The wide single-row result is
unpivoted JVM-side with ``inline(array(struct(...)))`` — no Python loop over
data, no UDF.

Scale path: ``exact=False`` switches to ``approx_count_distinct`` (HLL) —
truly single-pass, no Expand row multiplication — for 100 TB profiling where
exact distinct counts don't matter beyond the <=5 low-distinct threshold
(HLL is exact at such small cardinalities).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import released

LOW_DISTINCT_THRESHOLD = 5  # reference: dbqt/tools/nullcheck.py:95-97

# Plan-size guard for the wide one-row aggregates: Catalyst's analysis/
# optimization cost grows superlinearly with expression count, so at
# m~500+ columns (profile: 2m aggs; correlation: 6*C(m,2)) building ONE
# agg plan becomes the bottleneck before any data is read. Columns /
# pairs are chunked into <= this many agg expressions per scan and the
# unpivoted chunk results are unioned — each chunk's arithmetic is
# independent, so values are identical to the single-plan shape; narrow
# tables (every oracled query) stay a single scan. The extra scans are
# the right trade at width: scan cost is column-pruned parquet IO,
# while a 500-column single plan is minutes of driver CPU.
MAX_AGG_EXPRS_PER_SCAN = 1200


def _chunk(items: list, per_item_exprs: int) -> "list[list]":
    """Split ``items`` so each chunk contributes at most
    ``MAX_AGG_EXPRS_PER_SCAN`` aggregate expressions."""
    size = max(1, MAX_AGG_EXPRS_PER_SCAN // per_item_exprs)
    return [items[i : i + size] for i in range(0, len(items), size)]


def _union_all(parts: "list[DataFrame]") -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def profile_columns(
    df: DataFrame,
    table_name: str,
    columns: list[str] | None = None,
    exact: bool = True,
    approx_rsd: float = 0.05,
) -> DataFrame:
    """Per-column profile rows:
    (table_name, col_name, ordinal, total_rows, null_count, distinct_count,
    status) where status in ('NULL column', 'Low distinct', 'OK').

    ``approx_rsd`` only bounds the error of large distinct counts; the
    status classification stays exact because HLL++ is exact (sparse mode)
    far beyond the <=5 threshold. Tighter rsd inflates the per-row sketch
    update cost dramatically (rsd 0.01 measured ~8x slower than 0.05 at
    sf0.1) for precision the profile doesn't need.
    """
    cols = columns or df.columns
    # A single-row-group parquet file scans as one task, serializing the
    # expensive partial aggregation (multi-distinct Expand). Spread it
    # when the input has fewer partitions than the cluster has slots —
    # a no-op at real scale where files split into many row groups. Only
    # the exact path benefits: HLL partials are cheap to compute but
    # costly to merge, so extra partitions hurt approx mode.
    try:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        if exact and df.rdd.getNumPartitions() < max(2, parallelism // 4):
            df = df.repartition(parallelism)
    except Exception:
        pass  # partition probing (df.rdd) can fail on exotic frames
        # (e.g. pure-SQL views in Connect-like setups); the spread is an
        # optimization, never a correctness requirement
    cd = (
        (lambda c: F.countDistinct(F.col(c)))
        if exact
        else (lambda c: F.approx_count_distinct(F.col(c), approx_rsd))
    )
    parts = []
    for chunk in _chunk(list(enumerate(cols)), 2):
        aggs = [F.count(F.lit(1)).alias("__total")]
        for _, c in chunk:
            aggs.append(cd(c).alias(f"__d_{c}"))
            aggs.append(
                F.count(F.when(F.col(c).isNull(), F.lit(1))).alias(f"__n_{c}")
            )
        one = df.groupBy().agg(*aggs)

        structs = [
            F.struct(
                F.lit(c).alias("col_name"),
                F.lit(i + 1).alias("ordinal"),
                F.col(f"__d_{c}").cast("long").alias("distinct_count"),
                F.col(f"__n_{c}").cast("long").alias("null_count"),
            )
            for i, c in chunk
        ]
        parts.append(
            one.select(
                F.lit(table_name).alias("table_name"),
                F.col("__total").cast("long").alias("total_rows"),
                F.inline(F.array(*structs)),
            )
        )
    unpivoted = _union_all(parts)
    status = (
        F.when(F.col("distinct_count") == 0, F.lit("NULL column"))
        .when(
            F.col("distinct_count") <= LOW_DISTINCT_THRESHOLD,
            F.lit("Low distinct"),
        )
        .otherwise(F.lit("OK"))
    )
    return unpivoted.select(
        "table_name",
        "col_name",
        "ordinal",
        "total_rows",
        "null_count",
        "distinct_count",
        status.alias("status"),
    )


def profile_tables(
    tables: dict[str, DataFrame], exact: bool = True
) -> DataFrame:
    """Profile many tables; one unioned plan (per-table aggs run as parallel
    stages)."""
    parts = [
        profile_columns(df, name, exact=exact) for name, df in tables.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def profile_numeric(
    df: DataFrame,
    table_name: str,
    columns: list[str] | None = None,
    percentile_mode: str = "auto",
) -> DataFrame:
    """Numeric statistical profile, ONE scan for every column:
    (table_name, col_name, non_null_count, null_count, min_value,
    max_value, mean_value, p25, p50, p75).

    A dbstats-style extension the reference lacks. Means are computed as
    DECIMAL(38,10) sums divided once at the end — exact, order-independent
    arithmetic any SQL engine reproduces bit-for-bit (float sums are
    shuffle-order dependent). The wide one-row aggregate is unpivoted
    with ``stack`` (driver-cheap: one row in, n_cols rows out).

    Percentiles are SIZE-GATED (``percentile_mode``, default "auto"):
    small inputs use Spark's exact interpolating ``percentile`` inside
    the same single scan; inputs whose plan-size estimate exceeds
    ``PERCENTILE_BUFFER_BYTES_BOUND`` route through
    ``scalable_percentiles`` — the bounded-memory range-refinement
    engine, BIT-IDENTICAL values (same interpolation arithmetic as the
    buffering aggregate) — because the buffering ``percentile`` holds
    every value of the column on one task, which no executor survives
    at a 100 TB column. The scalable arm spends one bounded refinement
    per column plus the (percentile-free) stats scan; the routing
    decision itself costs nothing (Catalyst sizeInBytes, no probe
    job). "buffer"/"scalable" force an arm."""
    from pyspark.sql.types import DecimalType, NumericType

    cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, NumericType)
        and (columns is None or f.name in columns)
    ]
    if not cols:
        empty_schema = (
            "table_name string, col_name string, non_null_count long, "
            "null_count long, min_value double, max_value double, "
            "mean_value double, p25 double, p50 double, p75 double"
        )
        return df.sparkSession.createDataFrame([], empty_schema)

    scalable = route_percentiles_scalable(df, percentile_mode)
    # Fan a single-row-group scan across the cluster AFTER the routing
    # decision (the repartition node would hide the scan's sizeInBytes):
    # the decimal sums and the percentile buffers partial-aggregate
    # per-partition, and every one of them is merge-order independent,
    # so the spread changes wall time only. No-op at corpus scale.
    from ..utils import spread_small_scan

    df = spread_small_scan(df)
    pct_lits: dict = {}
    if scalable:
        # ONE joint refinement for every column (exact, never
        # buffering): the columns unpivot to (col_name, value) and the
        # GROUPED engine walks all of them together — one bounds pass
        # + ~1-2 histogram aggregates total, instead of a full
        # refinement per column. Values splice into the SAME stack
        # arithmetic as literals, so rounding stays Spark-side and the
        # output is bit-identical to the buffering arm.
        stack_src = ", ".join(
            f"'{c}', CAST(`{c}` AS DOUBLE)" for c in cols
        )
        unpivot = df.selectExpr(
            f"stack({len(cols)}, {stack_src}) AS (__col, __val)"
        )
        vals: dict = {c: {} for c in cols}
        for r in scalable_group_percentiles(
            unpivot, "__val", "__col", qs=(0.25, 0.5, 0.75)
        ).collect():
            vals[r["__col"]][r["q"]] = r["value"]
        import math

        def _pct_lit(v: "float | None") -> str:
            # explicit cast: a bare float literal parses as DECIMAL;
            # non-finite values have no bare-literal spelling at all —
            # repr() would splice `inf`/`nan` identifiers into the
            # expression and fail analysis — so they go through the
            # string cast Spark defines for them. NOTE: the scalable
            # refinement engine EXCLUDES NaN from the ordered walk
            # (NaN has no rank) while Spark's buffering `percentile`
            # sorts NaN greater than every number; columns containing
            # NaN are the one input where the two arms can differ.
            if v is None:
                return "CAST(NULL AS DOUBLE)"
            if math.isnan(v):
                return "CAST('NaN' AS DOUBLE)"
            if math.isinf(v):
                return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
            return f"CAST({v!r} AS DOUBLE)"

        pct_lits = {
            c: [_pct_lit(vals[c].get(q)) for q in (0.25, 0.5, 0.75)]
            for c in cols
        }

    parts = []
    for chunk in _chunk(cols, 6):
        aggs = []
        for c in chunk:
            col = F.col(c)
            dec = col.cast("decimal(38,10)")
            aggs += [
                F.count(col).alias(f"__n_{c}"),
                F.count(F.when(col.isNull(), 1)).alias(f"__nn_{c}"),
                F.min(col).cast("double").alias(f"__min_{c}"),
                F.max(col).cast("double").alias(f"__max_{c}"),
                F.sum(dec).alias(f"__sum_{c}"),
            ]
            if not scalable:
                aggs.append(
                    F.percentile(
                        col, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
                    ).alias(f"__pct_{c}")
                )
        wide = df.agg(*aggs)

        def _pcts(c: str) -> str:
            if scalable:
                p25, p50, p75 = pct_lits[c]
                return (
                    f"round({p25}, 4), round({p50}, 4), round({p75}, 4)"
                )
            return (
                f"round(`__pct_{c}`[0], 4), round(`__pct_{c}`[1], 4), "
                f"round(`__pct_{c}`[2], 4)"
            )

        stack_args = ", ".join(
            f"'{c}', `__n_{c}`, `__nn_{c}`, `__min_{c}`, `__max_{c}`, "
            f"round(CAST(`__sum_{c}` AS DOUBLE) / `__n_{c}`, 4), "
            + _pcts(c)
            for c in chunk
        )
        parts.append(
            wide.selectExpr(
                f"stack({len(chunk)}, {stack_args}) AS "
                "(col_name, non_null_count, null_count, min_value, "
                "max_value, mean_value, p25, p50, p75)"
            )
        )
    return _union_all(parts).select(
        F.lit(table_name).alias("table_name"), "*"
    )


def numeric_histogram(
    df: DataFrame,
    table_name: str,
    columns: list[str] | None = None,
    n_buckets: int = 10,
) -> DataFrame:
    """Fixed-width histogram of every numeric column — a dbstats-style
    distribution profile (companion to ``profile_numeric``'s moments).

    Output: (table_name, col_name, bucket, n_rows, min_value, max_value)
    with bucket in [0, n_buckets-1]; only non-empty buckets emit rows.

    Engine-portable bucketing: values canonicalize to DECIMAL(18,6) and
    then to SCALED INTEGERS (value * 1e6 as BIGINT), so the bucket index
    ``least(((v - lo) * n) div (hi - lo + 1), n - 1)`` is pure int64
    arithmetic — no float width computation, hence bit-identical across
    engines and partitionings (float-width histograms disagree on bucket
    boundaries between engines). Constraint: |column range| * 1e6 *
    n_buckets must fit int64, i.e. ranges up to ~9e11 — the DECIMAL(18,6)
    domain itself. NULLs and values outside that domain are excluded
    (``try_cast`` — a plain cast would RAISE under the session's ANSI
    mode; DuckDB's TRY_CAST mirrors the rule exactly).

    Scale shape: pass 1 is a tiny min/max aggregate (parquet min/max
    aggregate pushdown applies: spark.sql.parquet.aggregatePushdown);
    pass 2 broadcasts the one-row bounds, emits (col_name, bucket) pairs
    JVM-side via ``inline``, and hash-aggregates with map-side combine —
    ONE shuffle whose cardinality is n_cols * n_buckets, independent of
    input size.
    """
    from pyspark.sql.types import NumericType

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, NumericType)
        and (columns is None or f.name in columns)
    ]
    if not cols:
        return df.sparkSession.createDataFrame(
            [],
            "table_name string, col_name string, bucket int, n_rows long, "
            "min_value double, max_value double",
        )

    def vi(c: str):
        return (F.col(c).try_cast("decimal(18,6)") * F.lit(1000000)).cast(
            "long"
        )

    bounds = df.agg(
        *[F.min(vi(c)).alias(f"__lo_{c}") for c in cols],
        *[F.max(vi(c)).alias(f"__hi_{c}") for c in cols],
    )
    # pass 2 only: spreading the bounds pass would defeat the parquet
    # min/max aggregate pushdown noted above; the scaled-int bucket
    # arithmetic is partition-independent, so fanning out the counting
    # pass is pure parallelism. No-op at corpus scale.
    from ..utils import spread_small_scan

    data = spread_small_scan(df).select(
        *[vi(c).alias(f"__v_{c}") for c in cols]
    )
    joined = data.crossJoin(F.broadcast(bounds))

    structs = []
    for c in cols:
        v, lo, hi = F.col(f"__v_{c}"), F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
        bucket = F.least(
            F.expr(
                f"((`__v_{c}` - `__lo_{c}`) * {n_buckets}) "
                f"div (`__hi_{c}` - `__lo_{c}` + 1)"
            ),
            F.lit(n_buckets - 1),
        ).cast("int")
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.when(v.isNotNull(), bucket).alias("bucket"),
                (lo.cast("double") / 1000000).alias("min_value"),
                (hi.cast("double") / 1000000).alias("max_value"),
            )
        )
    exploded = joined.select(F.inline(F.array(*structs))).filter(
        F.col("bucket").isNotNull()
    )
    return (
        exploded.groupBy("col_name", "bucket", "min_value", "max_value")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select(
            F.lit(table_name).alias("table_name"),
            "col_name",
            "bucket",
            "n_rows",
            "min_value",
            "max_value",
        )
        .orderBy("col_name", "bucket")
    )


def correlation_matrix(
    df: DataFrame,
    table_name: str,
    columns: list[str] | None = None,
    exact: bool = True,
) -> DataFrame:
    """Pairwise Pearson correlation of numeric columns, ONE scan for all
    pairs: (table_name, col_x, col_y, n_pairs, corr) for every unordered
    pair col_x < col_y (schema order).

    ORDER-INDEPENDENT arithmetic, same contract as ``zscore_outliers``:
    values canonicalize to DECIMAL(18,6); per-pair n / Σx / Σy / Σxy /
    Σx² / Σy² accumulate as exact decimals (map-side partial aggregation
    still applies), and the correlation is computed ONCE in double from
    those exact sums — so any engine and any shuffle order reproduce the
    value bit-for-bit, unlike streaming ``corr`` implementations whose
    merge order varies. Pairwise-complete semantics: a pair's sums use
    only rows where BOTH values are non-null; values outside the
    decimal canon's domain count as NULL (``try_cast`` — a plain cast
    RAISES under ANSI mode). Zero-variance pairs emit corr = NULL (the
    ratio is undefined; engines disagree on x/0).

    Scale shape: one scan -> one-row wide aggregate (6 * C(n,2) partial
    aggs) -> driver-cheap ``inline`` unpivot. No shuffle of the data.
    Note: Σx² as DECIMAL(38,12) overflows (to NULL, non-ANSI) around
    1e26 / n rows of 1e6-magnitude values.

    ``exact=False`` is the at-scale mode: the same six sums per pair
    but accumulated in DOUBLE — no decimal domain limit (values beyond
    |1e12| stay in the moments instead of try_cast-ing to NULL), still
    one scan, map-side-combined. (The built-in ``F.corr`` is NOT usable
    here: under ANSI mode its final division aborts the whole query on
    a zero-variance pair instead of yielding NaN.) Double summation is
    merge-order dependent and loses precision when mean >> stddev
    (catastrophic cancellation in n*Σx² - (Σx)²), so the value carries
    a small tolerance and is not bit-for-bit reproducible across
    partitionings — use it for wide profiling (m=100 -> 4950 pairs) or
    out-of-decimal-domain values; the oracle-exact default remains for
    cross-engine comparison. Zero-variance pairs emit corr = NULL in
    both modes.
    """
    from pyspark.sql.types import NumericType

    cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, NumericType)
        and (columns is None or f.name in columns)
    ]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    if not pairs:
        return df.sparkSession.createDataFrame(
            [],
            "table_name string, col_x string, col_y string, "
            "n_pairs long, corr double",
        )

    if not exact:
        return _correlation_matrix_approx(df, table_name, pairs)

    # the exact-decimal sums are order-independent by contract, so a
    # round-robin fan-out of a single-row-group scan cannot change a
    # bit of the output — it only parallelizes the int128 products
    # that otherwise run on one core. No-op at corpus scale.
    from ..utils import spread_small_scan

    df = spread_small_scan(df)

    def d(c: str):
        return F.col(c).try_cast("decimal(18,6)")

    parts = []
    for chunk in _chunk(pairs, 6):
        aggs = []
        for a, b in chunk:
            both = d(a).isNotNull() & d(b).isNotNull()
            xa, xb = F.when(both, d(a)), F.when(both, d(b))
            key = f"{a}__{b}"
            aggs += [
                F.count(F.when(both, F.lit(1))).alias(f"__n_{key}"),
                F.sum(xa).alias(f"__sx_{key}"),
                F.sum(xb).alias(f"__sy_{key}"),
                F.sum(xa * xb).alias(f"__sxy_{key}"),
                F.sum(xa * xa).alias(f"__sx2_{key}"),
                F.sum(xb * xb).alias(f"__sy2_{key}"),
            ]
        wide = df.agg(*aggs)

        structs = []
        for a, b in chunk:
            key = f"{a}__{b}"
            n = F.col(f"__n_{key}").cast("double")
            sx = F.col(f"__sx_{key}").cast("double")
            sy = F.col(f"__sy_{key}").cast("double")
            sxy = F.col(f"__sxy_{key}").cast("double")
            sx2 = F.col(f"__sx2_{key}").cast("double")
            sy2 = F.col(f"__sy2_{key}").cast("double")
            dx = n * sx2 - sx * sx
            dy = n * sy2 - sy * sy
            corr = F.when(
                (dx > 0) & (dy > 0),
                F.round((n * sxy - sx * sy) / F.sqrt(dx * dy), 4),
            )
            structs.append(
                F.struct(
                    F.lit(a).alias("col_x"),
                    F.lit(b).alias("col_y"),
                    F.col(f"__n_{key}").cast("long").alias("n_pairs"),
                    corr.alias("corr"),
                )
            )
        parts.append(wide.select(F.inline(F.array(*structs))))
    return (
        _union_all(parts)
        .select(
            F.lit(table_name).alias("table_name"),
            "col_x",
            "col_y",
            "n_pairs",
            "corr",
        )
        .orderBy("col_x", "col_y")
    )


def _correlation_matrix_approx(
    df: DataFrame, table_name: str, pairs: "list[tuple[str, str]]"
) -> DataFrame:
    """The ``exact=False`` arm of ``correlation_matrix``: the six
    pairwise-complete sums in DOUBLE, one scan. Same output schema and
    zero-variance/NULL contracts as the exact arm; the division is
    inside a when() branch, so no ANSI divide-by-zero can fire. Pair
    chunks bound the per-scan plan size (``MAX_AGG_EXPRS_PER_SCAN``) —
    at m=500 columns C(m,2)=124,750 pairs would otherwise put ~750k
    aggregate expressions in ONE plan."""
    parts = []
    for chunk in _chunk(pairs, 6):
        aggs = []
        for a, b in chunk:
            da = F.col(a).cast("double")
            db = F.col(b).cast("double")
            both = da.isNotNull() & db.isNotNull()
            xa, xb = F.when(both, da), F.when(both, db)
            key = f"{a}__{b}"
            aggs += [
                F.count(F.when(both, F.lit(1))).alias(f"__n_{key}"),
                F.sum(xa).alias(f"__sx_{key}"),
                F.sum(xb).alias(f"__sy_{key}"),
                F.sum(xa * xb).alias(f"__sxy_{key}"),
                F.sum(xa * xa).alias(f"__sx2_{key}"),
                F.sum(xb * xb).alias(f"__sy2_{key}"),
            ]
        wide = df.agg(*aggs)
        structs = []
        for a, b in chunk:
            key = f"{a}__{b}"
            n = F.col(f"__n_{key}").cast("double")
            sx = F.col(f"__sx_{key}")
            sy = F.col(f"__sy_{key}")
            sxy = F.col(f"__sxy_{key}")
            sx2 = F.col(f"__sx2_{key}")
            sy2 = F.col(f"__sy2_{key}")
            dx = n * sx2 - sx * sx
            dy = n * sy2 - sy * sy
            corr = F.when(
                (dx > 0) & (dy > 0),
                F.round((n * sxy - sx * sy) / F.sqrt(dx * dy), 4),
            )
            structs.append(
                F.struct(
                    F.lit(a).alias("col_x"),
                    F.lit(b).alias("col_y"),
                    F.col(f"__n_{key}").cast("long").alias("n_pairs"),
                    corr.alias("corr"),
                )
            )
        parts.append(wide.select(F.inline(F.array(*structs))))
    return (
        _union_all(parts)
        .select(
            F.lit(table_name).alias("table_name"),
            "col_x",
            "col_y",
            "n_pairs",
            "corr",
        )
        .orderBy("col_x", "col_y")
    )


def zscore_outliers(
    df,
    value_col: str,
    group_col: str,
    id_col: str,
    k: int = 20,
):
    """Top-k rows by |z-score| of ``value_col`` within its
    ``group_col`` population — the per-row companion to the statistical
    bounds check in ``operators/checks.py`` (which gates on aggregate
    mean/stddev; this names the offending ROWS).

    Moments are ORDER-INDEPENDENT: values are canonicalized to
    DECIMAL(18,6) and the per-group sum / sum-of-squares accumulate as
    exact decimals (map-side partial aggregation still applies), so any
    engine and any partitioning reproduce mean and variance bit-for-bit
    — double-summation order sensitivity is the classic source of
    cross-engine z-score drift. Variance is the (n-1) sample form via
    E[x^2] - E[x]^2 computed from the exact sums; groups with n < 2 or
    zero variance emit no rows (z undefined). The final top-k is a
    TakeOrdered on (|z| desc, id asc) — a total order, so the cut is
    deterministic.

    Scale shape: one scan -> tiny per-group aggregate -> broadcast back
    -> narrow map -> TakeOrdered. The corpus never shuffles.
    """
    from pyspark.sql import functions as F

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # try_cast, not cast: under ANSI mode (Spark 4 default) a plain cast
    # of an out-of-domain value (|v| >= ~1e12) aborts the whole query
    # with NUMERIC_VALUE_OUT_OF_RANGE instead of producing NULL
    v = F.col(value_col).try_cast("decimal(18,6)")
    # NULL values (and values overflowing the decimal canon, which
    # try_cast maps to NULL) carry no signal: excluded from the
    # moments AND the output, so n is the count of REAL values
    canon = df.select(
        F.col(id_col),
        F.col(group_col),
        v.alias("__v"),
    ).filter(F.col("__v").isNotNull())
    stats = (
        canon.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__v").alias("__s"),
            F.sum(F.col("__v") * F.col("__v")).alias("__s2"),
        )
        .filter(F.col("__n") >= 2)
        .select(
            F.col(group_col).alias("__g"),
            F.col("__n"),
            (F.col("__s").cast("double") / F.col("__n")).alias("__mean"),
            (
                (
                    F.col("__s2").cast("double") / F.col("__n")
                    - (F.col("__s").cast("double") / F.col("__n"))
                    * (F.col("__s").cast("double") / F.col("__n"))
                )
                * F.col("__n")
                / (F.col("__n") - 1)
            ).alias("__var"),
        )
        .filter(F.col("__var") > 0)
    )
    z = (F.col("__v").cast("double") - F.col("__mean")) / F.sqrt("__var")
    return (
        canon.join(
            F.broadcast(stats), F.col(group_col).eqNullSafe(F.col("__g"))
        )
        .select(
            id_col,
            group_col,
            F.round(F.col("__v").cast("double"), 6).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
        .orderBy(F.abs(F.col("zscore")).desc(), F.col(id_col).asc())
        .limit(k)
    )


def frequent_values(
    df,
    table_name: str,
    columns: list[str] | None = None,
    k: int = 5,
):
    """Top-k most frequent values per column — the heavy-hitters panel
    of a data-profiling report (dbstats-style companion to
    ``profile_columns``' distinct/null counts). Output: (table_name,
    col_name, rank, value, n_rows), rank 1..k per column.

    Values are cast to string so one frame profiles every column type
    uniformly. SQL NULLs are excluded — the null count is
    ``profile_columns``' job, and NULL ordering defaults differ across
    engines. Ties cut deterministically by (count desc, value asc): a
    total order, so the k-cut is reproducible anywhere.

    Scale shape: one scan emits (col_name, value) pairs JVM-side via
    ``inline`` -> hash agg with map-side combine (the shuffle carries
    per-partition pre-counts, not rows) -> per-column top-k window over
    the AGGREGATED frame, whose size is the sum of column
    cardinalities, not the corpus. For ultra-high-cardinality columns
    the aggregate itself is the cost; cap with ``columns=`` or sketch
    first (count-min) — the output contract is unchanged.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cols = [
        c for c in df.columns if columns is None or c in columns
    ]
    if not cols:
        return df.sparkSession.createDataFrame(
            [],
            "table_name string, col_name string, rank int, value string, "
            "n_rows long",
        )
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(c).cast("string").alias("value"),
        )
        for c in cols
    ]
    counts = (
        df.select(F.inline(F.array(*structs)))
        .filter(F.col("value").isNotNull())
        .groupBy("col_name", "value")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    w = Window.partitionBy("col_name").orderBy(
        F.col("n_rows").desc(), F.col("value").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.lit(table_name).alias("table_name"),
            "col_name",
            F.col("rank").cast("int"),
            "value",
            "n_rows",
        )
        .orderBy("col_name", "rank")
    )


def quantile_histogram(
    df: DataFrame,
    table_name: str,
    columns: list[str] | None = None,
    n_buckets: int = 10,
    exact: bool = True,
    approx_accuracy: int = 10_000,
) -> DataFrame:
    """EQUI-DEPTH histogram of every numeric column — the quantile
    companion to ``numeric_histogram``'s fixed-width buckets (skewed
    columns collapse into one fixed-width bucket; quantile buckets
    spread them by rank instead).

    Output: (table_name, col_name, bucket, lo, hi, n_rows), bucket in
    [0, n_buckets-1]; only non-empty buckets emit rows; NULLs excluded.

    Engine-portable by construction: bucket edges are exact DISCRETE
    percentiles (``percentile_disc`` — actual data values, no
    interpolation formula to disagree on), values and edges compare as
    doubles cast from the same inputs, and bucket(v) = the number of
    interior edges strictly below v. Ties collapse into the lower
    bucket, so a heavy repeated value yields one over-full bucket and
    empty neighbors — the honest equi-depth behavior, identical in any
    engine (the DuckDB oracle reproduces it bit-for-bit).

    Scale shape: pass 1 is one percentile aggregate collected driver-
    side (n_cols x n_buckets doubles). ``exact=True`` uses
    ``percentile_disc`` (oracle-reproducible, but its aggregation state
    is the full value list — fine up to ~memory, wrong at 100 TB);
    ``exact=False`` switches to ``approx_percentile`` — bounded memory
    (Greenwald-Khanna, rank error <= 1/approx_accuracy), edges are
    still actual data values, same output contract. Pass 2 assigns
    buckets
    with the edges as PLAN LITERALS — a sum of when(v > edge)
    comparisons that stays inside whole-stage codegen (an edge-array
    higher-order ``F.aggregate`` measured ~4x slower: HOF lambdas are
    interpreted) — and hash-aggregates with map-side combine, one
    shuffle of n_cols x n_buckets rows.
    """
    from pyspark.sql.types import NumericType

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, NumericType)
        and (columns is None or f.name in columns)
    ]
    if not cols:
        return df.sparkSession.createDataFrame(
            [],
            "table_name string, col_name string, bucket int, lo double, "
            "hi double, n_rows long",
        )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    edge_exprs = []
    for c in cols:
        arr = ", ".join(str(q) for q in qs) or "0.5"
        if not qs:  # n_buckets == 1: no interior edges
            edge_exprs.append(f"array() AS `__q_{c}`")
        elif exact:
            edge_exprs.append(
                f"percentile_disc(array({arr})) WITHIN GROUP "
                f"(ORDER BY CAST(`{c}` AS DOUBLE)) AS `__q_{c}`"
            )
        else:
            edge_exprs.append(
                f"approx_percentile(CAST(`{c}` AS DOUBLE), array({arr}), "
                f"{int(approx_accuracy)}) AS `__q_{c}`"
            )
        edge_exprs.append(f"min(CAST(`{c}` AS DOUBLE)) AS `__mn_{c}`")
        edge_exprs.append(f"max(CAST(`{c}` AS DOUBLE)) AS `__mx_{c}`")
    # NOTE (r15): spread_small_scan measured NEUTRAL-to-worse on BOTH
    # passes here (pass 1: the percentile_disc value-map merge across
    # 64 partials beats one single-core build only on much wider
    # inputs; pass 2: the bucket map is a handful of comparisons —
    # cheaper than the round-robin shuffle it would ride). Left alone.
    edge_row = df.selectExpr(*edge_exprs).collect()[0]
    data = df.select(
        *[F.col(c).cast("double").alias(f"__v_{c}") for c in cols]
    )

    structs = []
    for c in cols:
        v = F.col(f"__v_{c}")
        splits = [s for s in (edge_row[f"__q_{c}"] or []) if s is not None]
        mn, mx = edge_row[f"__mn_{c}"], edge_row[f"__mx_{c}"]
        if mn is None:  # all-NULL column: no bucket rows
            structs.append(
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.lit(None).cast("int").alias("bucket"),
                    F.lit(None).cast("double").alias("lo"),
                    F.lit(None).cast("double").alias("hi"),
                )
            )
            continue
        bucket = F.lit(0)
        for s in splits:
            bucket = bucket + F.when(v > F.lit(float(s)), F.lit(1)).otherwise(
                F.lit(0)
            )
        full_lo = [float(mn)] + [float(s) for s in splits]
        full_hi = [float(s) for s in splits] + [float(mx)]
        # rounding stays JVM-side (F.round, HALF_UP like the oracle's
        # round()) — python round() is half-even and could disagree
        lo = F.element_at(
            F.array(*[F.round(F.lit(x), 4) for x in full_lo]), bucket + 1
        )
        hi = F.element_at(
            F.array(*[F.round(F.lit(x), 4) for x in full_hi]), bucket + 1
        )
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.when(v.isNotNull(), bucket.cast("int")).alias("bucket"),
                lo.alias("lo"),
                hi.alias("hi"),
            )
        )
    exploded = data.select(F.inline(F.array(*structs))).filter(
        F.col("bucket").isNotNull()
    )
    return (
        exploded.groupBy("col_name", "bucket", "lo", "hi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select(
            F.lit(table_name).alias("table_name"),
            "col_name",
            "bucket",
            "lo",
            "hi",
            "n_rows",
        )
        .orderBy("col_name", "bucket")
    )


def robust_outliers(
    df,
    value_col: str,
    group_col: str,
    id_col: str,
    k: int = 20,
    exact: bool = True,
    percentile_mode: str = "auto",
):
    """Top-k rows by |robust z-score| (median/MAD) of ``value_col``
    within its ``group_col`` population — the heavy-tail-safe companion
    to ``zscore_outliers``: mean/stddev are themselves dragged by the
    outliers they're meant to find (one 1e9 reading inflates sigma
    until nothing else flags), while median and MAD have a 50%
    breakdown point. rz = (x - median) / (1.4826 * MAD), the standard
    normal-consistency scaling.

    Two passes by construction (MAD is a median OF deviations FROM the
    median — not decomposable into one aggregate): per-group exact
    interpolated medians broadcast back (the ``events_percentiles``
    precedent: Spark ``percentile`` == DuckDB ``quantile_cont``), then
    per-group deviation medians broadcast back, then a narrow map +
    TakeOrdered on (|rz| desc, id asc). The corpus never shuffles —
    both aggregates move O(groups) rows. Groups with MAD = 0 (>= half
    the values identical) emit no rows: rz is undefined there, and a
    constant-heavy group needs ``frequent_values``, not an outlier
    scan. ``exact=False`` swaps both medians for bounded-memory
    ``approx_percentile`` (the 100 TB arm — exact percentile buffers
    each group's values; same contract as
    ``quality_quantile_filter``)."""
    from pyspark.sql import functions as F

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pct = "approx_percentile" if not exact else "percentile"
    # size-gated exact arm: above the plan-size bound the per-group
    # buffering percentile (every value of each group on one task)
    # swaps for the grouped refinement engine — bit-identical medians
    scalable = exact and route_percentiles_scalable(df, percentile_mode)
    v = F.col(value_col).try_cast("double")
    canon = df.select(
        F.col(id_col), F.col(group_col), v.alias("__v")
    ).filter(F.col("__v").isNotNull() & ~F.isnan("__v"))
    if scalable:
        med = scalable_group_percentiles(
            canon, "__v", group_col, qs=(0.5,)
        ).select(F.col(group_col).alias("__g"), F.col("value").alias("__med"))
    else:
        med = canon.groupBy(group_col).agg(
            F.expr(f"{pct}(__v, 0.5)").alias("__med")
        ).select(F.col(group_col).alias("__g"), "__med")
    dev = canon.join(
        F.broadcast(med), F.col(group_col).eqNullSafe(F.col("__g"))
    ).select(
        F.col(id_col),
        F.col(group_col),
        "__v",
        "__med",
        F.abs(F.col("__v") - F.col("__med")).alias("__d"),
    )
    if scalable:
        mad = (
            scalable_group_percentiles(dev, "__d", group_col, qs=(0.5,))
            .filter(F.col("value") > 0)
            .select(
                F.col(group_col).alias("__g2"),
                F.col("value").alias("__mad"),
            )
        )
    else:
        mad = (
            dev.groupBy(group_col)
            .agg(F.expr(f"{pct}(__d, 0.5)").alias("__mad"))
            .filter(F.col("__mad") > 0)
            .select(F.col(group_col).alias("__g2"), "__mad")
        )
    rz = (F.col("__v") - F.col("__med")) / (F.lit(1.4826) * F.col("__mad"))
    return (
        dev.join(
            F.broadcast(mad), F.col(group_col).eqNullSafe(F.col("__g2"))
        )
        .select(
            id_col,
            group_col,
            F.round(F.col("__v"), 6).alias("value"),
            F.round(rz, 4).alias("robust_z"),
        )
        .orderBy(F.abs(F.col("robust_z")).desc(), F.col(id_col).asc())
        .limit(k)
    )


def scalable_percentiles(
    df,
    value_col: str,
    qs: "list[float]" = (0.25, 0.5, 0.75),
    max_collect: int = 100_000,
    max_rounds: int = 16,
    stats: "dict | None" = None,
):
    """EXACT interpolated percentiles (``quantile_cont`` semantics —
    identical to Spark's ``percentile``) WITHOUT buffering values:
    Spark's exact ``percentile`` aggregate holds every value of a group
    in executor memory, which is fine at millions of rows and fatal at
    a 100 TB column; ``approx_percentile`` bounds memory but changes
    the answer. This is the third arm: iterative RANGE REFINEMENT —
    the classic distributed exact-median construction — returning a
    DataFrame of (q, value) exactly equal to the buffering form.

    Each needed rank (floor and ceiling neighbors of (n-1)*q per
    quantile) is located by walking a 4096-bucket equi-width histogram
    of the current value range: one map-side-combinable bucket-count
    aggregate per round per DISTINCT contested range, after which the
    rank's range shrinks ~4096x. Ranks sharing a range share the pass
    (all of them do in round 1), so p25/p50/p75 cost ~1 + 3 passes
    before their ranges fit ``max_collect`` and the survivors collect
    + sort driver-side (bounded by construction). Bucket arithmetic in
    doubles only has to be MONOTONE (it narrows ranges, never decides
    a value); equal-boundary ties stay inside one bucket because the
    bucket is a function of the value. NULL and NaN values are
    excluded (SQL percentile semantics); an all-NULL column returns
    NULL values for every q.

    Scale shape: passes = 1 (bounds+count) + ONE histogram aggregate
    per distinct contested range per round (its bucket sums double as
    the cell count, so the collect decision is free) + a bounded leaf
    collect — no window, no sort, no buffering aggregate anywhere.
    ``stats`` records ``rounds`` and ``collected_rows``."""
    from pyspark.sql import functions as F

    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile must be in [0, 1], got {q}")
    spark = df.sparkSession
    v = F.col(value_col).try_cast("double")
    base = (
        df.select(v.alias("__v"))
        .filter(F.col("__v").isNotNull() & ~F.isnan("__v"))
    )
    with released(base.persist()):
        row = base.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("__v").alias("lo"),
            F.max("__v").alias("hi"),
        ).collect()[0]
        n, glo, ghi = row["n"], row["lo"], row["hi"]
        if n == 0:
            return spark.createDataFrame(
                [(float(q), None) for q in qs], "q double, value double"
            )
        # the integer ranks every quantile interpolates between
        needed: set = set()
        for q in qs:
            r = (n - 1) * q
            needed.add(int(r))
            needed.add(min(int(r) + 1, n - 1))
        # rank -> (lo, hi, rank_within_range); start: all ranks in the full
        # closed range with global rank
        cells = {k: (glo, ghi, k) for k in sorted(needed)}
        resolved: dict = {}
        rounds = 0
        collected = 0
        while cells and rounds < max_rounds:
            # group ranks by their contested range — one pass per range
            by_range: dict = {}
            for k, (lo, hi, kk) in cells.items():
                by_range.setdefault((lo, hi), []).append((k, kk))
            next_cells: dict = {}
            for (lo, hi), ranks in by_range.items():
                cell = base.filter(
                    (F.col("__v") >= lo) & (F.col("__v") <= hi)
                )
                if lo == hi:
                    for k, _ in ranks:
                        resolved[k] = lo
                    continue
                # ONE pass per contested range per round: the histogram's
                # bucket sums double as the cell count, so the
                # small-enough-to-collect decision costs no extra job
                width = max((hi - lo) / 4096.0, 4.9e-324)
                bucket = F.least(
                    F.lit(4095),
                    F.greatest(
                        F.lit(0), F.floor((F.col("__v") - lo) / width)
                    ),
                ).cast("int")
                hist = {
                    r["__b"]: r
                    for r in cell.groupBy(bucket.alias("__b"))
                    .agg(
                        F.count(F.lit(1)).alias("bn"),
                        F.min("__v").alias("bmin"),
                        F.max("__v").alias("bmax"),
                    )
                    .collect()
                }
                if sum(r["bn"] for r in hist.values()) <= max_collect:
                    vals = sorted(r["__v"] for r in cell.collect())
                    collected += len(vals)
                    for k, kk in ranks:
                        resolved[k] = vals[kk]
                    continue
                order = sorted(hist)
                for k, kk in ranks:
                    before = 0
                    for b in order:
                        bn = hist[b]["bn"]
                        if before + bn > kk:
                            next_cells[k] = (
                                hist[b]["bmin"],
                                hist[b]["bmax"],
                                kk - before,
                            )
                            break
                        before += bn
            cells = next_cells
            rounds += 1
        if cells:
            raise RuntimeError(
                f"scalable_percentiles did not converge in {max_rounds} "
                "rounds — pathological value distribution; raise "
                "max_rounds or max_collect"
            )
    if stats is not None:
        stats["rounds"] = rounds
        stats["collected_rows"] = collected
    out = []
    for q in qs:
        r = (n - 1) * q
        k = int(r)
        k2 = min(k + 1, n - 1)
        frac = r - k
        # Spark Percentile's exact arithmetic (lo*(1-f) + hi*f) — NOT
        # the algebraically-equal lo + f*(hi-lo), which differs at the
        # ULP; bit-identity with the buffering aggregate is what lets
        # size-gated routing swap arms without changing any answer
        val = resolved[k] * (1.0 - frac) + resolved[k2] * frac
        out.append((float(q), float(val)))
    return spark.createDataFrame(out, "q double, value double")


# auto-routing bound for exact percentiles: inputs whose Catalyst
# sizeInBytes estimate exceeds this go through the range-refinement
# engine instead of Spark's buffering `percentile` aggregate (whose
# final merge holds EVERY value of the group on one task — fine at
# gigabytes, fatal at a 100 TB column). 1 GiB of source bytes is far
# below where buffering breaks, which is the right side to err on:
# the refinement engine is exact, just more passes.
PERCENTILE_BUFFER_BYTES_BOUND = 1 << 30

_PCT_MODES = ("auto", "buffer", "scalable")


def _plan_size_bytes(df) -> "int | None":
    """Catalyst's sizeInBytes estimate for the frame's optimized plan —
    file size for parquet scans, free (no job). None if unavailable."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats()
                .sizeInBytes())
        )
    except Exception:
        return None


def route_percentiles_scalable(
    df,
    mode: str = "auto",
    bytes_bound: int = PERCENTILE_BUFFER_BYTES_BOUND,
) -> bool:
    """True -> exact percentiles should run through the bounded-memory
    refinement engine (``scalable_percentiles`` /
    ``scalable_group_percentiles``) instead of the buffering
    ``percentile`` aggregate. ``mode``: "buffer" and "scalable" force
    an arm; "auto" routes on the plan-size estimate (zero cost — no
    probe job). Both arms return BIT-IDENTICAL values (same
    quantile_cont interpolation), so routing never changes an answer,
    only the memory shape."""
    if mode not in _PCT_MODES:
        raise ValueError(f"percentile_mode must be one of {_PCT_MODES}")
    if mode == "buffer":
        return False
    if mode == "scalable":
        return True
    size = _plan_size_bytes(df)
    return size is not None and size > bytes_bound


def scalable_group_percentiles(
    df,
    value_col: str,
    group_col: str,
    qs: "list[float]" = (0.5,),
    n_buckets: int = 1024,
    max_collect: int = 100_000,
    max_rounds: int = 16,
    max_groups: int = 100_000,
    driver_cells: int = 2_000_000,
    stats: "dict | None" = None,
):
    """PER-GROUP exact interpolated percentiles (``quantile_cont``
    semantics, identical to ``percentile(...) GROUP BY``) without the
    buffering aggregate — the grouped twin of ``scalable_percentiles``
    and the 100 TB arm behind ``impute_nulls`` / ``clip_outliers`` /
    ``robust_outliers``: Spark's exact grouped ``percentile`` holds
    every value OF EACH GROUP on the task that merges it, so one hot
    group (half the corpus is one language) recreates the whole-column
    buffering problem group-wise.

    Same range-refinement construction as the global engine, run for
    ALL groups jointly: ONE aggregate per round covers every contested
    (group, range) cell — a broadcast join against the tiny range
    table, an equi-width bucket count, a driver walk that shrinks each
    rank's range ~n_buckets x. Per round the collect is bounded by
    ``driver_cells`` (bucket width auto-shrinks when many ranges are
    contested); leaf ranges (<= ``max_collect`` rows) resolve by a
    bounded value collect. Driver state is O(groups x ranks), gated by
    ``max_groups`` — group cardinality at or above 100k is metadata,
    not a percentile population, and the caller should aggregate
    differently.

    Returns a DataFrame ``(<group_col>, q double, value double)`` with
    one row per non-empty group per q. NULL group values form their own
    group (eqNullSafe join semantics); NULL/NaN values are excluded per
    SQL percentile semantics; all-NULL groups emit no rows (a LEFT join
    against the result treats them as no-statistic, exactly like the
    buffering arm's NULL)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile must be in [0, 1], got {q}")
    spark = df.sparkSession
    gfield = df.schema[group_col]
    v = F.col(value_col).try_cast("double")
    # NOTE (r15): spreading the persisted base across cores was
    # measured WORSE here (warm solo 3.16 -> 4.01 s at sf0.1): each
    # refinement round launches one tiny aggregate per cached
    # partition, so task scheduling dominates the sub-second rounds.
    # At corpus scale the scan arrives already split and the rounds
    # are data-bound — nothing to fix.
    base = (
        df.select(F.col(group_col).alias("__g"), v.alias("__v"))
        .filter(F.col("__v").isNotNull() & ~F.isnan("__v"))
    )
    with released(base.persist()):
        bounds = base.groupBy("__g").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("__v").alias("lo"),
            F.max("__v").alias("hi"),
        ).collect()
        if len(bounds) > max_groups:
            raise ValueError(
                f"{group_col!r} has {len(bounds)} groups (> max_groups="
                f"{max_groups}); per-group percentiles at that "
                "cardinality are not a statistic worth a refinement "
                "engine — aggregate differently or raise max_groups"
            )
        groups = [r["__g"] for r in bounds]
        n_of = {i: r["n"] for i, r in enumerate(bounds)}
        # (gidx, rank) -> (lo, hi, rank_within_range)
        cells: dict = {}
        resolved: dict = {}
        for i, r in enumerate(bounds):
            needed = set()
            for q in qs:
                rk = (r["n"] - 1) * q
                needed.add(int(rk))
                needed.add(min(int(rk) + 1, r["n"] - 1))
            for k in needed:
                cells[(i, k)] = (r["lo"], r["hi"], k)
        g_schema = T.StructType([
            T.StructField("__rg", gfield.dataType, True),
            T.StructField("__rid", T.IntegerType(), False),
            T.StructField("__rlo", T.DoubleType(), False),
            T.StructField("__rhi", T.DoubleType(), False),
        ])
        rounds = 0
        collected = 0
        while cells and rounds < max_rounds:
            # dedupe contested ranges per group: ranks sharing a range
            # share the pass (round 1: all of a group's ranks do);
            # distinct ranges within a group are DISJOINT by
            # construction (bucket spans), so the join below matches
            # each row at most once per group
            by_range: dict = {}
            for (gi, k), (lo, hi, kk) in cells.items():
                by_range.setdefault((gi, lo, hi), []).append((k, kk))
            range_rows = []
            leaf_meta: dict = {}
            refine_meta: dict = {}
            rid = 0
            for (gi, lo, hi), ranks in sorted(
                by_range.items(), key=lambda t: (t[0][0], t[0][1])
            ):
                if lo == hi:
                    for k, _ in ranks:
                        resolved[(gi, k)] = lo
                    continue
                range_rows.append((groups[gi], rid, lo, hi))
                refine_meta[rid] = (gi, lo, hi, ranks)
                rid += 1
            cells = {}
            if not range_rows:
                rounds += 1
                continue
            nb = max(16, min(n_buckets, driver_cells // len(range_rows)))
            ranges_df = spark.createDataFrame(range_rows, g_schema)
            joined = base.join(
                F.broadcast(ranges_df),
                F.col("__g").eqNullSafe(F.col("__rg"))
                & (F.col("__v") >= F.col("__rlo"))
                & (F.col("__v") <= F.col("__rhi")),
            )
            width = F.greatest(
                (F.col("__rhi") - F.col("__rlo")) / F.lit(float(nb)),
                F.lit(4.9e-324),
            )
            bucket = F.least(
                F.lit(nb - 1),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col("__v") - F.col("__rlo")) / width),
                ),
            ).cast("int")
            hist_rows = (
                joined.groupBy(F.col("__rid"), bucket.alias("__b"))
                .agg(
                    F.count(F.lit(1)).alias("bn"),
                    F.min("__v").alias("bmin"),
                    F.max("__v").alias("bmax"),
                )
                .collect()
            )
            hists: dict = {}
            for r in hist_rows:
                hists.setdefault(r["__rid"], {})[r["__b"]] = r
            leaf_rids = []
            for rid2, (gi, lo, hi, ranks) in refine_meta.items():
                hist = hists.get(rid2, {})
                total = sum(r["bn"] for r in hist.values())
                if total <= max_collect:
                    leaf_rids.append(rid2)
                    leaf_meta[rid2] = (gi, ranks)
                    continue
                order = sorted(hist)
                for k, kk in ranks:
                    before = 0
                    for b in order:
                        bn = hist[b]["bn"]
                        if before + bn > kk:
                            cells[(gi, k)] = (
                                hist[b]["bmin"],
                                hist[b]["bmax"],
                                kk - before,
                            )
                            break
                        before += bn
            if leaf_rids:
                leaf_df = spark.createDataFrame(
                    [r for r in range_rows if r[1] in set(leaf_rids)],
                    g_schema,
                )
                leaf_rows = (
                    base.join(
                        F.broadcast(leaf_df),
                        F.col("__g").eqNullSafe(F.col("__rg"))
                        & (F.col("__v") >= F.col("__rlo"))
                        & (F.col("__v") <= F.col("__rhi")),
                    )
                    .select("__rid", "__v")
                    .collect()
                )
                by_rid: dict = {}
                for r in leaf_rows:
                    by_rid.setdefault(r["__rid"], []).append(r["__v"])
                collected += len(leaf_rows)
                for rid2, (gi, ranks) in leaf_meta.items():
                    vals = sorted(by_rid.get(rid2, []))
                    for k, kk in ranks:
                        resolved[(gi, k)] = vals[kk]
            rounds += 1
        if cells:
            raise RuntimeError(
                f"scalable_group_percentiles did not converge in "
                f"{max_rounds} rounds — pathological value "
                "distribution; raise max_rounds or max_collect"
            )
    if stats is not None:
        stats["rounds"] = rounds
        stats["collected_rows"] = collected
    out_rows = []
    for gi, g in enumerate(groups):
        n = n_of[gi]
        for q in qs:
            r = (n - 1) * q
            k = int(r)
            k2 = min(k + 1, n - 1)
            frac = r - k
            # Spark Percentile's exact form — see scalable_percentiles
            val = resolved[(gi, k)] * (1.0 - frac) + resolved[
                (gi, k2)
            ] * frac
            out_rows.append((g, float(q), float(val)))
    out_schema = T.StructType([
        T.StructField(group_col, gfield.dataType, True),
        T.StructField("q", T.DoubleType(), False),
        T.StructField("value", T.DoubleType(), True),
    ])
    return spark.createDataFrame(out_rows, out_schema)
