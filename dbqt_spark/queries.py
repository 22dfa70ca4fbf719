"""Named queries + DuckDB oracle SQL — the driver contract surface.

Every operator from SURVEY.md §2 (plus the north-star extensions) is
exposed here as a named query: a Spark callable ``(spark, sf_dir) ->
DataFrame`` in ``QUERIES`` and, where SQL-expressible, an equivalent
DuckDB SQL string in ``ORACLES``. Column names/aliases match exactly on
both sides (the driver hashes values after sorting columns by name).

Determinism rules used throughout (so Spark's parallel execution hashes
identically to DuckDB's sequential one):
- Float SUM/AVG go through ``CAST(x AS DECIMAL(18,6))`` before SUM — an
  exact, order-independent accumulation in both engines — then back to
  DOUBLE. Plain double sums would differ in the last ulps by partition
  order and can straddle a rounding boundary.
- Timestamps are output as formatted strings (engine-independent).
- Every top-k has a total order (score DESC, id) so LIMIT picks the same
  set.
- Shared vocab (column lists, stopwords, type groups) is defined once in
  Python and interpolated into BOTH the Spark expressions and the SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import TPCH_TABLES, discover_tables, load_table, load_tables
from .utils import spread_small_scan
from .operators.cache import localize_or_keep, released
from .operators.dedup import (
    minhash_near_duplicates,
    ngram_jaccard_near_duplicates,
    normalize_text,
    simhash_fingerprints,
    simhash_near_duplicates,
)
from .operators.profile import profile_columns
from .operators.rowcount import count_compare, table_row_counts
from .operators.similarity import (
    cosine_topk,
    embedding_blocked_nn,
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
)
from .operators.textstats import (
    STOPWORDS,
    corpus_summary,
    language_id,
    quality_scores,
    token_stats,
)
from .operators.colcompare import compare_columns
from .patterns import filter_excluded_tables
from .schema_df import build_schema_df
from .typecompat import DEFAULT_TYPE_MAPPINGS

# Fixed testdata schema (TESTDATA.md) — interpolated into generated SQL.
LINEITEM_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
]
ORDERS_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]
EVENTS_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

_DEC = "DECIMAL(18,6)"  # exact accumulator for float sums


def _ensure_utc(spark: SparkSession) -> None:
    """Timestamp-to-string queries must render in UTC regardless of the
    caller's session timezone (parquet naive timestamps are read as UTC
    instants; DuckDB renders them naively). GLOBAL session side effect,
    documented at ``catalog.ensure_utc``."""
    from .catalog import ensure_utc

    ensure_utc(spark)


# harness results are bounded at <= 1 row per doc/vector — far below this
_HARNESS_LOCAL_ROWS = 10_000_000


def _localized(df: DataFrame) -> DataFrame:
    """Take over a KEPT operator result (the ``operators.cache``
    caller-release path: corpus-sized NN output, over-limit pair sets):
    these harness queries hand their frame to a driver that collects and
    never unpersists, so it is pulled through the driver and released
    here. Lazy and already-local frames pass through untouched."""
    return localize_or_keep(df, _HARNESS_LOCAL_ROWS)[0] if df.is_cached else df


def _union_all(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _avg_exact_spark(sum_col: str, n_col: str, digits: int) -> F.Column:
    """round(sum/n, digits) with EXACT half-away-from-zero semantics —
    integer division over the DECIMAL(18,6) sum's micro units. Engines'
    float round() disagree when the double quotient lands exactly on a
    .5 boundary of the target scale (the sf0.1 sweep caught this on
    events_hourly and the LM scorers); integer div never does. The
    final /10^digits is one IEEE division of identical operands —
    correctly rounded, engine-identical. Domain: |sum| < ~4.6e12
    (2 * micro units must fit a signed 64-bit int under ANSI); every
    caller's sums are bounded far below that (value sums over a group,
    logprob sums over a doc)."""
    scale = 10 ** (6 - digits)
    q = (
        f"CASE WHEN ({sum_col} * 1000000) < 0 "
        f"THEN -((2 * cast(-({sum_col} * 1000000) as bigint) "
        f"+ {n_col} * {scale}) div (2 * {n_col} * {scale})) "
        f"ELSE ((2 * cast(({sum_col} * 1000000) as bigint) "
        f"+ {n_col} * {scale}) div (2 * {n_col} * {scale})) END"
    )
    return (F.expr(q) / F.lit(float(10 ** digits))).cast("double")


def _ratio6_wide_sql(num_sql: str, den_sql: str) -> str:
    """DuckDB twin of ``textstats._ratio6_wide_expr``: HUGEINT ``//``
    reproduces Spark's DECIMAL(38,0) integral ``div`` quotient
    exactly; final double conversion is the same IEEE op."""
    return (
        f"(CAST((2 * CAST({num_sql} AS HUGEINT) * 1000000 "
        f"+ {den_sql}) // (2 * CAST({den_sql} AS HUGEINT)) "
        f"AS DOUBLE) / 1000000.0)"
    )


def _sql_bloom_fragments(
    key_col: str, n_bits: int, k: int
) -> tuple[str, str, str, str]:
    """Shared DuckDB fragments of the bloom chain (same salted
    md5-prefix hashes, 32-bit bit_or word packing, k-probe AND):
    (bit_selects over CTE ``seen``, probe-bit projections, the AND-ed
    membership checks, the per-hash word joins). ``key_col`` is the
    key column name exposed by both the ``seen`` CTE and the probing
    CTE ``h``'s source."""
    bit_selects = " UNION ALL ".join(
        f"SELECT (('0x'||substr(md5('{i}:'||{key_col}),1,15))::UBIGINT"
        f" % {n_bits}) AS bit FROM seen"
        for i in range(k)
    )
    probe_bits = ", ".join(
        f"(('0x'||substr(md5('{i}:'||{key_col}),1,15))::UBIGINT"
        f" % {n_bits}) AS b{i}"
        for i in range(k)
    )
    checks = " AND ".join(
        f"(coalesce(w{i}.word, 0) & (1::BIGINT << CAST(h.b{i} % 32 AS"
        " INTEGER))) != 0"
        for i in range(k)
    )
    joins = " ".join(
        f"LEFT JOIN words w{i} ON w{i}.word_idx = CAST(h.b{i} // 32 AS"
        " BIGINT)"
        for i in range(k)
    )
    return bit_selects, probe_bits, checks, joins


def _sql_url_canon_ctes(src_cte: str, carry: str = "") -> str:
    """parts/staged/canon CTE text canonicalizing column ``url`` of
    CTE ``src_cte`` — the ONE DuckDB twin of
    ``urltools.canonical_url_col`` (tracking-param list generated from
    ``urltools.TRACKING_PARAMS``, so the oracles can never desync from
    the operator), shared by the url_dedup / domain_stats /
    streaming_url_gate oracles. The filtered-sorted query string and
    the port stage ONCE (``staged``) — the heavy list expression is
    evaluated one time, not once per CASE branch. ``canon`` exposes
    ``{carry}, host, cu``."""
    from .operators.urltools import TRACKING_PARAMS

    track = ",".join(f"'{p}'" for p in TRACKING_PARAMS)
    carry_sel = (carry + ", ") if carry else ""
    return f"""
parts AS (
  SELECT {carry_sel}trim(url) AS tu,
    lower(regexp_extract(trim(url),
      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_replace(regexp_extract(trim(url),
      '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2),
      '^[^@]*@', '')) AS host_port,
    regexp_replace(regexp_extract(trim(url),
      '^([A-Za-z][A-Za-z0-9+.-]*)://[^/?#]*([^?#]*)', 2),
      '/+$', '') AS path,
    regexp_extract(trim(url), '\\?([^#]*)', 1) AS qs
  FROM {src_cte}
),
staged AS (
  SELECT *,
    regexp_extract(host_port, ':([0-9]+)$', 1) AS port,
    array_to_string(list_sort(list_filter(
      string_split(qs, '&'),
      p -> p <> '' AND NOT starts_with(lower(p), 'utm_')
        AND NOT list_contains([{track}],
              lower(regexp_extract(p, '^([^=]*)', 1))))), '&') AS cq
  FROM parts
),
canon AS (
  SELECT {carry_sel}
    regexp_replace(host_port, ':[0-9]*$', '') AS host,
    CASE WHEN scheme = '' THEN tu ELSE
      scheme || '://'
      || regexp_replace(host_port, ':[0-9]*$', '')
      || CASE WHEN port <> ''
              AND NOT (scheme = 'http' AND port = '80')
              AND NOT (scheme = 'https' AND port = '443')
         THEN ':' || port ELSE '' END
      || path
      || CASE WHEN cq <> '' THEN '?' || cq ELSE '' END
    END AS cu
  FROM staged
)"""


def _avg_exact_sql(sum_sql: str, n_sql: str, digits: int) -> str:
    """DuckDB twin of ``_avg_exact_spark`` (// = floor division, equal
    to truncation on the non-negative operands the CASE arranges)."""
    scale = 10 ** (6 - digits)
    return (
        f"(CASE WHEN ({sum_sql} * 1000000) < 0 "
        f"THEN -((2 * CAST(-({sum_sql} * 1000000) AS BIGINT) "
        f"+ {n_sql} * {scale}) // (2 * {n_sql} * {scale})) "
        f"ELSE ((2 * CAST(({sum_sql} * 1000000) AS BIGINT) "
        f"+ {n_sql} * {scale}) // (2 * {n_sql} * {scale})) END "
        f"/ {float(10 ** digits)})"
    )


def _dsum(col_sql: str) -> str:
    """Order-independent double sum (DuckDB side)."""
    return f"CAST(SUM(CAST({col_sql} AS {_DEC})) AS DOUBLE)"


def _dsum_spark(col) -> F.Column:
    """Order-independent double sum (Spark side)."""
    return F.sum(col.cast(_DEC.lower())).cast("double")


# ---------------------------------------------------------------------------
# A1: per-table row counts (dbstats rowcount mode)
# ---------------------------------------------------------------------------


def q_rowcounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table_row_counts(spark, sf_dir, TPCH_TABLES).select(
        "table_name", "row_count"
    )


SQL_ROWCOUNTS = " UNION ALL ".join(
    f"SELECT '{t}' AS table_name, CAST(COUNT(*) AS BIGINT) AS row_count FROM {t}"
    for t in TPCH_TABLES
)


def q_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file layout stats (operators/partitioning.py file_stats):
    row counts per physical parquet file from the scan-time
    ``_metadata`` hidden column — small-file / straggler-file detection
    without a separate listing job. The oracle pins file->count via the
    one-file-per-table testdata layout (file_bytes is operator-only:
    no engine-independent truth for on-disk size exists through a SQL
    view)."""
    from .operators.partitioning import file_stats

    parts = []
    for t in TPCH_TABLES:
        fs = file_stats(load_table(spark, sf_dir, t))
        parts.append(fs.select("file_name", "n_rows"))
    return _union_all(parts).orderBy("file_name")


SQL_FILE_STATS = (
    "SELECT * FROM ("
    + " UNION ALL ".join(
        f"SELECT '{t}.parquet' AS file_name, CAST(COUNT(*) AS BIGINT) AS n_rows FROM {t}"
        for t in TPCH_TABLES
    )
    + ") ORDER BY file_name"
)


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed row-level diff report (operators/datadiff.py): orders vs a
    deterministically perturbed copy (rows dropped at key%101, added at
    key%103 via key shift, o_orderstatus rewritten at key%89,
    o_totalprice bumped at key%97) — added/removed/changed/identical
    counts plus per-column change counts. The oracle rebuilds the same
    perturbation in SQL and diffs with IS DISTINCT FROM."""
    from .operators.datadiff import diff_summary

    orders = load_table(spark, sf_dir, "orders")
    src = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    k = F.col("o_orderkey")
    base = orders.filter(k % 101 != 0).select(
        "o_orderkey",
        F.when(k % 89 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(k % 97 == 0, F.col("o_totalprice") + F.lit(1.0))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    added = orders.filter(k % 103 == 0).select(
        (k + F.lit(50_000_000)).alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
    )
    tgt = base.unionByName(added)
    return diff_summary(src, tgt, ["o_orderkey"])


SQL_TABLE_DIFF = """
WITH src AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
), tgt AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 101 <> 0
  UNION ALL
  SELECT o_orderkey + 50000000, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 103 = 0
), d AS (
  SELECT CASE WHEN s.o_orderkey IS NULL THEN 'added'
              WHEN t.o_orderkey IS NULL THEN 'removed'
              WHEN (s.o_orderstatus IS DISTINCT FROM t.o_orderstatus)
                OR (s.o_totalprice IS DISTINCT FROM t.o_totalprice)
              THEN 'changed' ELSE 'identical' END AS status,
         CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL
               AND s.o_orderstatus IS DISTINCT FROM t.o_orderstatus
              THEN 1 ELSE 0 END AS ch_status,
         CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL
               AND s.o_totalprice IS DISTINCT FROM t.o_totalprice
              THEN 1 ELSE 0 END AS ch_price
  FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey
)
SELECT * FROM (
  SELECT status AS item, CAST(COUNT(*) AS BIGINT) AS n_rows FROM d GROUP BY 1
  UNION ALL
  SELECT 'column:o_orderstatus' AS item, CAST(SUM(ch_status) AS BIGINT) AS n_rows
  FROM d HAVING SUM(ch_status) > 0
  UNION ALL
  SELECT 'column:o_totalprice' AS item, CAST(SUM(ch_price) AS BIGINT) AS n_rows
  FROM d HAVING SUM(ch_price) > 0
) ORDER BY item
"""


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis (operators/partitioning.py
    skew_report): the 20 heaviest users in the event stream with share
    of all rows and size vs the mean key — run before a user-keyed
    join to pick plain shuffle vs salting."""
    ev = load_table(spark, sf_dir, "events")
    from .operators.partitioning import skew_report

    return skew_report(ev, ["user_id"], top_k=20)


SQL_SKEW_REPORT = """
WITH counts AS (
  SELECT coalesce(CAST(user_id AS VARCHAR), '__null__') AS key,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM events GROUP BY 1
), totals AS (
  SELECT CAST(SUM(n_rows) AS DOUBLE) AS total,
         CAST(COUNT(*) AS DOUBLE) AS nkeys
  FROM counts
)
SELECT key, n_rows,
       round(n_rows / total, 6) AS share,
       round(n_rows / (total / nkeys), 4) AS x_avg
FROM counts, totals
ORDER BY n_rows DESC, key ASC LIMIT 20
"""


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report
    (operators/datadiff.py psi_drift): l_extendedprice distribution of
    the full corpus vs the recent-shipdate slice — per-bin fractions
    and PSI contributions, equi-width bins over the source min/max.
    Completes the validation ladder: checksums (agg_compare) ->
    distribution (psi_drift) -> row level (table_diff)."""
    from .operators.datadiff import psi_drift

    li = load_table(spark, sf_dir, "lineitem")
    recent = li.filter(F.col("l_shipdate") >= F.lit("1995-06-01").cast("timestamp"))
    return psi_drift(li, recent, "l_extendedprice", bins=10)


SQL_PSI_DRIFT = """
WITH bounds AS (
  SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS lo,
         CAST(MAX(l_extendedprice) AS DOUBLE) AS hi
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), src AS (
  SELECT CASE WHEN hi > lo THEN LEAST(9, GREATEST(0,
           CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - lo)
                      / ((hi - lo) / 10)) AS INT)))
         ELSE 0 END AS bin_idx, COUNT(*) AS n
  FROM lineitem, bounds WHERE l_extendedprice IS NOT NULL GROUP BY 1
), tgt AS (
  SELECT CASE WHEN hi > lo THEN LEAST(9, GREATEST(0,
           CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - lo)
                      / ((hi - lo) / 10)) AS INT)))
         ELSE 0 END AS bin_idx, COUNT(*) AS n
  FROM lineitem, bounds
  WHERE l_extendedprice IS NOT NULL
    AND l_shipdate >= TIMESTAMP '1995-06-01'
  GROUP BY 1
), dense AS (
  SELECT CAST(r.range AS INT) AS bin_idx,
         lo + CAST(r.range AS INT) * (hi - lo) / 10 AS bin_lo,
         lo + (CAST(r.range AS INT) + 1) * (hi - lo) / 10 AS bin_hi,
         COALESCE(s.n, 0) AS sn, COALESCE(t.n, 0) AS tn
  FROM range(10) r CROSS JOIN bounds
  LEFT JOIN src s ON s.bin_idx = CAST(r.range AS INT)
  LEFT JOIN tgt t ON t.bin_idx = CAST(r.range AS INT)
), fr AS (
  SELECT bin_idx, bin_lo, bin_hi, sn, tn,
         GREATEST(CAST(sn AS DOUBLE) / SUM(sn) OVER (), 1e-6) AS p,
         GREATEST(CAST(tn AS DOUBLE) / SUM(tn) OVER (), 1e-6) AS q
  FROM dense
)
SELECT bin_idx, round(bin_lo, 6) AS bin_lo, round(bin_hi, 6) AS bin_hi,
       CAST(sn AS BIGINT) AS n_source, CAST(tn AS BIGINT) AS n_target,
       round(p - q, 6) AS frac_diff,
       round((p - q) * ln(p / q), 6) AS psi_contrib
FROM fr ORDER BY bin_idx
"""


def q_psi_drift_cat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical PSI (operators/datadiff.py psi_drift_categorical):
    does the non-English slice draw from the same source mix as the
    whole corpus? Top-k source values from the reference side, long
    tail folded to __other__, O(top_k) output."""
    from .operators.datadiff import psi_drift_categorical

    docs = load_table(spark, sf_dir, "documents")
    non_en = docs.filter(F.col("lang") != "en")
    return psi_drift_categorical(docs, non_en, "source", top_k=20)


SQL_PSI_DRIFT_CAT = """
WITH sv AS (
  SELECT coalesce(CAST(source AS VARCHAR), '__null__') AS v FROM documents
), tv AS (
  SELECT coalesce(CAST(source AS VARCHAR), '__null__') AS v
  FROM documents WHERE lang <> 'en'
), top AS (
  SELECT v FROM (
    SELECT v, COUNT(*) AS n FROM sv GROUP BY 1
    ORDER BY n DESC, v ASC LIMIT 20
  )
), sc AS (
  SELECT CASE WHEN v IN (SELECT v FROM top) THEN v
         ELSE '__other__' END AS category, COUNT(*) AS n
  FROM sv GROUP BY 1
), tc AS (
  SELECT CASE WHEN v IN (SELECT v FROM top) THEN v
         ELSE '__other__' END AS category, COUNT(*) AS n
  FROM tv GROUP BY 1
), j AS (
  SELECT coalesce(s.category, t.category) AS category,
         coalesce(s.n, 0) AS sn, coalesce(t.n, 0) AS tn
  FROM sc s FULL OUTER JOIN tc t ON s.category = t.category
), fr AS (
  SELECT category, sn, tn,
         GREATEST(CAST(sn AS DOUBLE) / SUM(sn) OVER (), 1e-6) AS p,
         GREATEST(CAST(tn AS DOUBLE) / SUM(tn) OVER (), 1e-6) AS q
  FROM j
)
SELECT category, CAST(sn AS BIGINT) AS n_source,
       CAST(tn AS BIGINT) AS n_target,
       round(p - q, 6) AS frac_diff,
       round((p - q) * ln(p / q), 6) AS psi_contrib
FROM fr ORDER BY category
"""


_AGG_COMPARE_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def q_agg_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column checksum compare (operators/datadiff.py agg_compare):
    lineitem vs a 'partial migration' copy missing first-line rows at
    key%113 — count/null/min/max/exact-decimal-sum per column with a
    match verdict. The O(cols)-output validator you run BEFORE paying
    for a keyed diff at 100 TB."""
    from .operators.datadiff import agg_compare

    li = load_table(spark, sf_dir, "lineitem")
    tgt = li.filter(
        ~((F.col("l_orderkey") % 113 == 0) & (F.col("l_linenumber") == 1))
    )
    return agg_compare(li, tgt, _AGG_COMPARE_COLS)


def _agg_compare_oracle() -> str:
    tgt = (
        "SELECT * FROM lineitem "
        "WHERE NOT (l_orderkey % 113 = 0 AND l_linenumber = 1)"
    )
    exprs = {
        "n_rows": "CAST(COUNT(*) AS DOUBLE)",
        "n_null": "CAST(COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS DOUBLE)",
        "min": "CAST(MIN({c}) AS DOUBLE)",
        "max": "CAST(MAX({c}) AS DOUBLE)",
        "sum": "CAST(SUM(CAST({c} AS DECIMAL(38,6))) AS DOUBLE)",
    }
    parts = []
    for c in _AGG_COMPARE_COLS:
        for m, e in exprs.items():
            v = e.format(c=c)
            parts.append(
                f"SELECT '{c}' AS column_name, '{m}' AS metric, "
                f"s.v AS source_value, t.v AS target_value, "
                f"(s.v IS NOT DISTINCT FROM t.v) AS is_match "
                f"FROM (SELECT {v} AS v FROM lineitem) s, "
                f"(SELECT {v} AS v FROM ({tgt})) t"
            )
    return (
        "SELECT * FROM ("
        + " UNION ALL ".join(parts)
        + ") ORDER BY column_name, metric"
    )


SQL_AGG_COMPARE = _agg_compare_oracle()

# ---------------------------------------------------------------------------
# F1/A1: filtered count (WHERE pushdown)
# ---------------------------------------------------------------------------

_FILTER = "l_shipdate >= TIMESTAMP '1995-06-01' AND l_quantity < 25"


def q_rowcount_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "lineitem").filter(F.expr(_FILTER))
    return df.groupBy().agg(F.count(F.lit(1)).alias("row_count"))


SQL_ROWCOUNT_FILTERED = (
    f"SELECT CAST(COUNT(*) AS BIGINT) AS row_count FROM lineitem WHERE {_FILTER}"
)

# ---------------------------------------------------------------------------
# A5: dbstats source/target count compare (difference + percentage)
# ---------------------------------------------------------------------------

_PAIRS = [("orders", "lineitem"), ("customer", "supplier"), ("nation", "region")]


def q_count_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    involved = sorted({t for pair in _PAIRS for t in pair})
    counts = table_row_counts(spark, sf_dir, involved)
    pairs_df = spark.createDataFrame(
        [(f"{a}_vs_{b}", a, b) for a, b in _PAIRS],
        ["pair", "source_table", "target_table"],
    )
    src = (
        pairs_df.join(
            counts, pairs_df.source_table == counts.table_name, "left"
        )
        .select("pair", "row_count", "notes")
    )
    tgt = (
        pairs_df.join(
            counts, pairs_df.target_table == counts.table_name, "left"
        )
        .select("pair", "row_count", "notes")
    )
    return count_compare(src, tgt, join_on="pair").select(
        "pair",
        "source_row_count",
        "target_row_count",
        "difference",
        "percentage_difference",
    )


SQL_COUNT_COMPARE = " UNION ALL ".join(
    f"""
    SELECT '{a}_vs_{b}' AS pair,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {a}) AS source_row_count,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {b}) AS target_row_count,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {b}) - (SELECT CAST(COUNT(*) AS BIGINT) FROM {a}) AS difference,
           CASE WHEN (SELECT COUNT(*) FROM {a}) <> 0
                THEN round(((SELECT COUNT(*) FROM {b}) - (SELECT COUNT(*) FROM {a}))
                           / CAST((SELECT COUNT(*) FROM {a}) AS DOUBLE) * 100, 2)
                WHEN (SELECT COUNT(*) FROM {b}) = (SELECT COUNT(*) FROM {a}) THEN 0.0
                ELSE NULL END AS percentage_difference
    """
    for a, b in _PAIRS
)

# ---------------------------------------------------------------------------
# A2/A4: null/distinct profiler (nullcheck)
# ---------------------------------------------------------------------------


def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_columns(load_table(spark, sf_dir, "lineitem"), "lineitem")


_NUMERIC_PROFILE_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
]


def q_profile_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric statistical profile of lineitem — one scan for min/max/
    decimal-exact mean/exact interpolated percentiles of every numeric
    column (operators/profile.profile_numeric)."""
    from .operators.profile import profile_numeric

    return profile_numeric(
        load_table(spark, sf_dir, "lineitem"), "lineitem",
        columns=_NUMERIC_PROFILE_COLS,
    )


def _numeric_profile_sql(table: str, cols: list[str]) -> str:
    """DuckDB twin: one SELECT per column (quantile_cont == Spark's
    interpolating percentile; means via DECIMAL(38,10) sums)."""
    parts = []
    for c in cols:
        parts.append(f"""
SELECT '{table}' AS table_name, '{c}' AS col_name,
       COUNT({c}) AS non_null_count,
       COUNT(*) - COUNT({c}) AS null_count,
       CAST(MIN({c}) AS DOUBLE) AS min_value,
       CAST(MAX({c}) AS DOUBLE) AS max_value,
       round(CAST(SUM(CAST({c} AS DECIMAL(38,10))) AS DOUBLE) / COUNT({c}), 4) AS mean_value,
       round(CAST(quantile_cont(CAST({c} AS DOUBLE), 0.25) AS DOUBLE), 4) AS p25,
       round(CAST(quantile_cont(CAST({c} AS DOUBLE), 0.5) AS DOUBLE), 4) AS p50,
       round(CAST(quantile_cont(CAST({c} AS DOUBLE), 0.75) AS DOUBLE), 4) AS p75
FROM {table}""")
    return "\nUNION ALL\n".join(parts)


SQL_PROFILE_NUMERIC = _numeric_profile_sql("lineitem", _NUMERIC_PROFILE_COLS)


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 10-bucket histogram of every lineitem numeric column —
    scaled-integer bucketing, one broadcast bounds pass + one tiny-output
    shuffle (operators/profile.numeric_histogram)."""
    from .operators.profile import numeric_histogram

    return numeric_histogram(
        load_table(spark, sf_dir, "lineitem"), "lineitem",
        columns=_NUMERIC_PROFILE_COLS, n_buckets=10,
    )


def _histogram_sql(table: str, cols: list[str], n: int) -> str:
    """DuckDB twin: identical scaled-int64 bucket arithmetic (// equals
    Spark's div for the non-negative operands here)."""
    parts = []
    for c in cols:
        parts.append(f"""
SELECT '{table}' AS table_name, '{c}' AS col_name,
       CAST(LEAST(((vi - lo) * {n}) // (hi - lo + 1), {n} - 1) AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(lo AS DOUBLE) / 1000000 AS min_value,
       CAST(hi AS DOUBLE) / 1000000 AS max_value
FROM (SELECT CAST(TRY_CAST({c} AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vi
      FROM {table}
      WHERE TRY_CAST({c} AS DECIMAL(18,6)) IS NOT NULL) v,
     (SELECT MIN(CAST(TRY_CAST({c} AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS lo,
             MAX(CAST(TRY_CAST({c} AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS hi
      FROM {table}) b
GROUP BY 1, 2, 3, 5, 6""")
    return "\nUNION ALL\n".join(parts)


SQL_VALUE_HISTOGRAM = _histogram_sql("lineitem", _NUMERIC_PROFILE_COLS, 10)

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of lineitem value columns in ONE
    scan — decimal-exact order-independent sums, double math applied once
    (operators/profile.correlation_matrix)."""
    from .operators.profile import correlation_matrix

    return correlation_matrix(
        load_table(spark, sf_dir, "lineitem"), "lineitem", columns=_CORR_COLS
    )


def _corr_matrix_sql(table: str, cols: list[str]) -> str:
    """DuckDB twin: same exact decimal sums, same double expression tree
    (IEEE ops on identical inputs => bit-identical), same zero-variance
    NULL rule. TRY_CAST to DECIMAL(18,6) fixes the value domain to
    Spark's try_cast exactly (out-of-range -> NULL, excluded); the
    outer widening to DECIMAL(19,6) forces DuckDB's int128-backed
    arithmetic for the products — width 18 multiplies in int64 and
    overflows; the numeric values are identical either way."""
    parts = []
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        parts.append(f"""
SELECT '{table}' AS table_name, '{a}' AS col_x, '{b}' AS col_y,
       CAST(cnt AS BIGINT) AS n_pairs,
       CASE WHEN (n * sx2 - sx * sx) > 0 AND (n * sy2 - sy * sy) > 0
            THEN round((n * sxy - sx * sy)
                       / sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy)), 4)
            ELSE NULL END AS corr
FROM (
  SELECT COUNT(*) AS cnt, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(xa) AS DOUBLE) AS sx, CAST(SUM(xb) AS DOUBLE) AS sy,
         CAST(SUM(xa * xb) AS DOUBLE) AS sxy,
         CAST(SUM(xa * xa) AS DOUBLE) AS sx2,
         CAST(SUM(xb * xb) AS DOUBLE) AS sy2
  FROM (SELECT CAST(TRY_CAST({a} AS DECIMAL(18,6)) AS DECIMAL(19,6)) AS xa,
               CAST(TRY_CAST({b} AS DECIMAL(18,6)) AS DECIMAL(19,6)) AS xb
        FROM {table})
  WHERE xa IS NOT NULL AND xb IS NOT NULL
)""")
    return "\nUNION ALL\n".join(parts)


SQL_CORR_MATRIX = _corr_matrix_sql("lineitem", _CORR_COLS)

_FREQ_COLS = ["l_returnflag", "l_linestatus", "l_linenumber"]


def q_frequent_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most frequent values of lineitem's categorical columns —
    heavy-hitters profiling panel (operators/profile.frequent_values)."""
    from .operators.profile import frequent_values

    return frequent_values(
        load_table(spark, sf_dir, "lineitem"), "lineitem",
        columns=_FREQ_COLS, k=5,
    )


def _frequent_values_sql(table: str, cols: list[str], k: int) -> str:
    """DuckDB twin: same string canon, NULLs excluded, same
    (count desc, value asc) deterministic tie cut."""
    pair_selects = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS value FROM {table}"
        for c in cols
    )
    return f"""
WITH pairs AS (
{pair_selects}
), counts AS (
  SELECT col_name, value, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM pairs WHERE value IS NOT NULL GROUP BY col_name, value
)
SELECT '{table}' AS table_name, col_name, CAST(rank AS INTEGER) AS rank,
       value, n_rows
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY col_name ORDER BY n_rows DESC, value ASC) AS rank
  FROM counts
) WHERE rank <= {k} ORDER BY col_name, rank
"""


SQL_FREQUENT_VALUES = _frequent_values_sql("lineitem", _FREQ_COLS, 5)


def _profile_sql(table: str, cols: list[str]) -> str:
    parts = []
    for i, c in enumerate(cols, start=1):
        parts.append(
            f"""
            SELECT '{table}' AS table_name, '{c}' AS col_name,
                   CAST({i} AS INTEGER) AS ordinal,
                   CAST(COUNT(*) AS BIGINT) AS total_rows,
                   CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS null_count,
                   CAST(COUNT(DISTINCT {c}) AS BIGINT) AS distinct_count,
                   CASE WHEN COUNT(DISTINCT {c}) = 0 THEN 'NULL column'
                        WHEN COUNT(DISTINCT {c}) <= 5 THEN 'Low distinct'
                        ELSE 'OK' END AS status
            FROM {table}
            """
        )
    return " UNION ALL ".join(parts)


SQL_PROFILE_LINEITEM = _profile_sql("lineitem", LINEITEM_COLS)


def q_low_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = [
        profile_columns(load_table(spark, sf_dir, t), t)
        for t in ("orders", "events")
    ]
    return (
        _union_all(parts)
        .filter(F.col("status") != "OK")
        .select("table_name", "col_name", "distinct_count", "status")
    )


SQL_LOW_DISTINCT = f"""
SELECT table_name, col_name, distinct_count, status FROM (
  {_profile_sql("orders", ORDERS_COLS)}
  UNION ALL
  {_profile_sql("events", EVENTS_COLS)}
) WHERE status <> 'OK'
"""

# ---------------------------------------------------------------------------
# S6/S7: schema extraction (the 6-column IR) for all tables
# ---------------------------------------------------------------------------

_IR_OUT = [
    ("SCH_TABLE", "sch_table"),
    ("COL_NAME", "col_name"),
    ("ORDINAL_POSITION", "ordinal_position"),
    ("DATA_TYPE", "data_type"),
    ("DATETIME_PRECISION", "datetime_precision"),
    ("NUMERIC_PRECISION", "numeric_precision"),
    ("NUMERIC_SCALE", "numeric_scale"),
]


def q_schema_all_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    ir = build_schema_df(spark, load_tables(spark, sf_dir, TPCH_TABLES))
    return ir.select(*[F.col(a).alias(b) for a, b in _IR_OUT])


_TABLES_IN = ", ".join(f"'{t}'" for t in TPCH_TABLES)

SQL_SCHEMA_ALL_TABLES = f"""
SELECT UPPER(table_name) AS sch_table, UPPER(column_name) AS col_name,
       CAST(ordinal_position AS INTEGER) AS ordinal_position,
       data_type,
       CAST(datetime_precision AS INTEGER) AS datetime_precision,
       CAST(numeric_precision AS INTEGER) AS numeric_precision,
       CAST(numeric_scale AS INTEGER) AS numeric_scale
FROM information_schema.columns
WHERE table_name IN ({_TABLES_IN})
"""

# ---------------------------------------------------------------------------
# T1-T3: column comparison with simulated drift
# (target = source minus l_tax, minus region, o_totalprice -> DECIMAL,
#  c_custkey -> INTEGER)
# ---------------------------------------------------------------------------


def q_colcompare(spark: SparkSession, sf_dir: str) -> DataFrame:
    ir = build_schema_df(spark, load_tables(spark, sf_dir, TPCH_TABLES))
    tgt = (
        ir.filter(
            ~((F.col("SCH_TABLE") == "LINEITEM") & (F.col("COL_NAME") == "L_TAX"))
        )
        .filter(F.col("SCH_TABLE") != "REGION")
        .withColumn(
            "DATA_TYPE",
            F.when(
                (F.col("SCH_TABLE") == "ORDERS")
                & (F.col("COL_NAME") == "O_TOTALPRICE"),
                F.lit("DECIMAL(12,2)"),
            )
            .when(
                (F.col("SCH_TABLE") == "CUSTOMER")
                & (F.col("COL_NAME") == "C_CUSTKEY"),
                F.lit("INTEGER"),
            )
            .otherwise(F.col("DATA_TYPE")),
        )
    )
    return compare_columns(ir, tgt)


def _groups_sql(expr: str) -> str:
    """CASE mapping a canonical type name to its list of group names —
    generated from the same dict the Spark expression uses."""
    all_types = sorted({t for ts in DEFAULT_TYPE_MAPPINGS.values() for t in ts})
    whens = []
    for t in all_types:
        groups = [g for g, ts in DEFAULT_TYPE_MAPPINGS.items() if t in ts]
        lst = ", ".join(f"'{g}'" for g in groups)
        whens.append(f"WHEN {expr} = '{t}' THEN [{lst}]")
    return f"CASE {' '.join(whens)} ELSE CAST([] AS VARCHAR[]) END"


def _compat_sql(a: str, b: str) -> str:
    ca = f"trim(split_part({a}, '(', 1))"
    cb = f"trim(split_part({b}, '(', 1))"
    return (
        f"({ca} = {cb}"
        f" OR ({ca} LIKE 'TIMESTAMP%' AND {cb} LIKE 'TIMESTAMP%')"
        f" OR list_has_any({_groups_sql(ca)}, {_groups_sql(cb)}))"
    )


SQL_COLCOMPARE = f"""
WITH src AS (
  SELECT UPPER(table_name) AS table_name, UPPER(column_name) AS col_name, data_type
  FROM information_schema.columns WHERE table_name IN ({_TABLES_IN})
), tgt AS (
  SELECT table_name, col_name,
         CASE WHEN table_name = 'ORDERS' AND col_name = 'O_TOTALPRICE' THEN 'DECIMAL(12,2)'
              WHEN table_name = 'CUSTOMER' AND col_name = 'C_CUSTKEY' THEN 'INTEGER'
              ELSE data_type END AS data_type
  FROM src
  WHERE NOT (table_name = 'LINEITEM' AND col_name = 'L_TAX')
    AND table_name <> 'REGION'
)
SELECT COALESCE(s.table_name, t.table_name) AS table_name,
       COALESCE(s.col_name, t.col_name) AS col_name,
       s.data_type AS source_type,
       t.data_type AS target_type,
       CASE WHEN t.col_name IS NULL THEN 'Source Only'
            WHEN s.col_name IS NULL THEN 'Target Only'
            WHEN {_compat_sql("s.data_type", "t.data_type")} THEN 'Matching'
            ELSE 'Different Types' END AS status
FROM src s FULL OUTER JOIN tgt t
  ON s.table_name = t.table_name AND s.col_name = t.col_name
"""

# ---------------------------------------------------------------------------
# A3/A4: candidate-key checks (keyfinder's per-candidate queries)
# ---------------------------------------------------------------------------

_KEY_CANDIDATES: list[tuple[str, tuple[str, ...]]] = [
    ("orders", ("o_orderkey",)),
    ("orders", ("o_custkey",)),
    ("orders", ("o_custkey", "o_orderdate")),
    ("lineitem", ("l_orderkey",)),
    ("lineitem", ("l_orderkey", "l_linenumber")),
]


def q_key_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    by_table: dict[str, list[tuple[str, ...]]] = {}
    for t, cand in _KEY_CANDIDATES:
        by_table.setdefault(t, []).append(cand)
    parts = []
    for t, cands in by_table.items():
        df = load_table(spark, sf_dir, t)
        aggs = [F.count(F.lit(1)).alias("__total")]
        for i, cand in enumerate(cands):
            any_null = None
            for c in cand:
                cond = F.col(c).isNull()
                any_null = cond if any_null is None else (any_null | cond)
            aggs.append(F.count(F.when(any_null, 1)).alias(f"__n_{i}"))
            aggs.append(F.countDistinct(*[F.col(c) for c in cand]).alias(f"__d_{i}"))
        one = df.groupBy().agg(*aggs)
        structs = [
            F.struct(
                F.lit(t).alias("table_name"),
                F.lit("+".join(cand)).alias("candidate"),
                F.col("__total").cast("long").alias("total_rows"),
                F.col(f"__n_{i}").cast("long").alias("null_rows"),
                F.col(f"__d_{i}").cast("long").alias("distinct_rows"),
            )
            for i, cand in enumerate(cands)
        ]
        parts.append(one.select(F.inline(F.array(*structs))))
    out = _union_all(parts)
    return out.withColumn(
        "is_key",
        (F.col("null_rows") == 0) & (F.col("distinct_rows") == F.col("total_rows")),
    )


def _key_check_sql(table: str, cand: tuple[str, ...]) -> str:
    null_pred = " OR ".join(f"{c} IS NULL" for c in cand)
    not_null = " AND ".join(f"{c} IS NOT NULL" for c in cand)
    cols = ", ".join(cand)
    return f"""
    SELECT '{table}' AS table_name, '{"+".join(cand)}' AS candidate,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {table}) AS total_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {table} WHERE {null_pred}) AS null_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT DISTINCT {cols} FROM {table} WHERE {not_null}) x) AS distinct_rows,
           ((SELECT COUNT(*) FROM {table} WHERE {null_pred}) = 0 AND
            (SELECT COUNT(*) FROM (SELECT DISTINCT {cols} FROM {table} WHERE {not_null}) x)
              = (SELECT COUNT(*) FROM {table})) AS is_key
    """


SQL_KEY_CHECKS = " UNION ALL ".join(
    _key_check_sql(t, cand) for t, cand in _KEY_CANDIDATES
)

# ---------------------------------------------------------------------------
# Dedup: exact fingerprints + group sizes
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fingerprint")
    return (
        docs.select(
            "doc_id", F.md5(normalize_text("text")).alias("fingerprint")
        )
        .withColumn("group_size", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("is_dup", F.col("group_size") > 1)
    )


SQL_DEDUP_EXACT = r"""
SELECT doc_id, fingerprint,
       CAST(COUNT(*) OVER (PARTITION BY fingerprint) AS BIGINT) AS group_size,
       (COUNT(*) OVER (PARTITION BY fingerprint)) > 1 AS is_dup
FROM (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
  FROM documents
)
"""

# ---------------------------------------------------------------------------
# Text stats
# ---------------------------------------------------------------------------


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(load_table(spark, sf_dir, "documents"))


SQL_TOKEN_STATS = r"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_word_tokens,
       CASE WHEN len(toks) > 0
            THEN round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                       / len(toks), 4)
            ELSE 0.0 END AS avg_token_len
FROM (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
)
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(load_table(spark, sf_dir, "documents"))


_EN_STOPS = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
# same class the Spark side uses, single-quote escaped for the SQL literal
from .operators.textstats import PUNCT_CLASS as _PUNCT_CLASS  # noqa: E402

_PUNCT_SQL = _PUNCT_CLASS.replace("'", "''")

SQL_TEXT_QUALITY = rf"""
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(punct_ratio, 4) AS punct_ratio,
       round(alpha_ratio, 4) AS alpha_ratio,
       round(stop_ratio, 4) AS stopword_ratio,
       round(least(n_tokens / 100.0, 1.0) * 0.25
             + alpha_ratio * 0.35
             + (1 - least(punct_ratio * 5, 1.0)) * 0.2
             + least(stop_ratio * 5, 1.0) * 0.2, 4) AS quality_score
FROM (
  SELECT doc_id, n_tokens,
         CASE WHEN n_chars > 0 THEN punct_count / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_chars > 0 THEN alpha_count / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS alpha_ratio,
         CASE WHEN n_tokens > 0 THEN stop_count / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stop_ratio
  FROM (
    SELECT doc_id,
           length(text) AS n_chars,
           len(toks) AS n_tokens,
           length(text) - length(regexp_replace(text, '{_PUNCT_SQL}', '', 'g')) AS punct_count,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_count,
           len(list_filter(toks, x -> list_contains([{_EN_STOPS}], x))) AS stop_count
    FROM (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents
    )
  )
)
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load_table(spark, sf_dir, "documents"))


def _langid_sql() -> str:
    hit_cols = []
    for lang in sorted(STOPWORDS):
        stops = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        hit_cols.append(
            f"len(list_filter(toks, x -> list_contains([{stops}], x))) AS h_{lang}"
        )
    langs = sorted(STOPWORDS)
    best = f"greatest({', '.join('h_' + lang for lang in langs)})"
    # tie-break: lexicographically greatest lang (matches Spark's
    # array_max over struct(hits, lang))
    whens = " ".join(
        f"WHEN h_{lang} = {best} THEN '{lang}'" for lang in reversed(langs)
    )
    return rf"""
    SELECT doc_id, CASE {whens} END AS predicted_lang,
           CAST({best} AS BIGINT) AS stopword_hits
    FROM (
      SELECT doc_id, {', '.join(hit_cols)}
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        FROM documents
      )
    )
    """


SQL_LANGUAGE_ID = _langid_sql()


def q_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus rollup (docs, tokens, mean quality/length) —
    ONE scan + one aggregation (see operators/textstats.corpus_summary)."""
    return corpus_summary(load_table(spark, sf_dir, "documents"))


# Composes the existing per-doc oracles (they are plain SELECTs, so they
# nest as CTEs). Quality mean via DECIMAL(18,6) sums of the rounded
# per-doc score — exact order-independent arithmetic on both engines.
SQL_CORPUS_SUMMARY = f"""
WITH q AS ({SQL_TEXT_QUALITY}),
l AS ({SQL_LANGUAGE_ID}),
c AS (SELECT doc_id, length(text) AS n_chars FROM documents)
SELECT l.predicted_lang,
       COUNT(*) AS n_docs,
       CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens,
       round(CAST(SUM(CAST(q.quality_score AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 4) AS avg_quality,
       round(CAST(SUM(c.n_chars) AS DOUBLE) / COUNT(*), 2) AS avg_chars
FROM l JOIN q USING (doc_id) JOIN c USING (doc_id)
GROUP BY l.predicted_lang
ORDER BY l.predicted_lang
"""

def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (operators/normalize.py): NFC +
    lowercase + whitespace collapse over every document — the
    pre-dedup/pre-tokenize step; compared to DuckDB's nfc_normalize +
    lower + regexp twin byte-for-byte."""
    from .operators.normalize import normalize_text

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return normalize_text(docs, out_col="norm_text").orderBy("doc_id")


SQL_NORMALIZE_TEXT = r"""
SELECT doc_id, text,
       trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))
         AS norm_text
FROM documents ORDER BY doc_id
"""


def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup per (source, lang) slice
    (textstats.corpus_card): docs, tokens, mean quality/length,
    distinct texts, exact-dup rate — one scan + one aggregation."""
    from .operators.textstats import corpus_card

    return corpus_card(
        load_table(spark, sf_dir, "documents"), group_cols=["source", "lang"]
    )


SQL_CORPUS_CARD = f"""
WITH q AS ({SQL_TEXT_QUALITY}),
c AS (SELECT doc_id, source, lang, length(text) AS n_chars,
             md5(coalesce(text, '')) AS fp
      FROM documents)
SELECT c.source, c.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(floor(round(q.quality_score, 4) * 10000 + 0.5)
                     AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 10000.0 AS avg_quality,
       CAST(SUM(c.n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(COUNT(DISTINCT c.fp) AS BIGINT) AS n_distinct_texts,
       1.0 - CAST(COUNT(DISTINCT c.fp) AS DOUBLE) / COUNT(*) AS dup_rate
FROM c JOIN q USING (doc_id)
GROUP BY c.source, c.lang
ORDER BY c.source, c.lang
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM scoring of every document (add-one smoothing, self-fit
    vocabulary) — perplexity-style quality signal
    (operators/textstats.lm_score)."""
    from .operators.textstats import lm_score

    return lm_score(load_table(spark, sf_dir, "documents"))


# DuckDB twin: identical tokenization, per-term ln p rounded to 6 and
# canonicalized to DECIMAL(18,6) before the per-doc sum (exact,
# order-independent), division/exp applied once to identical inputs.
SQL_LM_SCORE = r"""
WITH toks AS (
  SELECT doc_id, unnest(
    list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
                x -> x <> '')) AS term
  FROM documents
), doc_terms AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
), vocab AS (
  SELECT term, CAST(SUM(tf) AS BIGINT) AS c FROM doc_terms GROUP BY term
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS v
  FROM vocab
), lp AS (
  SELECT term,
         CAST(round(ln(CAST(c + 1 AS DOUBLE) / CAST(t + v AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS lp
  FROM vocab, tot
), agg AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         SUM(CAST(tf AS DECIMAL(18,0)) * lp) AS s
  FROM doc_terms JOIN lp USING (term) GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       avg6 / 1000000.0 AS avg_logprob,
       round(exp(-(avg6 / 1000000.0)), 4) AS perplexity
FROM (
  -- EXACT half-away-from-zero rounding of s/n at 6 places in integer
  -- micros: engines' round() disagree on exact .5e-6 boundaries of a
  -- double quotient (caught at sf0.1), integer div never does
  SELECT doc_id, n_tokens,
    CASE WHEN s < 0
         THEN -((2 * CAST(-s * 1000000 AS BIGINT) + n_tokens)
                // (2 * n_tokens))
         ELSE ((2 * CAST(s * 1000000 AS BIGINT) + n_tokens)
               // (2 * n_tokens)) END AS avg6
  FROM agg
) ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Similarity: cosine top-k vs the vec_id=0 query vector
# ---------------------------------------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    joined = emb.crossJoin(F.broadcast(q))
    dot = F.aggregate(
        F.zip_with(
            "embedding", "q_emb", lambda a, b: a.cast("double") * b.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_e = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    norm_q = F.sqrt(
        F.aggregate(
            "q_emb",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    cos = dot / (norm_e * norm_q)
    return (
        joined.select("vec_id", cos.alias("__cos"))
        .orderBy(F.desc("__cos"), F.col("vec_id"))
        .limit(10)
        .select("vec_id", F.round("__cos", 4).alias("cosine"))
    )


SQL_COSINE_TOPK = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         list_sum(list_transform(list_zip(e.embedding, q.qe),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
  FROM embeddings e, q
)
SELECT vec_id, round(c, 4) AS cosine
FROM scored ORDER BY c DESC, vec_id LIMIT 10
"""

# ---------------------------------------------------------------------------
# Embedding-cosine near-dup / exact-NN, blocked by LSH buckets (NOT by the
# label column): every vector lands in 64 bands x 2-bit random-hyperplane
# buckets; each (label, band, bucket) block runs an exact numpy matmul via
# applyInPandas and the bands are unioned. `label` stays in the block key
# purely as the SEMANTIC filter (the contract is within-label pairs) — a
# hot label no longer means one executor-sized block, because the bucket
# granularity (bits_per_band) caps expected block size at n/2^bits
# independent of the data. Recall at 64x2: miss <= (1-p_band)^64 with
# p_band = (1-theta/pi)^2 — < 1e-7 even for cosine-0 pairs, empirically
# exact vs the brute-force oracle. Operators: operators/similarity.py.
# ---------------------------------------------------------------------------


def _warn_on_drops(name: str, stats: dict) -> None:
    """The block cap drops rows OBSERVABLY (ADVICE r5): surface nonzero
    drop counts from the shipped queries instead of swallowing them."""
    if stats.get("n_dropped_rows"):
        import logging

        logging.getLogger(__name__).warning(
            "%s: block-size guard dropped %d rows across %d oversized "
            "buckets — results exclude those blocks",
            name,
            stats["n_dropped_rows"],
            stats["n_dropped_buckets"],
        )


def q_embedding_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    # 48 bands x 2 bits: miss <= (1-p_band)^48 ~ 5e-8 per vector at the
    # corpus' lowest NN cosine (0.134) — exact in practice (oracle-gated),
    # 25% cheaper than 64 bands
    # max_block_size: generous last-resort quadratic guard (never fires at
    # test scale — expected block ~n_label/4; at corpus scale it bounds a
    # hot bucket to one executor-sized matmul and the drop is observable:
    # drop_stats is filled eagerly and logged when nonzero)
    stats: dict = {}
    nn = _localized(
        embedding_blocked_nn(
            emb, key_cols=["label"], bands=48, bits_per_band=2, seed=42,
            max_block_size=10_000, drop_stats=stats,
        )
    )
    _warn_on_drops("embedding_nn", stats)
    return nn.select("vec_id", "nn_id", F.round("cosine", 4).alias("cosine"))


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (the dedup-by-embedding
    entry): every within-label pair with cosine >= 0.35 (the synthetic
    embeddings are near-orthogonal, max within-label cosine ~0.47 — the
    threshold exercises real matches without a degenerate full cross
    product), computed via LSH-bucket blocking (see module comment)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    stats: dict = {}
    pairs = _localized(
        embedding_near_dup_pairs(
            emb, 0.35, key_cols=["label"], bands=64, bits_per_band=2, seed=42,
            max_block_size=10_000, drop_stats=stats,
        )
    )
    _warn_on_drops("embedding_near_dups", stats)
    return pairs


SQL_EMBEDDING_NEAR_DUPS = """
SELECT id_a, id_b, c AS cosine FROM (
  SELECT least(a.vec_id, b.vec_id) AS id_a,
         greatest(a.vec_id, b.vec_id) AS id_b,
         round(
           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS c
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
WHERE c >= 0.35
"""


SQL_EMBEDDING_NN = """
WITH pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id <> b.vec_id
)
SELECT vec_id, nn_id, round(c, 4) AS cosine FROM (
  SELECT vec_id, nn_id, c,
         row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, nn_id) AS rn
  FROM pairs
) WHERE rn = 1
"""

# ---------------------------------------------------------------------------
# Events: hourly windowed aggregation (batch shape of the streaming check)
# ---------------------------------------------------------------------------


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_format(
        F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
    )
    return (
        ev.groupBy(F.col("event_type"), hour.alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC.lower())).alias("__s"),
        )
        .select(
            "event_type",
            "hour_ts",
            "n_events",
            _avg_exact_spark("__s", "n_events", 4).alias("avg_value"),
        )
    )


def q_events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy: hour, day, and
    grand-total buckets of the events stream in ONE pass via ROLLUP
    (Catalyst's Expand produces all three grouping levels from a single
    scan — the batch shape of a multi-resolution materialized rollup)."""
    _ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    hour = F.date_format(
        F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
    )
    return (
        ev.rollup(day.alias("day"), hour.alias("hour"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(_dsum_spark(F.col("value")), 2).alias("total_value"),
        )
    )


SQL_EVENTS_MULTIRES_ROLLUP = f"""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round({_dsum("value")}, 2) AS total_value
FROM events
GROUP BY ROLLUP (strftime(date_trunc('day', ts), '%Y-%m-%d'),
                 strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'))
"""


SQL_EVENTS_HOURLY = f"""
SELECT event_type, hour_ts, n_events,
       {_avg_exact_sql("s", "n_events", 4)} AS avg_value
FROM (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(value AS DECIMAL(18,6))) AS s
  FROM events GROUP BY 1, 2
)
"""

# ---------------------------------------------------------------------------
# Structured Streaming: windowed event profile, drained with availableNow.
# Deterministic (complete mode over a static source), so the batch SQL is
# a valid oracle — demonstrating stream/batch equivalence.
# ---------------------------------------------------------------------------


def q_streaming_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog import table_path
    from .streaming.checks import (
        normalize_event_ts,
        run_stream_once,
        stream_events_from_parquet,
        windowed_event_profile,
    )

    _ensure_utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    raw_schema = spark.read.parquet(path).schema  # long (nanos) or (N)TZ
    stream = stream_events_from_parquet(spark, path, schema=raw_schema)

    def transform(df: DataFrame) -> DataFrame:
        df = normalize_event_ts(df)
        prof = windowed_event_profile(df, "1 hour", watermark="2 hours")
        return prof.select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "n_null_values",
        )

    rows = run_stream_once(stream, transform, output_mode="complete")
    out = spark.createDataFrame(
        rows, "window_start string, event_type string, n_events long, n_null_values long"
    )
    return out


SQL_STREAMING_HOURLY_PROFILE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) - COUNT(value) AS BIGINT) AS n_null_values
FROM events GROUP BY 1, 2
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup: drain the event stream through a
    first-occurrence filter on (user_id, event_type, props) — the exact
    front gate of a training-data pipeline (the corpus has a ~6.5%
    duplicate rate on that key). Exact/global mode here (bounded
    backfill); the watermark-bounded state variant is unit-tested in
    tests/test_streaming.py."""
    from .catalog import table_path
    from .streaming.checks import run_stream_once, stream_events_from_parquet
    from .streaming.dedup import dedup_keys

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    raw_schema = spark.read.parquet(path).schema
    stream = stream_events_from_parquet(spark, path, schema=raw_schema)

    rows = run_stream_once(
        stream,
        lambda df: dedup_keys(df, ["user_id", "event_type", "props"]),
        output_mode="append",
    )
    return spark.createDataFrame(
        rows, "user_id long, event_type string, props string"
    )


SQL_STREAMING_DEDUP = """
SELECT DISTINCT user_id, event_type, props FROM events
"""


def _gate_url_col() -> "F.Column":
    """Messy re-spelling synth shared by the streaming URL-gate
    queries: even user_ids announce the page behind case / default
    port / utm / fragment noise, odd ones behind the plain spelling —
    both canonicalize to one URL per (site, event_type, user_id//7)."""
    d7 = F.expr("user_id div 7")
    return F.when(
        F.col("user_id") % 2 == 0,
        F.concat(
            F.lit("HTTP://WWW.Site-"),
            F.col("user_id") % 5,
            F.lit(".COM:80/"),
            F.col("event_type"),
            F.lit("/"),
            d7,
            F.lit("/?utm_source=feed&x=1#top"),
        ),
    ).otherwise(
        F.concat(
            F.lit("http://www.site-"),
            F.col("user_id") % 5,
            F.lit(".com/"),
            F.col("event_type"),
            F.lit("/"),
            d7,
            F.lit("?x=1"),
        ),
    )


def q_streaming_url_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming URL-dedup gate (streaming/dedup.url_first_seen):
    events re-announce pages behind messy spellings (case, default
    port, utm params, fragment — keyed off user_id/event_type), the
    gate drains them through a canonical-URL first-occurrence filter;
    the oracle replays canonicalization + DISTINCT."""
    from .catalog import table_path
    from .streaming.checks import run_stream_once, stream_events_from_parquet
    from .streaming.dedup import url_first_seen

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    raw_schema = spark.read.parquet(path).schema
    # spread: the ~40-op canon chain otherwise runs on the one-file
    # micro-batch's single scan partition (r15, measured ~0.5-1.2 s)
    stream = stream_events_from_parquet(
        spark, path, schema=raw_schema, spread=True
    )

    def with_urls(df: DataFrame) -> DataFrame:
        return url_first_seen(df.withColumn("url", _gate_url_col()))

    rows = run_stream_once(stream, with_urls, output_mode="append")
    return spark.createDataFrame(rows, "url_canon string").orderBy(
        "url_canon"
    )


SQL_STREAMING_URL_GATE = f"""
WITH u AS (
  SELECT CASE
    WHEN user_id % 2 = 0 THEN
      'HTTP://WWW.Site-' || (user_id % 5) || '.COM:80/' || event_type
      || '/' || (user_id // 7) || '/?utm_source=feed&x=1#top'
    ELSE
      'http://www.site-' || (user_id % 5) || '.com/' || event_type
      || '/' || (user_id // 7) || '?x=1'
  END AS url
  FROM events
),
{_sql_url_canon_ctes("u")}
SELECT DISTINCT cu AS url_canon FROM canon ORDER BY url_canon
"""


def q_streaming_domain_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-suffix blocklist on the streaming URL gate (streaming/
    dedup.url_first_seen ``blocked_domains=`` + urltools.
    domain_blocklist): arrivals under blocked domains drop BEFORE the
    state store ever sees them — blocked hosts cost zero state at
    crawl scale. The oracle replays the host-suffix verdicts +
    canonicalization + DISTINCT."""
    from .catalog import table_path
    from .streaming.checks import (
        run_stream_once,
        stream_events_from_parquet,
    )
    from .streaming.dedup import url_first_seen

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    raw_schema = spark.read.parquet(path).schema
    # spread: the ~40-op canon chain otherwise runs on the one-file
    # micro-batch's single scan partition (r15, measured ~0.5-1.2 s)
    stream = stream_events_from_parquet(
        spark, path, schema=raw_schema, spread=True
    )

    def with_urls(df: DataFrame) -> DataFrame:
        return url_first_seen(
            df.withColumn("url", _gate_url_col()),
            blocked_domains=["site-1.com", "site-3.com"],
        )

    rows = run_stream_once(stream, with_urls, output_mode="append")
    return spark.createDataFrame(rows, "url_canon string").orderBy(
        "url_canon"
    )


SQL_STREAMING_DOMAIN_GATE = f"""
WITH u AS (
  SELECT CASE
    WHEN user_id % 2 = 0 THEN
      'HTTP://WWW.Site-' || (user_id % 5) || '.COM:80/' || event_type
      || '/' || (user_id // 7) || '/?utm_source=feed&x=1#top'
    ELSE
      'http://www.site-' || (user_id % 5) || '.com/' || event_type
      || '/' || (user_id // 7) || '?x=1'
  END AS url
  FROM events
  WHERE user_id % 5 NOT IN (1, 3)  -- host www.site-N.com falls under
                                   -- blocked suffix site-N.com
),
{_sql_url_canon_ctes("u")}
SELECT DISTINCT cu AS url_canon FROM canon ORDER BY url_canon
"""


_SBG_BITS, _SBG_HASHES = 8192, 3


def q_streaming_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot Bloom sidecar on the streaming URL gate
    (streaming/dedup.url_first_seen ``prior_bloom=`` + operators/
    bloom): a filter built over the canonical URLs a PRIOR crawl
    already fetched (the user_id%3==0 slice) rides broadcast joins
    against the live stream — each first-seen arrival emits with
    ``maybe_prior``; false is a no-false-negative guarantee the next
    stage can trust ('never fetched, schedule directly'). The oracle
    replays canonicalization + DISTINCT + every filter bit."""
    from .catalog import table_path
    from .operators.bloom import bloom_build
    from .streaming.checks import run_stream_once, stream_events_from_parquet
    from .streaming.dedup import url_first_seen

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    batch = spark.read.parquet(path)
    prior = batch.where(F.col("user_id") % 3 == 0).select(
        _gate_url_col().alias("url")
    )
    from .operators.urltools import canonical_url_col

    bloom = bloom_build(
        prior.select(canonical_url_col(F.col("url")).alias("url_canon")),
        "url_canon",
        _SBG_BITS,
        _SBG_HASHES,
    ).localCheckpoint()  # materialize: a static side re-evaluates per
    # micro-batch otherwise (word frame is tiny — set-bit rows only)

    stream = stream_events_from_parquet(
        spark, path, schema=batch.schema, spread=True
    )

    def gate(df: DataFrame) -> DataFrame:
        return url_first_seen(
            df.withColumn("url", _gate_url_col()),
            prior_bloom=bloom,
            prior_bits=_SBG_BITS,
            prior_hashes=_SBG_HASHES,
        )

    rows = run_stream_once(stream, gate, output_mode="append")
    return spark.createDataFrame(
        rows, "url_canon string, maybe_prior boolean"
    ).orderBy("url_canon")


def _sql_streaming_bloom_gate(n_bits: int, k: int) -> str:
    bit_selects, probe_bits, checks, joins = _sql_bloom_fragments(
        "cu", n_bits, k
    )
    return f"""
WITH u AS (
  SELECT user_id, CASE
    WHEN user_id % 2 = 0 THEN
      'HTTP://WWW.Site-' || (user_id % 5) || '.COM:80/' || event_type
      || '/' || (user_id // 7) || '/?utm_source=feed&x=1#top'
    ELSE
      'http://www.site-' || (user_id % 5) || '.com/' || event_type
      || '/' || (user_id // 7) || '?x=1'
  END AS url
  FROM events
),
{_sql_url_canon_ctes("u", carry="user_id")},
seen AS (SELECT DISTINCT cu FROM canon WHERE user_id % 3 = 0),
bits AS ({bit_selects}),
words AS (
  SELECT CAST(bit // 32 AS BIGINT) AS word_idx,
         bit_or(1::BIGINT << CAST(bit % 32 AS INTEGER)) AS word
  FROM bits GROUP BY 1
),
h AS (SELECT cu, {probe_bits} FROM (SELECT DISTINCT cu FROM canon))
SELECT h.cu AS url_canon, {checks} AS maybe_prior
FROM h {joins}
ORDER BY url_canon
"""


SQL_STREAMING_BLOOM_GATE = _sql_streaming_bloom_gate(
    _SBG_BITS, _SBG_HASHES
)

# ---------------------------------------------------------------------------
# TPC-H-style analytics (bench headliners)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.expr("TIMESTAMP '1998-09-02'")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(_dsum_spark(F.col("l_quantity")), 2).alias("sum_qty"),
            F.round(_dsum_spark(F.col("l_extendedprice")), 2).alias(
                "sum_base_price"
            ),
            F.round(_dsum_spark(disc_price), 2).alias("sum_disc_price"),
            F.round(_dsum_spark(F.col("l_quantity")) / n, 4).alias("avg_qty"),
            F.round(_dsum_spark(F.col("l_extendedprice")) / n, 4).alias(
                "avg_price"
            ),
            F.round(_dsum_spark(F.col("l_discount")) / n, 4).alias("avg_disc"),
            n.cast("long").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
       round({_dsum('l_quantity')}, 2) AS sum_qty,
       round({_dsum('l_extendedprice')}, 2) AS sum_base_price,
       round({_dsum('l_extendedprice * (1 - l_discount)')}, 2) AS sum_disc_price,
       round({_dsum('l_quantity')} / COUNT(*), 4) AS avg_qty,
       round({_dsum('l_extendedprice')} / COUNT(*), 4) AS avg_price,
       round({_dsum('l_discount')} / COUNT(*), 4) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer ⋈ orders ⋈ lineitem, revenue per order,
    top 10. customer is broadcast (small dim); lineitem-orders is the big
    join keyed on orderkey."""
    _ensure_utc(spark)
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP '1995-03-15'")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("TIMESTAMP '1995-03-15'")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        joined.groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(_dsum_spark(revenue).alias("__rev"))
        .orderBy(F.desc("__rev"), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "orderdate",
            "o_orderpriority",
            F.round("__rev", 2).alias("revenue"),
        )
    )


SQL_TOP_REVENUE_ORDERS = f"""
SELECT l_orderkey, orderdate, o_orderpriority, round(rev, 2) AS revenue
FROM (
  SELECT l_orderkey,
         strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
         o_orderpriority,
         {_dsum('l_extendedprice * (1 - l_discount)')} AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1995-03-15'
    AND l_shipdate > TIMESTAMP '1995-03-15'
  GROUP BY 1, 2, 3
)
ORDER BY rev DESC, l_orderkey LIMIT 10
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join through the dimension chain; all dims
    broadcast, the single shuffle is lineitem's aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(F.round(_dsum_spark(revenue), 2).alias("revenue"))
    )


SQL_REVENUE_BY_NATION = f"""
SELECT n_name, round({_dsum('l_extendedprice * (1 - l_discount)')}, 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""

# ---------------------------------------------------------------------------
# Sessionization (gap-based) — batch twin of the stateful streaming
# operator (streaming/sessions.py); the window-function formulation is
# SQL-expressible, so it gets a full oracle.
# ---------------------------------------------------------------------------


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.sessions import sessionize_batch

    _ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    out = sessionize_batch(ev, gap_minutes=30)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "user_id",
        F.col("session_no").cast("long").alias("session_no"),
        F.date_format("session_start", fmt).alias("session_start"),
        F.date_format("session_end", fmt).alias("session_end"),
        "n_events",
    )


SQL_SESSIONIZE = """
SELECT user_id, session_no,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
  FROM (
    SELECT user_id, ts,
           CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 30*60*1000000
                THEN 1 ELSE 0 END AS is_new
    FROM (
      SELECT user_id, ts,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
      FROM events
    )
  )
)
GROUP BY user_id, session_no
"""


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window anomaly flags over hourly event counts
    (operators/timeseries.py rolling_anomaly): each hour z-scored
    against the preceding 24 hours, std derived from exact integer
    window sums so both engines agree bit-for-bit."""
    from .operators.timeseries import rolling_anomaly

    _ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return rolling_anomaly(ev, lookback=24, z_threshold=3.0).orderBy(
        "event_type", "hour_ts"
    )


SQL_EVENTS_ANOMALY = """
WITH hourly0 AS (
  SELECT event_type,
         date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT event_type,
         unnest(generate_series(min_h, max_h, INTERVAL 1 HOUR)) AS h
  FROM (SELECT event_type, min(h) AS min_h, max(h) AS max_h
        FROM hourly0 GROUP BY 1)
), hourly AS (
  SELECT g.event_type,
         strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
         CAST(coalesce(h0.n_events, 0) AS BIGINT) AS n_events
  FROM grid g LEFT JOIN hourly0 h0
    ON g.event_type = h0.event_type AND g.h = h0.h
), rolled AS (
  SELECT event_type, hour_ts, n_events,
         CAST(n_events AS DOUBLE) AS x,
         CAST(COUNT(*) OVER w AS DOUBLE) AS n,
         SUM(CAST(n_events AS DOUBLE)) OVER w AS s,
         SUM(CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)) OVER w AS sq
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_ts
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, hour_ts, n_events,
       round(CASE WHEN n >= 1 THEN s / n END, 4) AS roll_mean,
       round(CASE WHEN n >= 2
             THEN sqrt(greatest((sq - s * s / n) / (n - 1.0), 0.0)) END,
             4) AS roll_std,
       round(CASE WHEN n >= 2
                   AND sqrt(greatest((sq - s * s / n) / (n - 1.0), 0.0)) > 0
             THEN (x - s / n)
                  / sqrt(greatest((sq - s * s / n) / (n - 1.0), 0.0)) END,
             4) AS zscore,
       coalesce(CASE WHEN n >= 2
                      AND sqrt(greatest((sq - s * s / n) / (n - 1.0), 0.0)) > 0
                THEN abs((x - s / n)
                     / sqrt(greatest((sq - s * s / n) / (n - 1.0), 0.0))) > 3.0
                END, FALSE) AS is_anomaly
FROM rolled
ORDER BY event_type, hour_ts
"""


def q_events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 of event value per type — the latency/SLA
    percentile report. Spark's exact ``percentile`` and DuckDB's
    ``quantile_cont`` implement the same linear interpolation; the agg
    is one shuffle on the (tiny) key domain, with the per-group sort
    happening inside the aggregate buffer. At 100 TB you'd flip to
    approx_percentile (t-digest) — the profile family's
    quantile_histogram already demonstrates that scale arm."""
    _ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


SQL_EVENTS_PERCENTILES = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_streaming_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_anomaly (streaming/anomaly.py):
    watermarked hourly-count aggregation over the drained event stream,
    scored by the SAME batch scorer — stream and batch flag identical
    anomalies, proven by sharing the batch oracle."""
    from .catalog import table_path
    from .streaming.anomaly import streaming_anomaly

    _ensure_utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return streaming_anomaly(
        spark, table_path(sf_dir, "events"), lookback=24, z_threshold=3.0
    ).orderBy("event_type", "hour_ts")


def q_events_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce dedup (operators/timeseries.py window_dedup):
    drop events whose same-(user, type) predecessor in (ts, event_id)
    order landed within 300 s — retry storms and at-least-once replays
    collapse to the first arrival. Exact integer microsecond math."""
    from .operators.timeseries import window_dedup

    _ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    kept = window_dedup(ev, gap_seconds=300)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return kept.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", fmt).alias("ts"),
    ).orderBy("event_id")


SQL_EVENTS_WINDOW_DEDUP = """
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
FROM (
  SELECT event_id, user_id, event_type, ts,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id) AS prev_us,
         epoch_us(ts) AS us
  FROM events
)
WHERE prev_us IS NULL OR us - prev_us > 300 * 1000000
ORDER BY event_id
"""


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom time-series operator, operators/asof.py): every
    purchase event paired with the same user's most recent click at or
    before it. Oracle: DuckDB's native ASOF JOIN — an independent
    implementation of the same point-in-time semantics."""
    from .operators.asof import asof_join

    _ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    j = asof_join(purchases, clicks, ts_col="ts", by="user_id", right_prefix="click_")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return j.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.date_format("ts", fmt).alias("purchase_ts"),
        F.round("value", 4).alias("purchase_value"),
        F.col("click_event_id").alias("click_id"),
        F.date_format("click_ts", fmt).alias("click_ts"),
    )


def q_quantity_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join via bin conversion (operators/rangejoin.py):
    classify lineitem rows into quantity tiers given as [lo, hi] intervals,
    then aggregate revenue per tier. Oracle: plain BETWEEN join — DuckDB
    plans the tiny dim as IEJoin; the Spark side proves the equi-join
    conversion gives identical semantics."""
    from .operators.rangejoin import range_join_binned

    tiers = spark.createDataFrame(
        [("low", 1.0, 10.0), ("mid", 11.0, 25.0), ("high", 26.0, 50.0)],
        ["tier", "lo", "hi"],
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount"
    )
    j = range_join_binned(
        li, "l_quantity", tiers, "lo", "hi", bin_width=5.0
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        j.groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(_dsum_spark(rev), 2).alias("revenue"),
        )
        .orderBy("tier")
    )


SQL_QUANTITY_TIERS = f"""
SELECT t.tier,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       round({_dsum('l_extendedprice * (1 - l_discount)')}, 2) AS revenue
FROM lineitem l
JOIN (VALUES ('low', 1.0, 10.0), ('mid', 11.0, 25.0), ('high', 26.0, 50.0))
     AS t(tier, lo, hi)
  ON l.l_quantity BETWEEN t.lo AND t.hi
GROUP BY t.tier
ORDER BY t.tier
"""


SQL_EVENTS_ASOF = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       round(p.value, 4) AS purchase_value,
       c.event_id AS click_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# ---------------------------------------------------------------------------
# SQL-surface breadth: JSON extraction, window functions, rollup, pivot
# (operators the reference lacks but Spark supplies "for free" —
# SURVEY.md §2.10)
# ---------------------------------------------------------------------------


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured: extract props.k (JSON string column) and
    aggregate it per event type."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(k).alias("n_with_k"),
        F.sum(k).cast("long").alias("sum_k"),
        F.round(F.sum(k).cast("double") / F.count(k), 4).alias("avg_k"),
    )


SQL_EVENTS_JSON = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(k) AS BIGINT) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       round(CAST(SUM(k) AS DOUBLE) / COUNT(k), 4) AS avg_k
FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS INTEGER) AS k FROM events)
GROUP BY event_type
"""


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: rank orders per customer by price, keep top 2,
    with a running total over the customer's ranked orders."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    ranked = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).alias("rnk"),
        F.round(
            F.sum(F.col("o_totalprice").cast(_DEC.lower()))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double"),
            2,
        ).alias("running_total"),
    )
    return ranked.filter(F.col("rnk") <= 2).select(
        "o_custkey",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        "rnk",
        "running_total",
    )


SQL_TOP_ORDERS_PER_CUSTOMER = f"""
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rnk, running_total
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk,
         round(CAST(SUM(CAST(o_totalprice AS {_DEC})) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_total
  FROM orders
) WHERE rnk <= 2
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals over (returnflag, linestatus)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(_dsum_spark(F.col("l_quantity")), 2).alias("sum_qty"),
        )
    )


SQL_ROLLUP_REVENUE = f"""
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       round({_dsum('l_quantity')}, 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""

_STATUSES = ["F", "O", "P"]


def q_pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority x status."""
    orders = load_table(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _STATUSES)
        .count()
        .na.fill(0)
    )
    return out.select(
        "o_orderpriority",
        *[F.col(s).cast("long").alias(f"status_{s}") for s in _STATUSES],
    )


SQL_PIVOT_ORDER_STATUS = f"""
SELECT o_orderpriority,
       {', '.join(f"CAST(COUNT(CASE WHEN o_orderstatus = '{s}' THEN 1 END) AS BIGINT) AS status_{s}" for s in _STATUSES)}
FROM orders GROUP BY o_orderpriority
"""

# ---------------------------------------------------------------------------
# Dynamic queries (templated)
# ---------------------------------------------------------------------------

_DYN_VALUES = ["click", "error", "purchase"]
_DYN_TEMPLATE = (
    "SELECT '{var_from_csv}' AS event_type_value, "
    "CAST(COUNT(*) AS BIGINT) AS n_events, "
    f"round({_dsum('value')}, 4) AS sum_value "
    "FROM events WHERE event_type = '{var_from_csv}'"
)


def q_dynamic_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    parts = [
        spark.sql(_DYN_TEMPLATE.format(var_from_csv=v)) for v in _DYN_VALUES
    ]
    return _union_all(parts)


SQL_DYNAMIC_QUERIES = " UNION ALL ".join(
    _DYN_TEMPLATE.format(var_from_csv=v) for v in _DYN_VALUES
)

# ---------------------------------------------------------------------------
# Table discovery + exclusion patterns (S8 + F4)
# ---------------------------------------------------------------------------

_EXCLUDE_PATTERNS = ["%N", "PART%"]  # drops region/nation and part


def q_table_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = filter_excluded_tables(discover_tables(sf_dir), _EXCLUDE_PATTERNS)
    return spark.createDataFrame([(n,) for n in names], ["table_name"])


SQL_TABLE_DISCOVERY = f"""
SELECT table_name FROM information_schema.tables
WHERE table_name IN ({_TABLES_IN})
  AND NOT regexp_matches(UPPER(table_name), '^.*N$')
  AND NOT regexp_matches(UPPER(table_name), '^PART.*$')
"""

# ---------------------------------------------------------------------------
# MinHash / SimHash near-dup pair searches — ORACLED against brute force.
# The Spark side is the LSH/banded pipeline; the DuckDB side is the exact
# all-pairs computation (tractable at oracle scale: 500 docs = 125k
# pairs). They agree because (a) minhash verification is exact Jaccard and
# the 16x2 banding's miss probability at the corpus' lowest true pair
# (j=0.89) is ~1e-11, and (b) simhash pigeonhole banding is exhaustive by
# construction; the portable (md5-prefix) token hash makes the
# fingerprints bit-reproducible in any SQL engine.
# ---------------------------------------------------------------------------


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _localized(minhash_near_duplicates(docs, threshold=0.5)).orderBy(
        "id_a", "id_b"
    )


_SQL_SHINGLES = """
toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS ts
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(ts) >= 3
              THEN list_distinct(list_transform(range(1, len(ts) - 1),
                   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))
              ELSE [array_to_string(ts, ' ')] END AS s
  FROM toks WHERE len(ts) > 0
)"""

SQL_MINHASH_NEAR_DUPS = f"""
WITH {_SQL_SHINGLES},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, round(j, 4) AS jaccard FROM pairs WHERE j >= 0.5
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-doc repetition signals (dup line / word / 2-gram
    / 3-gram fractions) — one narrow projection, no shuffle."""
    from .operators.textstats import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs).orderBy("doc_id")


SQL_REPETITION_STATS = r"""
WITH base AS (
  SELECT doc_id,
    list_filter(list_transform(string_split(coalesce(text, ''), chr(10)),
                l -> trim(l)), l -> l <> '') AS lines,
    list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
                x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, lines, toks,
    CASE WHEN len(toks) < 2 THEN [] ELSE list_transform(
      range(1, len(toks)), i -> array_to_string(list_slice(toks, i, i+1), ' '))
    END AS g2,
    CASE WHEN len(toks) < 3 THEN [] ELSE list_transform(
      range(1, len(toks)-1), i -> array_to_string(list_slice(toks, i, i+2), ' '))
    END AS g3
  FROM base
)
SELECT doc_id,
  CAST(len(lines) AS BIGINT) AS n_lines,
  round(CASE WHEN len(lines) > 0
    THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
    ELSE 0.0 END, 4) AS dup_line_frac,
  round(CASE WHEN len(toks) > 0
    THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
    ELSE 0.0 END, 4) AS dup_word_frac,
  round(CASE WHEN len(g2) > 0
    THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
    ELSE 0.0 END, 4) AS dup_2gram_frac,
  round(CASE WHEN len(g3) > 0
    THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
    ELSE 0.0 END, 4) AS dup_3gram_frac
FROM g ORDER BY doc_id
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by portable
    hash-mod — membership is a pure function of (seed, doc_id), stable
    across runs, engines, and appends."""
    from .operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs, seed=42).select("doc_id", "split").orderBy(
        "doc_id"
    )


SQL_HASH_SPLIT = """
SELECT doc_id,
  CASE WHEN b < 8000 THEN 'train'
       WHEN b < 9000 THEN 'val'
       ELSE 'test' END AS split
FROM (
  SELECT doc_id,
    ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
      % 10000 AS b
  FROM documents
) ORDER BY doc_id
"""


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 97 = 0 stand in as
    the 'eval set'; every other doc sharing a word 3-gram with it is
    flagged with its hit count. (The operator default is the published
    13-gram window; 3-grams here so the synthetic all-unique corpus
    yields a non-trivial flagged set.) Eval n-gram hashes broadcast;
    the corpus is scanned once and never shuffled — only matched hits
    move."""
    from .operators.contamination import contamination_check

    docs = load_table(spark, sf_dir, "documents")
    return contamination_check(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        n=3,
    ).orderBy("doc_id")


SQL_DECONTAMINATION = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
), ng AS (
  SELECT DISTINCT doc_id,
    unnest(CASE WHEN len(t) = 0 THEN []
      ELSE list_transform(range(1, greatest(len(t) - 3 + 2, 2)),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')) END) AS g
  FROM toks
), eval_g AS (
  SELECT DISTINCT g FROM ng WHERE doc_id % 97 = 0
)
SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hit_ngrams
FROM (SELECT * FROM ng WHERE doc_id % 97 <> 0) c
JOIN eval_g USING (g)
GROUP BY c.doc_id
ORDER BY doc_id
"""


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: whole-doc md5 (exact-dup key) + the
    order-sensitive token rolling hash. ``fingerprint_xx64`` is excluded
    here because xxhash64 exists only in Spark — the md5 and rolling
    columns are engine-portable by construction and oracle-checked
    bit-for-bit."""
    from .operators.textstats import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return fingerprint(docs).select(
        "doc_id", "fingerprint_md5", "fingerprint_roll"
    )


# DuckDB twin of textstats.rolling_hash_col: same md5-prefix token hash
# as the simhash oracle, same (acc*B + h) mod P fold. list_reduce seeds
# the accumulator with the FIRST element (no init argument), so a 0 is
# prepended — which also makes empty docs hash to 0 like Spark's
# aggregate(…, 0, …).
SQL_DOC_FINGERPRINTS = """
WITH toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS ts
  FROM documents
)
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint_md5,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(ts,
             t -> CAST(('0x' || substr(md5(t), 1, 15))::UBIGINT AS BIGINT))),
         (acc, h) -> (acc * 1000003 + h) % 2147483647
       ) AS fingerprint_roll
FROM toks
"""


def q_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (inverted-index set-similarity
    join, no LSH anywhere) at a tighter threshold than the minhash tier —
    the two pipelines share only the shingle definition, so agreeing
    oracles cross-check both."""
    docs = load_table(spark, sf_dir, "documents")
    return _localized(ngram_jaccard_near_duplicates(docs, threshold=0.6)).orderBy(
        "id_a", "id_b"
    )


# brute-force twin of the inverted-index join: same shingle sets, same
# unrounded-ratio threshold
SQL_NGRAM_JACCARD_DUPS = f"""
WITH {_SQL_SHINGLES},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, round(j, 4) AS jaccard FROM pairs
WHERE j >= 0.6 ORDER BY id_a, id_b
"""


# The gate query feeds two MICRO-BATCHES of at most this many docs
# (split by doc_id parity) through the streaming gate. Micro-batch
# LATENCY is the operative metric for a streaming ingest operator — a
# production trigger bounds every batch, and corpus-scale near-dup
# throughput is the batch tier's job (`minhash_near_dups`, which scans
# the full table). At the sf0.01 correctness gate the corpus holds 500
# documents, so the bound is a no-op there and the oracle comparison
# covers every document.
GATE_BENCH_MAX_DOC = 2_000


def q_streaming_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic batch-mode run of the STREAMING near-dup ingest
    gate (streaming/neardup.py, the foreachBatch operator): documents
    with doc_id < GATE_BENCH_MAX_DOC split by parity into two
    'micro-batches', gated sequentially against a fresh store — returns
    the ACCEPTED ids. Phase semantics under test: within-batch greedy
    first-wins (earlier ids live), then cross-store exact-Jaccard
    rejection of anything near-duplicating an already-accepted doc.
    Survivor ids are collected per batch BEFORE the next batch runs
    (the store is torn down on exit)."""
    import shutil
    import tempfile

    from .streaming.neardup import minhash_gate_batch

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < GATE_BENCH_MAX_DOC
    )
    store = tempfile.mkdtemp(prefix="neardup_gate_q_")
    try:
        ids: list[int] = []
        for parity in (0, 1):
            kept = minhash_gate_batch(
                docs.filter(F.col("doc_id") % 2 == parity),
                store,
                threshold=0.5,
                id_col="doc_id",
            )
            ids.extend(r["id"] for r in kept.collect())
        return spark.createDataFrame(
            [(i,) for i in sorted(ids)], "doc_id bigint"
        ).orderBy("doc_id")
    finally:
        shutil.rmtree(store, ignore_errors=True)


# DuckDB twin of the two-batch gate run. The pair graph is the same
# brute-force construction as SQL_MINHASH_NEAR_DUPS (threshold 0.5 on
# the unrounded ratio); the greedy first-wins walk is a recursive CTE
# stepping through each batch's ids ascending, keeping a doc unless a
# SMALLER already-kept id is its pair partner (list_has_any against the
# precomputed smaller-neighbor lists — plain joins in the recursive
# term; correlated-subquery forms mis-planned on DuckDB 1.0). Phase 2
# mirrors the gate exactly: batch-2 survivors are then rejected if they
# pair with ANY batch-1 survivor. CTEs are MATERIALIZED so the
# recursion doesn't recompute the shingle join per step.
_SQL_SHINGLES_MAT = _SQL_SHINGLES.replace(
    "toks AS (", "toks AS MATERIALIZED ("
).replace("sh AS (", "sh AS MATERIALIZED (")

SQL_STREAMING_NEARDUP_GATE = f"""
WITH RECURSIVE
{_SQL_SHINGLES_MAT},
pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
),
ids1 AS MATERIALIZED (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
  FROM documents WHERE doc_id % 2 = 0 AND doc_id < {GATE_BENCH_MAX_DOC}
),
ids2 AS MATERIALIZED (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
  FROM documents WHERE doc_id % 2 = 1 AND doc_id < {GATE_BENCH_MAX_DOC}
),
nbrs AS MATERIALIZED (
  SELECT id_b AS doc_id, list(id_a) AS smaller FROM pairs GROUP BY id_b
),
g1(rn, kept) AS (
  SELECT CAST(0 AS BIGINT), CAST([] AS BIGINT[])
  UNION ALL
  SELECT g.rn + 1,
         CASE WHEN list_has_any(g.kept, coalesce(n.smaller, []))
              THEN g.kept ELSE list_append(g.kept, i.doc_id) END
  FROM g1 g
  JOIN ids1 i ON i.rn = g.rn + 1
  LEFT JOIN nbrs n ON n.doc_id = i.doc_id
),
kept1 AS MATERIALIZED (
  SELECT unnest(kept) AS doc_id FROM g1 WHERE rn = (SELECT max(rn) FROM ids1)
),
g2(rn, kept) AS (
  SELECT CAST(0 AS BIGINT), CAST([] AS BIGINT[])
  UNION ALL
  SELECT g.rn + 1,
         CASE WHEN list_has_any(g.kept, coalesce(n.smaller, []))
              THEN g.kept ELSE list_append(g.kept, i.doc_id) END
  FROM g2 g
  JOIN ids2 i ON i.rn = g.rn + 1
  LEFT JOIN nbrs n ON n.doc_id = i.doc_id
),
kept2a AS (
  SELECT unnest(kept) AS doc_id FROM g2 WHERE rn = (SELECT max(rn) FROM ids2)
),
kept2 AS (
  SELECT k.doc_id FROM kept2a k
  WHERE NOT EXISTS (
    SELECT 1 FROM pairs p JOIN kept1 s
      ON (p.id_a = s.doc_id AND p.id_b = k.doc_id)
      OR (p.id_b = s.doc_id AND p.id_a = k.doc_id))
)
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM kept1
UNION ALL
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM kept2
ORDER BY doc_id
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints with the engine-portable (md5-prefix) token
    hash, so DuckDB reproduces every 64-bit fingerprint exactly."""
    return simhash_fingerprints(
        load_table(spark, sf_dir, "documents"), portable=True
    )


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Hamming-distance pair search over the SimHash fingerprints
    (Manku et al. pigeonhole LSH — exhaustive for max_hamming < bands, so
    the brute-force oracle is an exact twin)."""
    docs = load_table(spark, sf_dir, "documents")
    return _localized(
        simhash_near_duplicates(docs, max_hamming=3, portable=True)
    ).orderBy("id_a", "id_b")


# DuckDB twin of operators/dedup.simhash_fingerprints(portable=True):
# 60-bit md5-prefix token hash, one SUM per bit, sign -> bit. Generated
# programmatically (60 aggregates) — same vocabulary-sharing rule as the
# other oracles.
_SIMHASH_SUMS = ", ".join(
    f"SUM(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS b_{k}"
    for k in range(60)
)
_SIMHASH_FP = " + ".join(
    f"CASE WHEN b_{k} > 0 THEN CAST({1 << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    for k in range(60)
)
_SQL_SIMHASH_FP = f"""
toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tok
  FROM documents
),
h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15))::UBIGINT AS BIGINT) AS h
  FROM toks
),
sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM h GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM sums)"""

SQL_SIMHASH = f"WITH {_SQL_SIMHASH_FP} SELECT doc_id, simhash FROM fp"

SQL_SIMHASH_NEAR_DUPS = f"""
WITH {_SQL_SIMHASH_FP}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# ---------------------------------------------------------------------------
# Non-SQL-expressible ops (rows-only checks: no oracle entry)
# ---------------------------------------------------------------------------


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN, multi-table multi-probe (16 independent 12-bit tables,
    Hamming radius 3 per table — the classic E2LSH structure; candidates
    are the union over tables, exact-scored once). Approximate ->
    rows-only check; recorded bound (test_pruned_probe_recall_bounds):
    mean recall@10 >= 0.9 on the near-isotropic synthetic embeddings
    (measured 0.99-1.0 at sf0.001/sf0.1). Isotropic data is the ANN
    worst case — recall ~ fraction scanned is forced there (~70% here);
    on clustered real embeddings the same tables scan far less.
    `lsh_full_probe` is the bit-for-bit exactness anchor."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    scored = lsh_bucketed_topk(
        emb, list(q), k=10, n_planes=12, probe_hamming=3, n_tables=16
    )
    return scored.select("vec_id", F.round("cosine", 4).alias("cosine"))


# ---------------------------------------------------------------------------
# Declarative DQ check suite (the reference's planned check framework,
# README.md:360-367, implemented Spark-first in operators/checks.py).
# All single-table checks fuse into one scan per table.
# ---------------------------------------------------------------------------

_CHECK_SUITE = [
    {"name": "orders_pk_not_null", "table": "orders", "kind": "not_null", "column": "o_orderkey"},
    {"name": "orders_pk_unique", "table": "orders", "kind": "unique", "column": "o_orderkey"},
    {"name": "orders_status_valid", "table": "orders", "kind": "in_set", "column": "o_orderstatus", "params": {"values": ["O", "F", "P"]}},
    {"name": "orders_price_positive", "table": "orders", "kind": "range", "column": "o_totalprice", "params": {"min": 0}},
    {"name": "orders_priority_format", "table": "orders", "kind": "regex", "column": "o_orderpriority", "params": {"pattern": "^[1-5]-[A-Z ]+$"}},
    {"name": "li_discount_bounds", "table": "lineitem", "kind": "range", "column": "l_discount", "params": {"min": 0, "max": 1}},
    {"name": "li_orderkey_unique", "table": "lineitem", "kind": "unique", "column": "l_orderkey"},
    {"name": "li_qty_mean_sane", "table": "lineitem", "kind": "stats_range", "column": "l_quantity", "params": {"stat": "avg", "min": 20, "max": 30}},
    {"name": "li_fk_orders", "table": "lineitem", "kind": "ref_integrity", "column": "l_orderkey", "params": {"ref_table": "orders", "ref_column": "o_orderkey"}},
]


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.checks import Check, run_checks

    checks = [Check.from_dict(d) for d in _CHECK_SUITE]
    tables = load_tables(spark, sf_dir, ["orders", "lineitem"])
    return run_checks(spark, tables, checks).drop("detail")


def _check_oracle_sql(d: dict) -> str:
    t, col, kind = d["table"], d.get("column"), d["kind"]
    p = d.get("params", {})
    total = f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {t})"
    if kind == "not_null":
        viol = f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {t} WHERE {col} IS NULL)"
    elif kind == "unique":
        viol = f"(SELECT CAST(COUNT({col}) - COUNT(DISTINCT {col}) AS BIGINT) FROM {t})"
    elif kind == "regex":
        viol = (
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {t} WHERE {col} IS NOT NULL "
            f"AND NOT regexp_matches({col}, '{p['pattern']}'))"
        )
    elif kind == "range":
        conds = []
        if "min" in p:
            conds.append(f"{col} < {p['min']}")
        if "max" in p:
            conds.append(f"{col} > {p['max']}")
        viol = (
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {t} WHERE {col} IS NOT NULL "
            f"AND ({' OR '.join(conds)}))"
        )
    elif kind == "in_set":
        vals = ", ".join(f"'{v}'" for v in p["values"])
        viol = (
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {t} WHERE {col} IS NOT NULL "
            f"AND {col} NOT IN ({vals}))"
        )
    elif kind == "stats_range":
        stat = p.get("stat", "avg")
        conds = []
        if "min" in p:
            conds.append(f"{stat}({col}) < {p['min']}")
        if "max" in p:
            conds.append(f"{stat}({col}) > {p['max']}")
        viol = (
            f"(SELECT CAST(CASE WHEN {' OR '.join(conds)} THEN 1 ELSE 0 END AS BIGINT) FROM {t})"
        )
    elif kind == "ref_integrity":
        rt, rc = p["ref_table"], p["ref_column"]
        viol = (
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {t} WHERE {col} IS NOT NULL "
            f"AND NOT EXISTS (SELECT 1 FROM {rt} WHERE {rc} = {t}.{col}))"
        )
    else:
        raise ValueError(kind)
    return (
        f"SELECT '{d['name']}' AS check_name, '{t}' AS table_name, "
        f"'{col}' AS column_name, '{kind}' AS kind, {total} AS total_rows, "
        f"{viol} AS violations, {viol} = 0 AS passed"
    )


SQL_DQ_CHECKS = " UNION ALL ".join(_check_oracle_sql(d) for d in _CHECK_SUITE)


def q_salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (operators/partitioning.salted_agg)
    — must produce exactly the plain groupBy result, so it carries a full
    oracle."""
    from .operators.partitioning import salted_agg

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "__rev_dec", (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            _DEC.lower()
        )
    )
    out = salted_agg(
        li,
        ["l_returnflag"],
        {
            "n_items": ("l_quantity", "count"),
            "revenue_dec": ("__rev_dec", "sum"),
            "max_qty": ("l_quantity", "max"),
        },
        salt_buckets=8,
    )
    return out.select(
        "l_returnflag",
        F.col("n_items").cast("long").alias("n_items"),
        F.round(F.col("revenue_dec").cast("double"), 2).alias("revenue"),
        F.round("max_qty", 2).alias("max_qty"),
    )


SQL_SALTED_REVENUE = f"""
SELECT l_returnflag,
       CAST(COUNT(l_quantity) AS BIGINT) AS n_items,
       round({_dsum('l_extendedprice * (1 - l_discount)')}, 2) AS revenue,
       round(MAX(l_quantity), 2) AS max_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL profile of lineitem — the 100 TB scale path (single pass, no
    Expand). Approximate -> rows-only check; recorded bound
    (test_profile_approx_mode): null counts exact, distinct counts
    within 3 sigma per column AND <= 5% mean relative error vs
    `profile_lineitem`'s exact numbers (measured ~2.3%)."""
    return profile_columns(
        load_table(spark, sf_dir, "lineitem"), "lineitem", exact=False
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: KMeans cells with 2-way multi-assignment (each vector
    stored in its 2 nearest cells, SPANN-style closure replication) +
    5-probe search for the vec_id=0 query. Approximate (probe subset)
    -> rows-only check; recorded bound
    (test_pruned_probe_recall_bounds): mean recall@10 >= 0.9 on the
    near-isotropic synthetic embeddings (measured 0.97-0.99 at
    sf0.001/sf0.1 — isotropic data is the ANN worst case; clustered
    real embeddings hit the same recall probing far fewer cells).
    `ivf_full_probe` is the bit-for-bit exactness anchor."""
    from .operators.similarity import ivf_build, ivf_search

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    assigned, centroids = ivf_build(emb, n_cells=8, n_assign=2)
    out = ivf_search(assigned, centroids, list(q), k=10, n_probes=5)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_keyfinder_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full driver-side search (§2.9) surfaced as a result table."""
    from .operators.keyfinder import find_composite_keys

    keys = find_composite_keys(load_table(spark, sf_dir, "orders"))
    return spark.createDataFrame(
        [("orders", "+".join(k), len(k)) for k in keys],
        "table_name string, key_columns string, key_size int",
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline plumbing: treat document text bytes as an
    opaque media payload, extract deterministic stub features via
    mapInPandas (Arrow-batched). Fully oracled: the stub's bucket-count /
    byte-length division is plain IEEE arithmetic on integers, so DuckDB
    reproduces f0/f7 bit-for-bit (no rounding on either side)."""
    from .operators.multimodal import extract_features

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    feats = extract_features(docs)
    return feats.select(
        "media_id",
        "size_bytes",
        F.element_at("features", 1).alias("f0"),
        F.element_at("features", 8).alias("f7"),
    )


def q_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing (operators/multimodal.resize_images):
    Arrow-batched mapInPandas over binary payloads; the deterministic
    stub payload (RSZ:<w>x<h>: + md5 hex) is reproduced byte-exactly by
    the DuckDB oracle, proving the batch shape end-to-end."""
    from .operators.multimodal import resize_images

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    out = resize_images(docs, width=64, height=48)
    return out.select(
        "media_id",
        F.decode("content", "utf-8").alias("resized"),
        "width",
        "height",
    ).orderBy("media_id")


SQL_RESIZE_IMAGES = """
SELECT doc_id AS media_id,
       'RSZ:64x48:' || md5(text) AS resized,
       CAST(64 AS INT) AS width,
       CAST(48 AS INT) AS height
FROM documents
ORDER BY doc_id
"""


def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image fingerprints (operators/multimodal.
    image_fingerprints): document bytes stand in for image payloads;
    the deterministic stub hash — positional byte-bucket histogram,
    above-average threshold, 64 bits two's-complement — is a pure
    function of the bytes the DuckDB oracle replays bit-for-bit
    (the ``resize_images`` stub contract)."""
    from .operators.multimodal import image_fingerprints

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    ).select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    return image_fingerprints(docs).orderBy("media_id")


_SQL_IMAGE_PHASH_FP = """
-- NOTE: this oracle counts CHARACTERS (ord(substr), length(text))
-- while the Spark side hashes the UTF-8 BYTES of encode(text,'utf-8');
-- the two agree exactly on the ASCII-only synthetic documents table
-- this oracle runs against. A non-ASCII corpus would need the oracle
-- rebuilt over the encoded blob's bytes instead.
pos AS (
  SELECT doc_id, length(text) AS total, text,
         unnest(generate_series(1, length(text))) AS i
  FROM documents WHERE length(text) > 0
),
bk AS (
  SELECT doc_id, total,
         (ord(substr(text, i, 1)) + i - 1) % 64 AS bucket
  FROM pos
),
cnt AS (
  SELECT doc_id, total, bucket, count(*) AS c
  FROM bk GROUP BY doc_id, total, bucket
),
fp AS (
  SELECT doc_id,
    CAST(sum(CASE WHEN c * 64 > total THEN
      CASE WHEN bucket = 63 THEN -9223372036854775807 - 1
           ELSE (CAST(1 AS BIGINT) << bucket) END
      ELSE 0 END) AS BIGINT) AS phash
  FROM cnt GROUP BY doc_id
)"""

SQL_IMAGE_PHASH = f"""
WITH {_SQL_IMAGE_PHASH_FP}
SELECT doc_id AS media_id, phash FROM fp ORDER BY media_id
"""


def q_image_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image content near-dup pairs (operators/multimodal.
    image_near_duplicates): Manku pigeonhole banding over the
    perceptual fingerprints — exhaustive for max_hamming < bands, so
    the brute-force Hamming oracle is an exact twin (the
    ``simhash_near_dups`` precedent, on the image modality)."""
    from .operators.multimodal import image_near_duplicates

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    ).select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    return _localized(
        image_near_duplicates(
            docs, max_hamming=3, bands=4, max_bucket_size=None
        )
    ).orderBy("id_a", "id_b")


SQL_IMAGE_PHASH_DUPS = f"""
WITH {_SQL_IMAGE_PHASH_FP}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3
ORDER BY id_a, id_b
"""


def q_statstore_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ-over-time control chart (operators/statstore.py
    stats_store_trend): four event slices append labeled segments to a
    store, then every segment's row count and NULL rate z-score
    against the column's history — a shrinking/flooding/nulling feed
    flags when its batch lands, with no corpus rescans. The oracle
    recomputes the segment stats and the identical z arithmetic from
    the raw table."""
    import shutil
    import tempfile

    from .operators.statstore import stats_store_append, stats_store_trend

    _ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="statstore_trend_q_")
    try:
        for i in range(4):
            stats_store_append(
                ev.filter(F.col("user_id") % 4 == i), d, "events",
                columns=["value", "props"], segment_id=f"s{i}",
            )
        return stats_store_trend(spark, d, "events").localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


SQL_STATSTORE_TREND = """
WITH seg AS (
  SELECT 's' || CAST(user_id % 4 AS VARCHAR) AS segment_id,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) - count(props) AS BIGINT) AS nulls_props,
         CAST(count(*) - count(value) AS BIGINT) AS nulls_value
  FROM events GROUP BY 1
),
long AS (
  SELECT segment_id, 'props' AS col_name, n_rows,
         nulls_props AS null_count FROM seg
  UNION ALL
  SELECT segment_id, 'value', n_rows, nulls_value FROM seg
),
m AS (
  SELECT col_name,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(n_rows AS DECIMAL(38,0))) AS DOUBLE) AS s_r,
         CAST(sum(CAST(n_rows AS DECIMAL(38,0))
                  * CAST(n_rows AS DECIMAL(38,0))) AS DOUBLE) AS q_r,
         CAST(sum(CAST(null_count AS DECIMAL(38,0))) AS DOUBLE) AS s_m,
         CAST(sum(CAST(null_count AS DECIMAL(38,0))
                  * CAST(null_count AS DECIMAL(38,0))) AS DOUBLE) AS q_m
  FROM long GROUP BY 1
),
scored AS (
  SELECT segment_id, col_name, n_rows, null_count,
         round(CAST(null_count AS DOUBLE) / n_rows, 8) AS null_rate,
         CASE WHEN n - 1.0 >= 2
               AND sqrt(greatest(((q_r - CAST(n_rows AS DOUBLE)
                                          * CAST(n_rows AS DOUBLE))
                 - (s_r - n_rows) * (s_r - n_rows) / (n - 1.0))
                 / (n - 2.0), 0.0)) > 0
         THEN (n_rows - (s_r - n_rows) / (n - 1.0))
              / sqrt(greatest(((q_r - CAST(n_rows AS DOUBLE)
                                       * CAST(n_rows AS DOUBLE))
                 - (s_r - n_rows) * (s_r - n_rows) / (n - 1.0))
                 / (n - 2.0), 0.0))
         END AS z_rows_raw,
         CASE WHEN n - 1.0 >= 2
               AND sqrt(greatest(((q_m - CAST(null_count AS DOUBLE)
                                          * CAST(null_count AS DOUBLE))
                 - (s_m - null_count) * (s_m - null_count) / (n - 1.0))
                 / (n - 2.0), 0.0)) > 0
         THEN (null_count - (s_m - null_count) / (n - 1.0))
              / sqrt(greatest(((q_m - CAST(null_count AS DOUBLE)
                                       * CAST(null_count AS DOUBLE))
                 - (s_m - null_count) * (s_m - null_count) / (n - 1.0))
                 / (n - 2.0), 0.0))
         END AS z_nulls_raw,
         (n - 1.0 >= 2
          AND sqrt(greatest(((q_r - CAST(n_rows AS DOUBLE)
                                     * CAST(n_rows AS DOUBLE))
              - (s_r - n_rows) * (s_r - n_rows) / (n - 1.0))
              / (n - 2.0), 0.0)) = 0
          AND n_rows <> (s_r - n_rows) / (n - 1.0)) AS flat_r,
         (n - 1.0 >= 2
          AND sqrt(greatest(((q_m - CAST(null_count AS DOUBLE)
                                     * CAST(null_count AS DOUBLE))
              - (s_m - null_count) * (s_m - null_count) / (n - 1.0))
              / (n - 2.0), 0.0)) = 0
          AND null_count <> (s_m - null_count) / (n - 1.0)) AS flat_m
  FROM long JOIN m USING (col_name)
)
SELECT segment_id, col_name, n_rows, null_count, null_rate,
       round(z_rows_raw, 4) AS z_rows,
       round(z_nulls_raw, 4) AS z_nulls,
       (coalesce(abs(z_rows_raw) > 3.0, FALSE)
        OR coalesce(abs(z_nulls_raw) > 3.0, FALSE)
        OR flat_r OR flat_m) AS is_anomaly
FROM scored
ORDER BY col_name, segment_id
"""


def q_impute_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL repair (operators/repair.impute_nulls): events.value NULLs
    filled with the per-event-type exact median — the fix-it twin of
    the nullcheck report. Spark percentile == DuckDB quantile_cont
    (events_percentiles precedent)."""
    from .operators.repair import impute_nulls

    _ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return (
        impute_nulls(ev, ["value"], strategy="median",
                     group_col="event_type")
        .select("event_id", "event_type", F.round("value", 6).alias("value"))
        .orderBy("event_id")
    )


SQL_IMPUTE_VALUES = """
WITH med AS (
  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS m
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round(coalesce(e.value, med.m), 6) AS value
FROM events e
LEFT JOIN med ON e.event_type IS NOT DISTINCT FROM med.event_type
ORDER BY e.event_id
"""


def q_clip_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (operators/repair.clip_outliers): events.value
    capped at the global exact [p05, p95] — the repair twin of the
    z-outlier detector; NULLs stay NULL."""
    from .operators.repair import clip_outliers

    _ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return (
        clip_outliers(ev, ["value"], lower_q=0.05, upper_q=0.95)
        .select("event_id", F.round("value", 6).alias("value"))
        .orderBy("event_id")
    )


SQL_CLIP_VALUES = """
WITH q AS (
  SELECT round(quantile_cont(value, 0.05), 6) AS lo,
         round(quantile_cont(value, 0.95), 6) AS hi
  FROM events
)
SELECT event_id,
       round(CASE WHEN value IS NULL THEN NULL
                  ELSE least(greatest(value, lo), hi) END, 6) AS value
FROM events, q
ORDER BY event_id
"""


def q_cast_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-migration loss accounting (operators/repair.cast_report):
    per column, how many present values would NOT survive a try_cast —
    the repair twin of colcompare's Different Types verdict. props is
    JSON text (every cast to double fails); value -> int is lossy-safe
    (doubles truncate, none fail)."""
    from .operators.repair import cast_report

    _ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return cast_report(
        ev, {"value": "int", "props": "double"}
    ).orderBy("column")


SQL_CAST_REPORT = """
SELECT 'props' AS "column", 'double' AS target_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(props) AS BIGINT) AS n_nonnull,
       CAST(count(props) - count(TRY_CAST(props AS DOUBLE)) AS BIGINT)
         AS n_failed
FROM events
UNION ALL
SELECT 'value', 'int',
       CAST(count(*) AS BIGINT),
       CAST(count(value) AS BIGINT),
       CAST(count(value) - count(TRY_CAST(value AS INT)) AS BIGINT)
FROM events
ORDER BY "column"
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# Multimodal stub features, byte-exact in SQL: documents.text is ASCII in
# this corpus (verified: octet_length(encode(text)) == length(text) at every
# SF), so ord() over character positions IS the utf-8 byte stream the Spark
# query feeds the stub. Counts and lengths are integers; one IEEE division
# on each side -> bit-identical doubles, no rounding needed.
SQL_MULTIMODAL_FEATURES = """
WITH pos AS (
    SELECT doc_id,
           length(text) AS size_bytes,
           text,
           unnest(generate_series(1, length(text))) AS i
    FROM documents
),
bk AS (
    SELECT doc_id, size_bytes, ord(substr(text, i, 1)) % 8 AS bucket
    FROM pos
)
SELECT doc_id AS media_id,
       CAST(size_bytes AS BIGINT) AS size_bytes,
       count(*) FILTER (bucket = 0) / CAST(size_bytes AS DOUBLE) AS f0,
       count(*) FILTER (bucket = 7) / CAST(size_bytes AS DOUBLE) AS f7
FROM bk
GROUP BY doc_id, size_bytes
"""

# Keyfinder search oracle. The driver-side loop reports minimal keys only —
# it stops at the first candidate size that yields any key (reference:
# keyfinder.py:179-182). orders has a size-1 key at every SF (o_orderkey),
# so the oracle enumerates exactly the size-1 pass the search performs:
# ID-named columns first is an ORDERING detail (rows compare order-
# insensitively), and a column qualifies iff it has no NULLs and its
# distinct count equals the row count.
_ORDERS_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]
SQL_KEYFINDER_SEARCH = (
    "WITH n AS (SELECT count(*) AS total FROM orders),\ncand AS (\n"
    + "\n    UNION ALL\n".join(
        f"    SELECT '{c}' AS key_columns,"
        f" count(DISTINCT {c}) AS d,"
        f" count(*) FILTER ({c} IS NULL) AS nulls FROM orders"
        for c in _ORDERS_COLS
    )
    + "\n)\n"
    "SELECT 'orders' AS table_name, key_columns, 1 AS key_size\n"
    "FROM cand, n WHERE nulls = 0 AND d = total"
)


# ---------------------------------------------------------------------------
# Training-pipeline curation operators (r7): stratified sample, corpus
# n-gram mining, PII scan, per-language quality-quantile gate
# ---------------------------------------------------------------------------


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language cap (50 docs/lang) chosen by portable
    hash order — rerun-/engine-stable, unlike rand() sampling."""
    from .operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, "lang", 50, id_col="doc_id", seed=42)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
    row_number() OVER (
      PARTITION BY lang
      ORDER BY ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
                 ::UBIGINT,
               doc_id
    ) AS rn
  FROM documents
) WHERE rn <= 50 ORDER BY doc_id
"""


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-100 word bigrams with occurrence and document
    frequencies — explode + two-phase hash agg + TakeOrdered."""
    from .operators.textstats import top_ngrams

    docs = load_table(spark, sf_dir, "documents")
    return top_ngrams(docs, n=2, k=100)


SQL_TOP_NGRAMS = r"""
WITH base AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
                x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) < 2 THEN [] ELSE list_transform(
      range(1, len(toks)), i -> array_to_string(list_slice(toks, i, i+1), ' '))
    END) AS ngram
  FROM base
)
SELECT ngram,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM g GROUP BY ngram
ORDER BY n_occurrences DESC, ngram ASC LIMIT 100
"""


def q_dup_ngram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated 3-gram fraction per doc (FineWeb-style
    duplicated-content quality signal, operators/textstats.py
    dup_ngram_stats)."""
    from .operators.textstats import dup_ngram_stats

    docs = load_table(spark, sf_dir, "documents")
    return dup_ngram_stats(docs, n=3).orderBy("doc_id")


SQL_DUP_NGRAM_FRAC = r"""
WITH base AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
                x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) < 3 THEN [] ELSE list_transform(
      range(1, len(toks) - 1),
      i -> array_to_string(list_slice(toks, i, i + 2), ' '))
    END) AS ngram
  FROM base
), pdg AS (
  SELECT doc_id, ngram, COUNT(*) AS occ FROM g GROUP BY 1, 2
), dfq AS (
  SELECT ngram, COUNT(*) AS ndocs FROM pdg GROUP BY 1
), stats AS (
  SELECT pdg.doc_id,
         SUM(pdg.occ) AS n_ngrams,
         SUM(CASE WHEN dfq.ndocs >= 2 THEN pdg.occ ELSE 0 END) AS n_dup
  FROM pdg JOIN dfq USING (ngram) GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(s.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(coalesce(s.n_dup, 0) AS BIGINT) AS n_dup_ngrams,
       round(CASE WHEN coalesce(s.n_ngrams, 0) > 0
             THEN CAST(s.n_dup AS DOUBLE) / s.n_ngrams ELSE 0.0 END,
             4) AS dup_ngram_frac
FROM documents d LEFT JOIN stats s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
"""


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc PII hit counts (email/url/ipv4/digit-run) + redacted
    length — pure regexp codegen, no UDF, no shuffle."""
    from .operators.redact import pii_scan

    docs = load_table(spark, sf_dir, "documents")
    return pii_scan(docs).orderBy("doc_id")


# Same regexes as redact.PII_PATTERNS — written in the Java-regex /
# RE2 common subset so both engines match identically.
SQL_PII_SCAN = r"""
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(t, 'https?://[^\s]+')) AS BIGINT) AS n_url,
  CAST(len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(t, '[0-9]{7,}')) AS BIGINT) AS n_digit_run,
  CAST(length(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          'https?://[^\s]+', '<URL>', 'g'),
        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
      '[0-9]{7,}', '<NUM>', 'g')
  ) AS BIGINT) AS redacted_len
FROM (SELECT doc_id, coalesce(text, '') AS t FROM documents)
ORDER BY doc_id
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language median-quality gate: docs scoring at or above their
    language's exact interpolated p50 survive. Thresholds are a tiny
    broadcast; the corpus is never shuffled."""
    from .operators.textstats import quality_quantile_filter

    docs = load_table(spark, sf_dir, "documents")
    return (
        quality_quantile_filter(docs, quantile=0.5, group_col="lang")
        .select("doc_id", "lang", "quality_score")
        .orderBy("doc_id")
    )


SQL_QUALITY_FILTER = f"""
WITH q AS ({SQL_TEXT_QUALITY}),
d AS (SELECT doc_id, lang FROM documents),
s AS (SELECT d.doc_id, d.lang, q.quality_score
      FROM d JOIN q USING (doc_id)),
thr AS (SELECT lang, quantile_cont(quality_score, 0.5) AS t
        FROM s GROUP BY lang)
SELECT s.doc_id, s.lang, s.quality_score
FROM s JOIN thr ON s.lang IS NOT DISTINCT FROM thr.lang
WHERE s.quality_score >= thr.t
ORDER BY s.doc_id
"""


def q_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation chain (quality gate -> exact dedup -> PII
    redaction -> deterministic split) as one composed plan — the corpus
    is scanned once; only the dedup groupBy shuffles it."""
    from .operators.pipeline import curate

    docs = load_table(spark, sf_dir, "documents")
    return (
        curate(docs)
        .select(
            "doc_id",
            "lang",
            "quality_score",
            "split",
            F.length("redacted_text").cast("long").alias("redacted_len"),
        )
        .orderBy("doc_id")
    )


# Composes the stage oracles: quantile_cont gate, md5 keep-min-id dedup,
# the PII regexp_replace chain's length, and the hash-mod split.
SQL_CURATED_CORPUS = f"""
WITH q AS ({SQL_TEXT_QUALITY}),
thr AS (
  SELECT d.lang, quantile_cont(q.quality_score, 0.5) AS t
  FROM documents d JOIN q USING (doc_id) GROUP BY d.lang
),
gated AS (
  SELECT d.doc_id, d.lang, d.text, q.quality_score
  FROM documents d JOIN q USING (doc_id)
       JOIN thr ON d.lang IS NOT DISTINCT FROM thr.lang
  WHERE q.quality_score >= thr.t
),
fp AS (
  SELECT *,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM gated
),
deduped AS (
  SELECT * FROM fp
  WHERE doc_id = (SELECT min(f2.doc_id) FROM fp f2
                  WHERE f2.fingerprint = fp.fingerprint)
)
SELECT doc_id, lang, quality_score,
  CASE WHEN b < 8000 THEN 'train'
       WHEN b < 9000 THEN 'val'
       ELSE 'test' END AS split,
  CAST(length(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(coalesce(text, ''),
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
          'https?://[^\\s]+', '<URL>', 'g'),
        '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b', '<IP>', 'g'),
      '[0-9]{{7,}}', '<NUM>', 'g')
  ) AS BIGINT) AS redacted_len
FROM (
  SELECT *,
    ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
      % 10000 AS b
  FROM deduped
) ORDER BY doc_id
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (one row per (label, dim)) with
    order-independent decimal-exact elementwise means."""
    from .operators.similarity import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb)


SQL_LABEL_CENTROIDS = """
SELECT label, i AS dim,
  CAST(round(
    CAST(SUM(CAST(round(CAST(embedding[i+1] AS DOUBLE), 7)
                  AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*), 6)
    AS DOUBLE) AS centroid,
  CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM embeddings, unnest(range(len(embedding))) AS t(i)
GROUP BY label, i ORDER BY label, i
"""


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF (deterministic
    (score desc, term asc) cut)."""
    from .operators.textstats import tfidf_keywords

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_keywords(docs, k=3).orderBy("doc_id", "rank")


SQL_TFIDF_KEYWORDS = r"""
WITH toks AS (
  SELECT doc_id, unnest(
    list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
                x -> x <> '')) AS term
  FROM documents
), terms AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE length(term) >= 3 GROUP BY doc_id, term
), dfreq AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM terms GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
    round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf
  FROM terms t JOIN dfreq d USING (term), n
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df, tfidf
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 3 ORDER BY doc_id, rank
"""


def q_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup CLUSTERS: MinHash pairs at threshold 0.5 ->
    iterative min-label connected components -> (doc, cluster, size,
    representative). The cluster id makes chained duplicates (A~B~C
    with no A~C pair) actionable — keep is_representative only."""
    from .operators.clusters import near_dup_clusters
    from .operators.dedup import minhash_near_duplicates

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, threshold=0.5)
    return near_dup_clusters(pairs).orderBy("doc_id")


# DuckDB twin: brute-force Jaccard pairs (same construction as
# SQL_MINHASH_NEAR_DUPS) -> recursive-CTE reachability -> min reachable
# id per node = the cluster id.
SQL_MINHASH_CLUSTERS = f"""
WITH RECURSIVE {_SQL_SHINGLES},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
),
comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY cluster_id
)
SELECT comp.id AS doc_id, comp.cluster_id, sizes.cluster_size,
       comp.id = comp.cluster_id AS is_representative
FROM comp JOIN sizes USING (cluster_id)
ORDER BY doc_id
"""


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 events by |z-score| of value within their event_type —
    decimal-exact order-independent moments, broadcast back, TakeOrdered."""
    from .operators.profile import zscore_outliers

    events = load_table(spark, sf_dir, "events")
    return zscore_outliers(
        events, value_col="value", group_col="event_type",
        id_col="event_id", k=20,
    )


SQL_VALUE_OUTLIERS = """
WITH canon AS (
  SELECT event_id, event_type, TRY_CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE TRY_CAST(value AS DECIMAL(18,6)) IS NOT NULL
),
stats AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean,
         (CAST(SUM(v * v) AS DOUBLE) / COUNT(*)
          - (CAST(SUM(v) AS DOUBLE) / COUNT(*))
            * (CAST(SUM(v) AS DOUBLE) / COUNT(*)))
           * COUNT(*) / (COUNT(*) - 1) AS var
  FROM canon GROUP BY event_type HAVING COUNT(*) >= 2
)
SELECT event_id, canon.event_type AS event_type,
       round(CAST(v AS DOUBLE), 6) AS value,
       round((CAST(v AS DOUBLE) - mean) / sqrt(var), 4) AS zscore
FROM canon JOIN stats
  ON canon.event_type IS NOT DISTINCT FROM stats.event_type
WHERE var > 0
ORDER BY abs(round((CAST(v AS DOUBLE) - mean) / sqrt(var), 4)) DESC,
         event_id ASC
LIMIT 20
"""


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20k-token subsample: the largest hash-order prefix
    within budget — distributed range-bucket prefix sum; only the one
    boundary bucket runs a window."""
    from .operators.sampling import token_budget_sample

    docs = load_table(spark, sf_dir, "documents")
    return token_budget_sample(docs, budget_tokens=20_000, seed=42)


# The oracle runs the NAIVE global running sum the operator's bucketed
# prefix is provably equivalent to.
SQL_TOKEN_BUDGET = r"""
WITH t AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                         x -> x <> '')) AS BIGINT) AS n_tokens,
    ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
      ::UBIGINT AS h
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY h, doc_id) AS cum
  FROM t
)
SELECT doc_id, n_tokens FROM c WHERE cum <= 20000 ORDER BY doc_id
"""


def q_cross_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup: odd-id docs (the 'new crawl') vs even-id
    docs (the 'existing corpus') at threshold 0.5 — banded equi-join
    across sides only, exact-Jaccard verified."""
    from .operators.dedup import minhash_cross_near_duplicates

    docs = load_table(spark, sf_dir, "documents")
    return _localized(
        minhash_cross_near_duplicates(
            docs.filter(F.col("doc_id") % 2 == 1),
            docs.filter(F.col("doc_id") % 2 == 0),
            threshold=0.5,
        )
    ).orderBy("query_id", "corpus_id")


def q_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-wins survivors over the minhash near-dup pair graph
    (doc_id < GATE_BENCH_MAX_DOC, threshold 0.5), resolved with the
    DISTRIBUTED wavefront (`operators.clusters.first_wins_dropped`) —
    the same lexicographically-first-MIS semantics as the streaming
    gate's driver greedy and this query's recursive-CTE oracle, but
    computed with pairs never leaving the cluster. This is the gate's
    over-limit fallback path under a direct oracle. The doc cap keeps
    the bench cost in the per-round wavefront (the thing under test),
    not the upstream banding."""
    from .operators.clusters import first_wins_dropped
    from .operators.dedup import minhash_near_duplicates

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < FIRST_WINS_MAX_DOC
    )
    pairs = minhash_near_duplicates(docs, threshold=0.5)
    with released(pairs):
        dropped = first_wins_dropped(pairs).withColumnRenamed("id", "doc_id")
    return (
        docs.select("doc_id")
        .join(dropped, "doc_id", "left_anti")
        .orderBy("doc_id")
    )


FIRST_WINS_MAX_DOC = 1_000

SQL_DEDUP_FIRST_WINS = f"""
WITH RECURSIVE
{_SQL_SHINGLES_MAT},
pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE b.doc_id < {FIRST_WINS_MAX_DOC}
    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
),
ids AS MATERIALIZED (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
  FROM documents WHERE doc_id < {FIRST_WINS_MAX_DOC}
),
nbrs AS MATERIALIZED (
  SELECT id_b AS doc_id, list(id_a) AS smaller FROM pairs GROUP BY id_b
),
g(rn, kept) AS (
  SELECT CAST(0 AS BIGINT), CAST([] AS BIGINT[])
  UNION ALL
  SELECT g.rn + 1,
         CASE WHEN list_has_any(g.kept, coalesce(n.smaller, []))
              THEN g.kept ELSE list_append(g.kept, i.doc_id) END
  FROM g
  JOIN ids i ON i.rn = g.rn + 1
  LEFT JOIN nbrs n ON n.doc_id = i.doc_id
)
SELECT CAST(unnest(kept) AS BIGINT) AS doc_id
FROM g WHERE rn = (SELECT max(rn) FROM ids)
ORDER BY doc_id
"""


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (textstats.perplexity_buckets):
    unigram-LM perplexity terciles -> head/middle/tail labels, fully
    oracled (discrete-percentile cuts over the rounded perplexity)."""
    from .operators.textstats import perplexity_buckets

    return perplexity_buckets(load_table(spark, sf_dir, "documents"))


# the lm_score oracle reused as a CTE body (the trailing ORDER BY is
# stripped — it is redundant inside a CTE)
_SQL_LM_CORE = SQL_LM_SCORE.replace(") ORDER BY doc_id", ")")

SQL_PPL_BUCKETS = f"""
WITH scored AS ({_SQL_LM_CORE}),
e AS (
  SELECT quantile_disc(perplexity, 0.33333333) AS e1,
         quantile_disc(perplexity, 0.66666667) AS e2
  FROM scored
)
SELECT doc_id, n_tokens, avg_logprob, perplexity,
       CASE WHEN perplexity <= e.e1 THEN 'head'
            WHEN perplexity <= e.e2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM scored, e ORDER BY doc_id
"""


def q_incremental_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable per-batch stats store (operators/statstore.py): two
    parity batches of documents append segments; the merged profile's
    EXACT statistics (counts, nulls, min/max) must equal a direct
    full-table profile — summing segment partials is the whole point.
    The HLL distinct estimate is excluded here (approximate; bounded in
    tests/test_pipeline_ops.py::test_stats_store_*) so the row stays
    oracle-hashable."""
    import shutil
    import tempfile

    from .operators.statstore import (
        stats_store_append,
        stats_store_profile,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="statstore_q_")
    try:
        stats_store_append(docs.filter("doc_id % 2 = 0"), d, "documents")
        stats_store_append(docs.filter("doc_id % 2 = 1"), d, "documents")
        merged = stats_store_profile(spark, d).drop("approx_distinct")
        # localize: the result is n_cols rows; the temp store dir is
        # deleted on return, so the frame must not re-read it later
        rows = merged.collect()
        return spark.createDataFrame(rows, merged.schema).orderBy(
            "table_name", "col_name"
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _incremental_profile_oracle() -> str:
    numeric = {"doc_id", "n_chars"}
    parts = []
    for c in ["doc_id", "lang", "n_chars", "source", "text"]:
        mn = (
            f"CAST(min({c}) AS DOUBLE)" if c in numeric else "CAST(NULL AS DOUBLE)"
        )
        mx = (
            f"CAST(max({c}) AS DOUBLE)" if c in numeric else "CAST(NULL AS DOUBLE)"
        )
        parts.append(
            f"SELECT 'documents' AS table_name, '{c}' AS col_name, "
            f"CAST(count(*) AS BIGINT) AS n_rows, "
            f"CAST(count(*) - count({c}) AS BIGINT) AS null_count, "
            f"{mn} AS min_value, {mx} AS max_value FROM documents"
        )
    return " UNION ALL ".join(parts) + " ORDER BY table_name, col_name"


SQL_INCREMENTAL_PROFILE = _incremental_profile_oracle()


_QHIST_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_QHIST_BUCKETS = 4


def q_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram profiler (profile.quantile_histogram):
    discrete-percentile bucket edges — actual data values, so bucket
    membership is engine-exact (no interpolation formula to disagree
    on) — over four lineitem numeric columns."""
    from .operators.profile import quantile_histogram

    return quantile_histogram(
        load_table(spark, sf_dir, "lineitem"),
        "lineitem",
        columns=_QHIST_COLS,
        n_buckets=_QHIST_BUCKETS,
    )


def _qhist_oracle_sql() -> str:
    qs = [i / _QHIST_BUCKETS for i in range(1, _QHIST_BUCKETS)]
    arr = ", ".join(str(q) for q in qs)
    parts = []
    for c in _QHIST_COLS:
        parts.append(f"""
SELECT 'lineitem' AS table_name, '{c}' AS col_name,
       CAST(bucket AS INTEGER) AS bucket,
       round(lo_edges[bucket + 1], 4) AS lo,
       round(hi_edges[bucket + 1], 4) AS hi,
       CAST(count(*) AS BIGINT) AS n_rows
FROM (
  SELECT len(list_filter(e.qs, q -> CAST(t.{c} AS DOUBLE) > q)) AS bucket,
         list_prepend(e.mn, e.qs) AS lo_edges,
         list_append(e.qs, e.mx) AS hi_edges
  FROM lineitem t,
       (SELECT list_transform(
                 quantile_disc(CAST({c} AS DOUBLE), [{arr}]),
                 x -> CAST(x AS DOUBLE)) AS qs,
               min(CAST({c} AS DOUBLE)) AS mn,
               max(CAST({c} AS DOUBLE)) AS mx
        FROM lineitem) e
  WHERE t.{c} IS NOT NULL
)
GROUP BY bucket, lo_edges, hi_edges""")
    return " UNION ALL ".join(parts) + " ORDER BY col_name, bucket"


SQL_QUANTILE_HISTOGRAM = _qhist_oracle_sql()


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (operators/packing.py): each doc's
    placement in the packed token stream at seq_len=512 with one EOS
    separator per doc. The distributed two-phase prefix sum must
    reproduce a plain SQL window cumsum bit-for-bit — bucketing changes
    parallelism, never values."""
    from .operators.packing import sequence_pack

    docs = load_table(spark, sf_dir, "documents")
    return sequence_pack(docs, seq_len=512).orderBy("doc_id")


def q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-sequence MATERIALIZATION (operators/packing.py
    packed_sequences): the loader side of GPT packing — concatenate
    every doc's whitespace tokens + one EOS in doc_id order, chunk at
    seq_len=512, return (seq_id, text, n_tokens) per training
    sequence. Docs explode only to the sequences their span touches
    (never a global window); the oracle rebuilds the identical stream
    with a window cumsum + zipped unnest + positional group-concat."""
    from .operators.packing import packed_sequences

    docs = load_table(spark, sf_dir, "documents")
    return packed_sequences(docs, seq_len=512).orderBy("seq_id")


SQL_PACKED_SEQUENCES = r"""
WITH toks AS (
  SELECT doc_id,
         list_concat(
           list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                       x -> x <> ''),
           ['<|eos|>']) AS tp
  FROM documents
),
placed AS (
  SELECT doc_id, tp,
         CAST(coalesce(SUM(len(tp)) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS gs
  FROM toks
),
flat AS (
  SELECT gs + unnest(range(len(tp))) AS pos, unnest(tp) AS tok
  FROM placed
)
SELECT CAST(pos // 512 AS BIGINT) AS seq_id,
       string_agg(tok, ' ' ORDER BY pos) AS text,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM flat GROUP BY 1 ORDER BY seq_id
"""


SQL_SEQUENCE_PACK = r"""
WITH counted AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(SUM(n_tokens + 1) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS global_start
  FROM counted
)
SELECT doc_id, n_tokens, global_start,
       CASE WHEN n_tokens > 0
            THEN CAST(global_start // 512 AS BIGINT) END AS first_seq,
       CASE WHEN n_tokens > 0
            THEN CAST((global_start + n_tokens - 1) // 512 AS BIGINT)
       END AS last_seq,
       CASE WHEN n_tokens > 0
            THEN CAST(global_start % 512 AS BIGINT) END AS seq_offset
FROM c ORDER BY doc_id
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact LINE dedup (operators/linededup.py, the C4 /
    MassiveText curation stage), keep-first policy. The synthetic docs
    are single-line, so the harness builds multi-line documents
    deterministically: doc i's text becomes lines (text_i, text_{i+1},
    text_{i+2}) via lead() — every original line then occurs in up to 3
    docs and only its FIRST (doc, position) occurrence survives,
    producing a nontrivial removal pattern the oracle reproduces
    line-for-line (including documents reduced to empty text)."""
    from pyspark.sql import Window

    from .operators.linededup import line_level_dedup

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 300
    )
    # harness-side construction (300 rows): the single-partition window
    # is the test scaffolding, not the operator under test
    w = Window.orderBy("doc_id")
    base = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lead("text", 1).over(w),
            F.lead("text", 2).over(w),
        ).alias("text"),
    )
    return line_level_dedup(base, mode="keep_first").orderBy("doc_id")


SQL_LINE_DEDUP = """
WITH base AS (
  SELECT doc_id, concat_ws(chr(10), text,
     lead(text,1) OVER (ORDER BY doc_id),
     lead(text,2) OVER (ORDER BY doc_id)) AS t
  FROM documents WHERE doc_id < 300
),
lines AS (
  SELECT doc_id, u.line, u.pos
  FROM base,
  LATERAL (SELECT unnest(string_split(t, chr(10))) AS line,
                  unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos) u
),
ranked AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM lines
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10)
                           ORDER BY pos), '') AS text,
       CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT)
         AS n_removed_lines
FROM ranked GROUP BY doc_id ORDER BY doc_id
"""


def q_cross_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index twin of `cross_near_dups`: even-id docs are
    banded ONCE into an on-disk MinHash index
    (operators/minhash_index.py — half via write, half via append, so
    the lifecycle is exercised), then the odd-id 'new crawl' probes it
    at threshold 0.5. Same result contract and the same DuckDB oracle
    as the live-frames operator — the index changes WHERE the corpus
    bands live, never the answer."""
    import shutil
    import tempfile

    from .operators.minhash_index import (
        minhash_index_append,
        minhash_index_query,
        minhash_index_write,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    path = tempfile.mkdtemp(prefix="minhash_index_q_")
    try:
        minhash_index_write(corpus.filter(F.col("doc_id") % 4 == 0), path)
        minhash_index_append(corpus.filter(F.col("doc_id") % 4 == 2), path)
        return _localized(
            minhash_index_query(
                docs.filter(F.col("doc_id") % 2 == 1),
                path,
                threshold=0.5,
                corpus=corpus,
            )
        ).orderBy("query_id", "corpus_id")
    finally:
        shutil.rmtree(path, ignore_errors=True)


SQL_CROSS_NEAR_DUPS = f"""
WITH {_SQL_SHINGLES}
SELECT a.doc_id AS query_id, b.doc_id AS corpus_id,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))),
             4) AS jaccard
FROM sh a JOIN sh b
  ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
ORDER BY query_id, corpus_id
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel with first-touch ordered
    attribution — one scan, one user-hash shuffle, stacked unordered
    window minimums."""
    from .operators.funnel import funnel

    events = load_table(spark, sf_dir, "events")
    return funnel(events, ["view", "click", "purchase"])


SQL_EVENT_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
  GROUP BY e.user_id
),
n AS (
  SELECT (SELECT COUNT(*) FROM s1) AS n1,
         (SELECT COUNT(*) FROM s2) AS n2,
         (SELECT COUNT(*) FROM s3) AS n3
)
SELECT step_index, step, n_users,
  CASE WHEN n1 > 0
       THEN round(CAST(n_users AS DOUBLE) / n1 * 100.0, 2)
       ELSE 0.0 END AS pct_of_first
FROM (
  SELECT 1 AS step_index, 'view' AS step, CAST(n1 AS BIGINT) AS n_users, n1 FROM n
  UNION ALL
  SELECT 2, 'click', CAST(n2 AS BIGINT), n1 FROM n
  UNION ALL
  SELECT 3, 'purchase', CAST(n3 AS BIGINT), n1 FROM n
) ORDER BY step_index
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over events — cohort by first
    Monday-week of activity; sizes from the offset-0 rows of the same
    aggregate, broadcast back."""
    _ensure_utc(spark)
    from .operators.funnel import retention_cohorts

    events = load_table(spark, sf_dir, "events")
    return retention_cohorts(events)


SQL_RETENTION_COHORTS = """
WITH activity AS (
  SELECT DISTINCT user_id AS u,
         strftime(date_trunc('week', ts), '%Y-%m-%d') AS wk
  FROM events
),
cohorts AS (
  SELECT u, min(wk) AS cohort_week FROM activity GROUP BY u
),
joined AS (
  SELECT c.cohort_week,
         CAST(datediff('day', CAST(c.cohort_week AS DATE),
                       CAST(a.wk AS DATE)) / 7 AS BIGINT) AS week_offset,
         a.u
  FROM activity a JOIN cohorts c USING (u)
),
counts AS (
  SELECT cohort_week, week_offset,
         CAST(COUNT(DISTINCT u) AS BIGINT) AS n_active
  FROM joined GROUP BY cohort_week, week_offset
),
sizes AS (
  SELECT cohort_week, n_active AS sz FROM counts WHERE week_offset = 0
)
SELECT c.cohort_week, c.week_offset, c.n_active,
       round(CAST(c.n_active AS DOUBLE) / s.sz * 100.0, 2)
         AS retention_pct
FROM counts c JOIN sizes s USING (cohort_week)
ORDER BY c.cohort_week, c.week_offset
"""


def q_lsh_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH ANN machinery at FULL probe radius (the whole Hamming
    cube): provably equal to brute-force cosine top-k, so the same
    pipeline that runs approximately in `lsh_topk` gets a bit-for-bit
    DuckDB oracle here — the correctness anchor for the ANN tier."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    scored = lsh_bucketed_topk(
        emb, list(q), k=10, n_planes=8, probe_hamming=8
    )
    return scored.select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_ivf_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF ANN machinery probing ALL cells — equal to brute force
    by construction; oracled with the same cosine top-k SQL."""
    from .operators.similarity import ivf_build, ivf_search

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    assigned, centroids = ivf_build(emb, n_cells=8)
    out = ivf_search(assigned, centroids, list(q), k=10, n_probes=8)
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix reweighting: per-language sampling rates applied by
    portable hash threshold (operators/sampling.mixture_sample) — one
    narrow projection, no shuffle; membership is append-stable and
    NESTED across rate changes."""
    from .operators.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        mixture_sample(
            docs,
            group_col="lang",
            rates={"en": 0.5, "zh": 1.0, "de": 0.25},
            default_rate=0.75,
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


SQL_MIXTURE_SAMPLE = """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
    ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
      % 10000 AS b
  FROM documents
)
WHERE b < CASE WHEN lang = 'en' THEN 5000
               WHEN lang = 'zh' THEN 10000
               WHEN lang = 'de' THEN 2500
               ELSE 7500 END
ORDER BY doc_id
"""


def q_semantic_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/kmeans.semantic_near_dup_pairs): k-means
    cells as the blocking structure, exhaustive cosine within each
    cell. The oracle chains the unrolled k-means CTE with an
    intra-cluster pair join — the whole pipeline (iterative clustering
    INCLUDED) under one bit-for-bit hash gate."""
    from .operators.kmeans import semantic_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # k=16 is the blocking knob: SemDeDup runs LARGE k precisely so
    # cells stay small (sum of cell^2 is the pair budget)
    return semantic_near_dup_pairs(
        emb, threshold=0.35, k=16, iters=2
    ).orderBy("id_a", "id_b")



def q_group_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap in deterministic hash order (operators/
    sampling.py stratified_sample — the RefinedWeb per-domain cap),
    computed with the skew-safe two-phase bucket plan; the cap of 40
    lands INSIDE a bucket for every source, so this exercises the
    boundary-bucket rank path the smaller stratified_sample query
    (cap >= group size) never reaches. The oracle runs the naive
    PARTITION BY window the plan must equal bit-for-bit."""
    from .operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, "source", 40, id_col="doc_id")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


SQL_GROUP_CAP_SAMPLE = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)),
                                    1, 15))::UBIGINT,
                    doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 40
ORDER BY doc_id
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping token chunking (operators/chunking.py):
    32-token windows advancing by 24 (8-token overlap), provenance via
    (doc_id, chunk_id, start_token); the unit that feeds embedding +
    ANN indexing."""
    from .operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8).orderBy(
        "doc_id", "chunk_id"
    )


SQL_CHUNK_DOCUMENTS = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
m AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= 0 THEN 0
              WHEN len(toks) <= 32 THEN 1
              ELSE CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT) + 1
         END AS nc
  FROM t
)
SELECT doc_id,
       CAST(c AS BIGINT) AS chunk_id,
       array_to_string(toks[c * 24 + 1 : c * 24 + 32], ' ') AS text,
       CAST(c * 24 AS BIGINT) AS start_token,
       CAST(least(32, n - c * 24) AS BIGINT) AS n_tokens
FROM (SELECT doc_id, toks, n, unnest(range(0, nc)) AS c
      FROM m WHERE nc > 0)
ORDER BY doc_id, chunk_id
"""


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embeddings (operators/
    chunking.quantize_embeddings, faiss-SQ8 shape): per-dim min/max
    affine codes 0..255 + per-row max reconstruction error, exploded
    to (vec_id, dim, code, max_abs_err) for the oracle (the same
    honest layout as label_centroids)."""
    from .operators.chunking import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    return (
        q.select(
            "vec_id",
            F.posexplode("qvec").alias("dim", "code"),
            "max_abs_err",
        )
        .withColumn("dim", F.col("dim").cast("long"))
        .orderBy("vec_id", "dim")
    )


SQL_QUANTIZE_EMBEDDINGS = """
WITH s AS (
  SELECT dim, min(v) AS lo, max(v) AS hi FROM (
    SELECT unnest(range(1, len(embedding) + 1)) AS dim,
           unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
    FROM embeddings
  ) GROUP BY dim
),
arr AS (
  SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his FROM s
),
q AS (
  SELECT vec_id,
         list_transform(embedding, (x, i) ->
           CASE WHEN his[i] > los[i]
                THEN CAST(round((CAST(x AS DOUBLE) - los[i])
                                / (his[i] - los[i]) * 255) AS INT)
                ELSE 0 END) AS qvec,
         round(list_max(list_transform(embedding, (x, i) ->
           abs(CAST(x AS DOUBLE) -
               (CASE WHEN his[i] > los[i]
                     THEN los[i] + CAST(round((CAST(x AS DOUBLE) - los[i])
                                              / (his[i] - los[i]) * 255)
                                        AS INT) / 255.0 * (his[i] - los[i])
                     ELSE los[i] END)))), 6) AS max_abs_err
  FROM embeddings, arr
)
SELECT vec_id,
       CAST(unnest(range(0, len(qvec))) AS BIGINT) AS dim,
       unnest(qvec) AS code,
       max_abs_err
FROM q
ORDER BY vec_id, dim
"""


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span removal (operators/linededup.py
    duplicate_span_removal — Lee et al. 2022 ExactSubstr): every
    5-token span occurring >= 2 times anywhere in the corpus is
    removed, covered tokens with it; per-doc removal accounting."""
    from .operators.linededup import duplicate_span_removal

    docs = load_table(spark, sf_dir, "documents")
    return (
        duplicate_span_removal(docs, k=5)
        .select("doc_id", "text", "n_removed_tokens")
        .orderBy("doc_id")
    )


SQL_SPAN_DEDUP = r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p, unnest(toks) AS tok
  FROM t
),
grams AS (
  SELECT doc_id,
         unnest(range(1, len(toks) - 5 + 2)) AS p,
         unnest(list_transform(range(1, len(toks) - 5 + 2),
                               i -> array_to_string(toks[i : i + 4], ' ')))
           AS gram
  FROM t WHERE len(toks) >= 5
),
dup AS (
  SELECT gram
  FROM (SELECT gram, count(*) AS c FROM grams GROUP BY 1)
  WHERE c >= 2
),
ds AS (
  SELECT g.doc_id, g.p, 1 AS f FROM grams g JOIN dup USING (gram)
),
flags AS (
  SELECT pos.doc_id, pos.p, pos.tok,
         max(ds.f) OVER (PARTITION BY pos.doc_id ORDER BY pos.p
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS cov
  FROM pos LEFT JOIN ds ON pos.doc_id = ds.doc_id AND pos.p = ds.p
),
clean AS (
  SELECT doc_id,
         coalesce(string_agg(tok, ' ' ORDER BY p)
                    FILTER (WHERE cov IS NULL), '') AS clean_text,
         CAST(count(*) FILTER (WHERE cov IS NOT NULL) AS BIGINT) AS nrt
  FROM flags GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN c.doc_id IS NULL THEN d.text ELSE c.clean_text END AS text,
       CAST(coalesce(c.nrt, 0) AS BIGINT) AS n_removed_tokens
FROM documents d LEFT JOIN clean c USING (doc_id)
ORDER BY d.doc_id
"""


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 mixture rebalancing over lang (operators/
    sampling.temperature_sample): rate_g = sqrt(n_min / n_g) derived
    from exact counts, applied by the portable hash threshold. The
    oracle derives the SAME thresholds from scratch in SQL — sqrt is
    correctly-rounded IEEE, so both engines agree bit-for-bit."""
    from .operators.sampling import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        temperature_sample(docs, group_col="lang", alpha=0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


SQL_TEMPERATURE_SAMPLE = """
WITH n AS (
  SELECT lang, count(*) AS c FROM documents GROUP BY lang
),
thr AS (
  SELECT lang,
         CAST(round(sqrt(CAST((SELECT min(c) FROM n) AS DOUBLE) / c)
                    * 10000) AS BIGINT) AS t
  FROM n
)
SELECT d.doc_id, d.lang
FROM documents d
JOIN thr ON d.lang IS NOT DISTINCT FROM thr.lang
WHERE ('0x' || substr(md5('42:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::UBIGINT
        % 10000 < thr.t
ORDER BY d.doc_id
"""


# toy linear quality model for the registry query: favors function
# words / punctuation-free prose, penalizes shouty tokens — the SHAPE
# of a fastText/FineWeb-Edu classifier export, deterministic for the
# oracle
_CLS_WEIGHTS = {
    "the": 0.9, "and": 0.7, "of": 0.6, "to": 0.5, "a": 0.4,
    "is": 0.35, "in": 0.3, "data": 0.25, "with": 0.2, "for": 0.15,
    "click": -0.8, "buy": -0.9, "free": -0.7, "subscribe": -1.0,
}


def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear bag-of-words classifier inference (operators/
    classifier.py): sigmoid(bias + mean token weight) per doc — the
    model-based quality filter (CCNet fastText / FineWeb-Edu shape) as
    one scan + broadcast weight join + decimal-exact doc rollup."""
    from .operators.classifier import classifier_score

    docs = load_table(spark, sf_dir, "documents")
    return classifier_score(
        docs, _CLS_WEIGHTS, bias=-0.2
    ).orderBy("doc_id")


SQL_CLASSIFIER_SCORE = (
    "WITH w(tok, wt) AS (VALUES "
    + ", ".join(
        f"('{t}', {round(v, 6)})" for t, v in sorted(_CLS_WEIGHTS.items())
    )
    + r"""),
t AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(coalesce(text, '')),
                                               '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
),
agg AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(coalesce(w.wt, 0) AS DECIMAL(20,8))) AS s
  FROM t LEFT JOIN w ON t.tok = w.tok
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       round(1.0 / (1.0 + exp(-(-0.2 + CASE WHEN coalesce(n, 0) > 0
                                       THEN CAST(s AS DOUBLE) / n
                                       ELSE 0.0 END))), 6) AS score
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
ORDER BY d.doc_id
"""
)


def q_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration bins (operators/classifier.
    calibration_report): the classifier_score model scored over the
    corpus, labeled by a deterministic rule (doc_id % 3 == 0), binned
    into 10 reliability buckets — per bin n / decimal-exact mean
    score / positive rate. The oracle replays scoring AND binning."""
    from .operators.classifier import calibration_report, classifier_score

    docs = load_table(spark, sf_dir, "documents")
    scored = classifier_score(docs, _CLS_WEIGHTS, bias=-0.2)
    lab = scored.withColumn(
        "label", (F.col("doc_id") % 3 == 0).cast("int")
    )
    return calibration_report(lab)


SQL_CALIBRATION_REPORT = f"""
WITH scored AS ({SQL_CLASSIFIER_SCORE.replace("ORDER BY d.doc_id", "")}),
lab AS (
  SELECT doc_id, score,
         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS label
  FROM scored
),
b AS (
  SELECT greatest(0, least(9, CAST(floor(score * 10) AS INT))) AS bin,
         score, label
  FROM lab WHERE score IS NOT NULL
),
g AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(round(score, 6) AS DECIMAL(18,6))) AS s,
         CAST(count(*) FILTER (WHERE label > 0) AS BIGINT) AS p
  FROM b GROUP BY bin
)
SELECT CAST(bin AS INT) AS bin, n,
  CAST({_avg_exact_sql("s", "n", 6)} AS DOUBLE) AS mean_score,
  CAST({_avg_exact_sql("p", "n", 6)} AS DOUBLE) AS pos_rate
FROM g ORDER BY bin
"""


def q_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication attribution (dedup.pair_source_matrix):
    the SimHash tier's pair frame joined to each side's source slice
    and rolled up to (source_a, source_b, n_pairs) — the forensics
    behind 'drop the mirror, not the original'. Oracle composes the
    SimHash brute-force twin with the same least/greatest rollup."""
    from .operators.dedup import pair_source_matrix, simhash_near_duplicates

    docs = load_table(spark, sf_dir, "documents")
    # _localized: the harness never releases a kept (over-limit) pair
    # set, so it is pulled through the driver (the
    # q_simhash_near_dups precedent)
    pairs = _localized(
        simhash_near_duplicates(docs, max_hamming=3, portable=True)
    )
    return pair_source_matrix(pairs, docs)


SQL_SOURCE_MATRIX = f"""
WITH {_SQL_SIMHASH_FP},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
tagged AS (
  -- faithful twin of the operator's placement rule: LEFT joins, a
  -- MISSING id (join key NULL) keeps a visible NULL b-side
  SELECT CASE WHEN da.doc_id IS NULL OR db.doc_id IS NULL
              THEN coalesce(da.source, db.source)
              ELSE least(da.source, db.source) END AS source_a,
         CASE WHEN da.doc_id IS NULL OR db.doc_id IS NULL
              THEN NULL
              ELSE greatest(da.source, db.source) END AS source_b
  FROM cand c
  LEFT JOIN documents da ON c.id_a = da.doc_id
  LEFT JOIN documents db ON c.id_b = db.doc_id
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
FROM tagged GROUP BY source_a, source_b
ORDER BY n_pairs DESC, source_a, source_b
"""


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embeddings (operators/
    kmeans.py): deterministic init (k lowest ids), FIXED 2 iterations,
    exact-decimal center means — the oracle unrolls the identical
    iterations as chained CTEs, so an ITERATIVE algorithm still gets a
    bit-for-bit hash gate."""
    from .operators.kmeans import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=4, iters=2).orderBy("vec_id")


def _kmeans_sql_round(tag_in: str, tag_assign: str, tag_out: str) -> str:
    """One unrolled Lloyd's round: distances to ``tag_in`` centers,
    argmin assignment, exact-decimal means -> ``tag_out`` centers."""
    return f"""
d{tag_assign} AS (
  SELECT v.vec_id, c.cluster,
         list_sum(list_transform(v.e, (x, i) -> (x - c.e[i]) * (x - c.e[i]))) AS dist
  FROM v CROSS JOIN c{tag_in} c
),
a{tag_assign} AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
    FROM d{tag_assign}) WHERE rn = 1
),
m{tag_assign} AS (
  SELECT a{tag_assign}.cluster,
         unnest(range(1, len(v.e) + 1)) AS dim,
         unnest(v.e) AS val
  FROM a{tag_assign} JOIN v USING (vec_id)
),
c{tag_out} AS (
  SELECT cluster,
         list(round(CAST(s AS DOUBLE) / n, 6) ORDER BY dim) AS e
  FROM (
    SELECT cluster, dim,
           sum(CAST(val AS DECIMAL(20,8))) AS s, count(*) AS n
    FROM m{tag_assign} GROUP BY cluster, dim
  ) GROUP BY cluster
)"""


SQL_KMEANS_CLUSTERS = f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> round(CAST(x AS DOUBLE), 7)) AS e
  FROM embeddings
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, e
  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 4)
),{_kmeans_sql_round("0", "1", "1")},{_kmeans_sql_round("1", "2", "2")},
d3 AS (
  SELECT v.vec_id, c.cluster,
         list_sum(list_transform(v.e, (x, i) -> (x - c.e[i]) * (x - c.e[i]))) AS dist
  FROM v CROSS JOIN c2 c
)
SELECT vec_id, CAST(cluster AS INT) AS cluster, round(dist, 6) AS dist
FROM (
  SELECT vec_id, cluster, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
  FROM d3) WHERE rn = 1
ORDER BY vec_id
"""


def q_kmeans_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster balance/quality rollup of the k-means assignment
    (operators/kmeans.py cluster_sizes): per-cluster counts and exact
    decimal mean squared distance."""
    from .operators.kmeans import cluster_sizes, kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_sizes(kmeans_assign(emb, k=4, iters=2))


SQL_KMEANS_SIZES = f"""
WITH assign AS ({SQL_KMEANS_CLUSTERS.replace("ORDER BY vec_id", "")})
SELECT cluster,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(sum(CAST(dist AS DECIMAL(20,8))) AS DOUBLE) / count(*),
             6) AS mean_dist
FROM assign GROUP BY cluster ORDER BY cluster
"""


# the embedded kmeans CTE re-parameterizes to the blocking k (LIMIT 16)
SQL_SEMANTIC_NEAR_DUPS = f"""
WITH assign AS ({SQL_KMEANS_CLUSTERS.replace("ORDER BY vec_id", "").replace("LIMIT 4", "LIMIT 16")})
SELECT id_a, id_b, cluster, c AS cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, aa.cluster,
         round(
           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS c
  FROM embeddings a
  JOIN assign aa ON a.vec_id = aa.vec_id
  JOIN assign bb ON aa.cluster = bb.cluster
  JOIN embeddings b ON b.vec_id = bb.vec_id AND a.vec_id < b.vec_id
)
WHERE c >= 0.35
ORDER BY id_a, id_b
"""


def q_dedup_best_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup resolution: within each transitive
    MinHash cluster (threshold 0.5) keep the HIGHEST-quality doc —
    n_chars as the quality signal here — ties to the lowest id. The
    keep-the-best policy FineWeb-style curation applies between
    canonical-min (arbitrary) and first-wins (earliest-seen). Docs are
    capped at GATE_BENCH_MAX_DOC (the dedup_first_wins precedent): the
    thing under test is the cluster resolution + argmax, not the band
    pipeline minhash_near_dups already covers."""
    from .operators.clusters import best_quality_kept
    from .operators.dedup import minhash_near_duplicates

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < GATE_BENCH_MAX_DOC
    )
    pairs = minhash_near_duplicates(docs, threshold=0.5)
    return best_quality_kept(
        pairs, docs, score_col="n_chars"
    ).orderBy("doc_id")


# DuckDB twin: the SQL_MINHASH_CLUSTERS reachability components, then
# the per-cluster argmax via an ordered array_agg (score DESC, id ASC).
SQL_DEDUP_BEST_WINS = f"""
WITH RECURSIVE {_SQL_SHINGLES},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE b.doc_id < {GATE_BENCH_MAX_DOC}
    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
),
comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
scored AS (
  SELECT comp.id AS doc_id, comp.cluster_id, d.n_chars
  FROM comp JOIN documents d ON d.doc_id = comp.id
),
winners AS (
  SELECT cluster_id,
         (array_agg(doc_id ORDER BY n_chars DESC, doc_id ASC))[1] AS w
  FROM scored GROUP BY cluster_id
)
SELECT s.doc_id, s.cluster_id, s.n_chars, s.doc_id = w.w AS is_kept
FROM scored s JOIN winners w USING (cluster_id)
ORDER BY doc_id
"""


def q_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-profile histogram over the MinHash near-dup graph:
    (cluster_size, n_clusters, n_docs) including the singleton row —
    the observability readout before committing a dedup policy. Docs
    capped at GATE_BENCH_MAX_DOC (dedup_first_wins precedent): under
    test is the histogram + singleton arithmetic, not the band
    pipeline."""
    from .operators.clusters import cluster_size_report
    from .operators.dedup import minhash_near_duplicates

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < GATE_BENCH_MAX_DOC
    )
    pairs = minhash_near_duplicates(docs, threshold=0.5)
    return cluster_size_report(pairs, docs)


SQL_CLUSTER_REPORT = f"""
WITH RECURSIVE {_SQL_SHINGLES},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE b.doc_id < {GATE_BENCH_MAX_DOC}
    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
),
comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, COUNT(*) AS cs FROM comp GROUP BY cluster_id),
hist AS (
  SELECT CAST(cs AS BIGINT) AS cluster_size,
         CAST(COUNT(*) AS BIGINT) AS n_clusters,
         CAST(SUM(cs) AS BIGINT) AS n_docs
  FROM sizes GROUP BY cs
),
singles AS (
  SELECT CAST(1 AS BIGINT) AS cluster_size,
         CAST((SELECT COUNT(*) FROM documents WHERE doc_id < {GATE_BENCH_MAX_DOC})
              - (SELECT COUNT(*) FROM comp) AS BIGINT) AS n_clusters,
         CAST((SELECT COUNT(*) FROM documents WHERE doc_id < {GATE_BENCH_MAX_DOC})
              - (SELECT COUNT(*) FROM comp) AS BIGINT) AS n_docs
)
SELECT * FROM (
  SELECT * FROM hist
  UNION ALL
  SELECT * FROM singles WHERE n_clusters > 0
) ORDER BY cluster_size
"""


def q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc contamination STRENGTH vs the doc_id % 97 'eval set'
    (same split and 3-gram window as `decontamination`): the fraction
    of each doc's distinct grams hitting the eval set, 0.0 for clean
    docs — one corpus scan, one doc-keyed shuffle."""
    from .operators.contamination import contamination_overlap

    docs = load_table(spark, sf_dir, "documents")
    return contamination_overlap(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        n=3,
    ).orderBy("doc_id")


SQL_CONTAMINATION_OVERLAP = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
  FROM documents
), ng AS (
  SELECT DISTINCT doc_id,
    unnest(CASE WHEN len(t) = 0 THEN []
      ELSE list_transform(range(1, greatest(len(t) - 3 + 2, 2)),
           i -> array_to_string(list_slice(t, i, i + 2), ' ')) END) AS g
  FROM toks
), eval_g AS (
  SELECT DISTINCT g FROM ng WHERE doc_id % 97 = 0
), per AS (
  SELECT c.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_ngrams,
         CAST(SUM(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hit_ngrams
  FROM (SELECT * FROM ng WHERE doc_id % 97 <> 0) c
  LEFT JOIN eval_g e ON c.g = e.g
  GROUP BY c.doc_id
)
SELECT d.doc_id,
  CAST(coalesce(n_ngrams, 0) AS BIGINT) AS n_ngrams,
  CAST(coalesce(n_hit_ngrams, 0) AS BIGINT) AS n_hit_ngrams,
  CASE WHEN coalesce(n_ngrams, 0) > 0
       THEN round(CAST(n_hit_ngrams AS DOUBLE) / n_ngrams, 4)
       ELSE 0.0 END AS overlap_frac
FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
LEFT JOIN per USING (doc_id)
ORDER BY doc_id
"""


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon character entropy (nats) — the below-token
    gibberish/binary detector; decimal-exact k·ln k terms so the sum
    is order-independent across engines."""
    from .operators.textstats import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    return char_entropy(docs).orderBy("doc_id")


SQL_CHAR_ENTROPY = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(coalesce(text, ''), '')) AS c
  FROM documents
),
cnt AS (
  SELECT doc_id, c, COUNT(*) AS k FROM ch WHERE c <> '' GROUP BY doc_id, c
),
agg AS (
  SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n,
         SUM(CAST(round(k * ln(k), 6) AS DECIMAL(28,6))) AS s
  FROM cnt GROUP BY doc_id
)
SELECT d.doc_id, CAST(coalesce(n, 0) AS BIGINT) AS n_chars,
  CASE WHEN coalesce(n, 0) > 0
       THEN round(ln(n) - CAST(s AS DOUBLE) / n, 4)
       ELSE 0.0 END AS char_entropy
FROM documents d LEFT JOIN agg USING (doc_id)
ORDER BY doc_id
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-40 docs per language by n_chars (ties by portable
    hash, then id) — 'keep the best N per domain'. max_window_rows=64
    forces the lexicographic-interval refinement path (score-range
    buckets, hash splits on ties) rather than the small-data final
    window, so the oracle checks the distributed machinery itself."""
    from .operators.sampling import topk_per_group

    docs = load_table(spark, sf_dir, "documents")
    return (
        topk_per_group(
            docs, "lang", "n_chars", 40, max_window_rows=64
        )
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


SQL_TOPK_PER_GROUP = """
WITH h AS (
  SELECT doc_id, lang, n_chars,
    ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
      AS hh
  FROM documents WHERE n_chars IS NOT NULL
),
r AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, hh ASC, doc_id ASC) AS rn
  FROM h
)
SELECT doc_id, lang, n_chars FROM r WHERE rn <= 40 ORDER BY doc_id
"""


def q_edit_distance_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Short-string near-dup pairs within Levenshtein distance 2 over
    12-char title prefixes — the record-linkage tier. FastSS deletion-
    neighborhood candidates (exact generator), capped equi-join, JVM
    thresholded-levenshtein verify."""
    from .operators.dedup import edit_distance_near_duplicates

    docs = load_table(spark, sf_dir, "documents")
    titles = docs.select(
        "doc_id", F.expr("substring(text, 1, 12)").alias("title")
    )
    return _localized(
        edit_distance_near_duplicates(
            titles, text_col="title", max_distance=2
        )
    ).orderBy("id_a", "id_b")


SQL_EDIT_DISTANCE_DUPS = """
WITH t AS (
  SELECT doc_id, substr(coalesce(text, ''), 1, 12) AS s FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.s, b.s) AS INTEGER) AS distance
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE levenshtein(a.s, b.s) <= 2
ORDER BY id_a, id_b
"""


def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE 80/10/10 split keyed by source instead of doc id:
    every doc from one source lands in the same split, so same-source
    near-dups can never straddle train/test."""
    from .operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs, seed=42, by_col="source").select(
        "doc_id", "source", "split"
    ).orderBy("doc_id")


SQL_GROUP_SPLIT = """
SELECT doc_id, source,
  CASE WHEN b < 8000 THEN 'train'
       WHEN b < 9000 THEN 'val'
       ELSE 'test' END AS split
FROM (
  SELECT doc_id, source,
    ('0x' || substr(md5('42:' || coalesce(CAST(source AS VARCHAR), '')),
                    1, 15))::UBIGINT
      % 10000 AS b
  FROM documents
) ORDER BY doc_id
"""


def q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style bad-words gate (token mode): per-doc hit counts for a
    blocklist — token-boundary matching, broadcast word list, corpus
    never shuffled."""
    from .operators.redact import blocklist_scan

    docs = load_table(spark, sf_dir, "documents")
    return blocklist_scan(docs, ["spark", "window"]).orderBy("doc_id")


SQL_BLOCKLIST = r"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(lower(text), '\s+'),
                       x -> x <> '')) AS w
  FROM documents
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocked
FROM toks WHERE w IN ('spark', 'window')
GROUP BY doc_id ORDER BY doc_id
"""


def q_blocklist_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-mode blocklist: token-adjacent multi-word matching via
    padded literal position search — pure codegen string expressions,
    zero shuffle."""
    from .operators.redact import blocklist_scan

    docs = load_table(spark, sf_dir, "documents")
    return blocklist_scan(
        docs, ["slow fast", "the line"], mode="phrase"
    ).orderBy("doc_id")


# Same padded-split occurrence count; split occurrences are
# non-overlapping in both engines so the counts agree bit-for-bit.
SQL_BLOCKLIST_PHRASE = r"""
WITH padded AS (
  SELECT doc_id,
    ' ' || regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')
        || ' ' AS p
  FROM documents
)
SELECT doc_id,
  CAST((len(string_split(p, ' slow fast ')) - 1)
     + (len(string_split(p, ' the line ')) - 1) AS BIGINT) AS n_blocked
FROM padded
WHERE (len(string_split(p, ' slow fast ')) - 1)
    + (len(string_split(p, ' the line ')) - 1) > 0
ORDER BY doc_id
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row importance sampling: keep each doc with probability
    n_chars/200 (clamped) — deterministic hash-threshold membership,
    monotone in the weight, zero shuffle."""
    from .operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "w", F.col("n_chars") / F.lit(200.0)
    )
    return weighted_sample(docs, "w", seed=42).select(
        "doc_id", "n_chars"
    ).orderBy("doc_id")


SQL_WEIGHTED_SAMPLE = """
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
    ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
      AS h,
    CAST(floor(least(1.0, greatest(0.0, n_chars / 200.0))
               * 1152921504606846976.0) AS UBIGINT) AS t
  FROM documents
) WHERE h < t ORDER BY doc_id
"""


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 events by |median/MAD robust z| of value within their
    event_type — the heavy-tail-safe outlier scan (50% breakdown point
    vs the mean/stddev z's 0%)."""
    from .operators.profile import robust_outliers

    events = load_table(spark, sf_dir, "events")
    return robust_outliers(
        events, value_col="value", group_col="event_type",
        id_col="event_id", k=20,
    )


SQL_ROBUST_OUTLIERS = """
WITH canon AS (
  SELECT event_id, event_type, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
),
med AS (
  SELECT event_type, quantile_cont(v, 0.5) AS m
  FROM canon GROUP BY event_type
),
dev AS (
  SELECT event_id, canon.event_type AS event_type, v, m, abs(v - m) AS d
  FROM canon JOIN med
    ON canon.event_type IS NOT DISTINCT FROM med.event_type
),
mad AS (
  SELECT event_type, quantile_cont(d, 0.5) AS mad
  FROM dev GROUP BY event_type HAVING quantile_cont(d, 0.5) > 0
)
SELECT event_id, dev.event_type AS event_type,
       round(v, 6) AS value,
       round((v - m) / (1.4826 * mad), 4) AS robust_z
FROM dev JOIN mad ON dev.event_type IS NOT DISTINCT FROM mad.event_type
ORDER BY abs(round((v - m) / (1.4826 * mad), 4)) DESC, event_id ASC
LIMIT 20
"""


def q_feed_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feed hourly coverage report: expected vs present buckets,
    gap runs, longest outage — the whole-window companion to
    events_anomaly's hour-by-hour scoring."""
    from .operators.timeseries import feed_gaps

    events = load_table(spark, sf_dir, "events")
    return feed_gaps(events)


SQL_FEED_GAPS = """
WITH grid AS (
  SELECT DISTINCT event_type AS key,
         CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS h
  FROM events WHERE ts IS NOT NULL
),
steps AS (
  SELECT key, h, h - lag(h) OVER (PARTITION BY key ORDER BY h) AS step
  FROM grid
)
SELECT key,
  strftime(to_timestamp(min(h) * 3600), '%Y-%m-%d %H:%M:%S') AS first_hour,
  strftime(to_timestamp(max(h) * 3600), '%Y-%m-%d %H:%M:%S') AS last_hour,
  CAST(max(h) - min(h) + 1 AS BIGINT) AS n_hours_expected,
  CAST(COUNT(*) AS BIGINT) AS n_hours_present,
  CAST(max(h) - min(h) + 1 - COUNT(*) AS BIGINT) AS n_hours_missing,
  CAST(SUM(CASE WHEN step > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
  CAST(coalesce(MAX(CASE WHEN step > 1 THEN step - 1 END), 0) AS BIGINT)
    AS longest_gap_hours,
  round(CAST(COUNT(*) AS DOUBLE) / (max(h) - min(h) + 1), 4) AS coverage
FROM steps GROUP BY key ORDER BY key
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch ease + FK grade per doc — vowel-run syllable heuristic,
    pure codegen regex counts, one narrow projection."""
    from .operators.textstats import readability

    docs = load_table(spark, sf_dir, "documents")
    return readability(docs).orderBy("doc_id")


SQL_READABILITY = r"""
WITH c AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
                    x -> x <> '')) AS w,
    len(regexp_extract_all(lower(coalesce(text, '')), '[aeiouy]+', 0))
      + len(list_filter(string_split_regex(lower(coalesce(text, '')),
                                           '\s+'),
            x -> x <> '' AND NOT regexp_matches(x, '[aeiouy]'))) AS syl,
    len(regexp_extract_all(coalesce(text, ''), '[.!?]+', 0)) AS sraw
  FROM documents
)
SELECT doc_id,
  CAST(CASE WHEN w = 0 THEN 0 ELSE greatest(sraw, 1) END AS BIGINT)
    AS n_sentences,
  CAST(w AS BIGINT) AS n_words,
  CAST(syl AS BIGINT) AS n_syllables,
  CASE WHEN w > 0 THEN round(
    206.835 - 1.015 * (CAST(w AS DOUBLE) / greatest(sraw, 1))
            - 84.6 * (CAST(syl AS DOUBLE) / w), 4) END AS flesch_ease,
  CASE WHEN w > 0 THEN round(
    0.39 * (CAST(w AS DOUBLE) / greatest(sraw, 1))
    + 11.8 * (CAST(syl AS DOUBLE) / w) - 15.59, 4) END AS fk_grade
FROM c ORDER BY doc_id
"""


def q_scalable_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated p25/p50/p75/p90 of events.value WITHOUT a
    buffering percentile aggregate — iterative 4096-bucket range
    refinement (the 100 TB arm; max_collect forced low so the oracle
    checks the multi-round walk, not the collect shortcut)."""
    from .operators.profile import scalable_percentiles

    events = load_table(spark, sf_dir, "events")
    out = scalable_percentiles(
        events, "value", qs=(0.25, 0.5, 0.75, 0.9), max_collect=50
    )
    return out.select(
        "q", F.round(F.col("value"), 6).alias("value")
    ).orderBy("q")


def q_streaming_semantic_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic batch-mode run of the STREAMING semantic ingest
    gate (streaming/semgate.py, the foreachBatch operator): embeddings
    split by vec_id parity into two 'micro-batches', gated sequentially
    against a fresh IVF index — returns the ACCEPTED ids. Run in its
    EXACT configuration (exhaustive within-batch pairing + full probe,
    n_probes >= n_cells) so the DuckDB brute-force-cosine + recursive
    first-wins oracle is an exact twin; the blocked/pruned
    configuration is the production default and is covered by the
    stream==batch twin tests."""
    import shutil
    import tempfile

    from .streaming.semgate import semantic_gate_batch

    emb = load_table(spark, sf_dir, "embeddings")
    idx = tempfile.mkdtemp(prefix="semgate_q_")
    try:
        ids: list[int] = []
        for parity in (0, 1):
            kept = semantic_gate_batch(
                emb.filter(F.col("vec_id") % 2 == parity),
                idx,
                threshold=0.42,
                vec_col="embedding",
                id_col="vec_id",
                n_probes=64,
                n_cells=8,
                exhaustive_within=True,
            )
            ids.extend(r["vec_id"] for r in kept.select("vec_id").collect())
        return spark.createDataFrame(
            [(i,) for i in sorted(ids)], "vec_id bigint"
        ).orderBy("vec_id")
    finally:
        shutil.rmtree(idx, ignore_errors=True)


SQL_STREAMING_SEMANTIC_GATE = """
WITH RECURSIVE
v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
cosg AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e))), 4) AS c
  FROM v a JOIN v b ON a.vec_id < b.vec_id
),
pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM cosg WHERE c >= 0.42
),
ids1 AS MATERIALIZED (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
  FROM embeddings WHERE vec_id % 2 = 0
),
ids2 AS MATERIALIZED (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
  FROM embeddings WHERE vec_id % 2 = 1
),
nbrs AS MATERIALIZED (
  SELECT id_b AS vec_id, list(id_a) AS smaller FROM pairs GROUP BY id_b
),
g1(rn, kept) AS (
  SELECT CAST(0 AS BIGINT), CAST([] AS BIGINT[])
  UNION ALL
  SELECT g.rn + 1,
         CASE WHEN list_has_any(g.kept, coalesce(n.smaller, []))
              THEN g.kept ELSE list_append(g.kept, i.vec_id) END
  FROM g1 g
  JOIN ids1 i ON i.rn = g.rn + 1
  LEFT JOIN nbrs n ON n.vec_id = i.vec_id
),
kept1 AS MATERIALIZED (
  SELECT unnest(kept) AS vec_id FROM g1
  WHERE rn = (SELECT max(rn) FROM ids1)
),
g2(rn, kept) AS (
  SELECT CAST(0 AS BIGINT), CAST([] AS BIGINT[])
  UNION ALL
  SELECT g.rn + 1,
         CASE WHEN list_has_any(g.kept, coalesce(n.smaller, []))
              THEN g.kept ELSE list_append(g.kept, i.vec_id) END
  FROM g2 g
  JOIN ids2 i ON i.rn = g.rn + 1
  LEFT JOIN nbrs n ON n.vec_id = i.vec_id
),
kept2a AS (
  SELECT unnest(kept) AS vec_id FROM g2
  WHERE rn = (SELECT max(rn) FROM ids2)
),
kept2 AS (
  SELECT k.vec_id FROM kept2a k
  WHERE NOT EXISTS (
    SELECT 1 FROM pairs p JOIN kept1 s
      ON (p.id_a = s.vec_id AND p.id_b = k.vec_id)
      OR (p.id_b = s.vec_id AND p.id_a = k.vec_id))
)
SELECT CAST(vec_id AS BIGINT) AS vec_id FROM kept1
UNION ALL
SELECT CAST(vec_id AS BIGINT) AS vec_id FROM kept2
ORDER BY vec_id
"""


def q_script_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script composition (operators/textstats.script_stats)
    over a mixed-script wrapper (the corpus is Latin-only, so the
    query appends Cyrillic/Greek/Han/Arabic spans + digits — every
    fraction and the dominant-script argmax go live; the oracle
    replays the same char-class counts)."""
    from .operators.textstats import script_stats

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "concat(text, ' Привет αβγ 你好世界 مرحبا 12345')"
        ).alias("text"),
    )
    return script_stats(docs).orderBy("doc_id")


SQL_SCRIPT_STATS = """
WITH wrapped AS (
  SELECT doc_id, text || ' Привет αβγ 你好世界 مرحبا 12345' AS t
  FROM documents
),
cnts AS (
  SELECT doc_id, length(t) AS n_chars,
    length(t) - length(regexp_replace(t, '[؀-ۿ]', '', 'g')) AS c_ar,
    length(t) - length(regexp_replace(t, '[Ѐ-ӿ]', '', 'g')) AS c_cy,
    length(t) - length(regexp_replace(t, '[Ͱ-Ͽ]', '', 'g')) AS c_gr,
    length(t) - length(regexp_replace(t, '[一-鿿]', '', 'g')) AS c_ha,
    length(t) - length(regexp_replace(t, '[A-Za-zÀ-ɏ]', '', 'g')) AS c_la,
    length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS c_dg,
    length(t) - length(regexp_replace(t, '\\s', '', 'g')) AS c_ws
  FROM wrapped
),
calc AS (
  SELECT *, c_ar + c_cy + c_gr + c_ha + c_la AS letters FROM cnts
)
SELECT doc_id,
  CAST(n_chars AS BIGINT) AS n_chars,
  round(CASE WHEN letters > 0
             THEN CAST(c_ar AS DOUBLE) / letters ELSE 0.0 END, 4)
    AS arabic_frac,
  round(CASE WHEN letters > 0
             THEN CAST(c_cy AS DOUBLE) / letters ELSE 0.0 END, 4)
    AS cyrillic_frac,
  round(CASE WHEN letters > 0
             THEN CAST(c_gr AS DOUBLE) / letters ELSE 0.0 END, 4)
    AS greek_frac,
  round(CASE WHEN letters > 0
             THEN CAST(c_ha AS DOUBLE) / letters ELSE 0.0 END, 4)
    AS han_frac,
  round(CASE WHEN letters > 0
             THEN CAST(c_la AS DOUBLE) / letters ELSE 0.0 END, 4)
    AS latin_frac,
  round(CASE WHEN n_chars > 0
             THEN CAST(c_dg AS DOUBLE) / n_chars ELSE 0.0 END, 4)
    AS digit_frac,
  round(CASE WHEN n_chars > 0
             THEN CAST(c_ws AS DOUBLE) / n_chars ELSE 0.0 END, 4)
    AS whitespace_frac,
  CASE WHEN letters > 0 THEN list_max([
    struct_pack(n := c_ar, s := 'arabic'),
    struct_pack(n := c_cy, s := 'cyrillic'),
    struct_pack(n := c_gr, s := 'greek'),
    struct_pack(n := c_ha, s := 'han'),
    struct_pack(n := c_la, s := 'latin')
  ]).s END AS dominant_script
FROM calc ORDER BY doc_id
"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule bundle (operators/textstats.gopher_rules)
    over a CONSTRUCTED multi-line wrapper (the corpus is single-line,
    so the query appends bullet lines, a duplicated line pair, and an
    ellipsis terminator — every rule fires on real structure the
    oracle replays byte-for-byte)."""
    from .operators.textstats import gopher_rules

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "concat(text, '\n- first bullet\n* second bullet\n', "
            "substr(text, 1, 40), '\n', substr(text, 1, 40), "
            "'\nto be continued...')"
        ).alias("text"),
    )
    return gopher_rules(docs).orderBy("doc_id")


SQL_GOPHER_RULES = r"""
WITH wrapped AS (
  SELECT doc_id,
    text || chr(10) || '- first bullet' || chr(10) || '* second bullet'
         || chr(10) || substr(text, 1, 40) || chr(10)
         || substr(text, 1, 40) || chr(10) || 'to be continued...' AS t
  FROM documents
),
sig AS (
  SELECT doc_id,
    list_filter(string_split_regex(t, '\s+'), w -> w <> '') AS words,
    list_filter(list_transform(string_split(t, chr(10)), l -> trim(l)),
                l -> l <> '') AS lines,
    strlen(t) - strlen(replace(t, '#', '')) AS n_hash,
    (strlen(t) - strlen(replace(t, '...', ''))) / 3 AS n_ell
  FROM wrapped
),
calc AS (
  SELECT doc_id,
    len(words) AS n_words,
    CASE WHEN len(words) > 0 THEN
      CAST(list_aggregate(list_transform(words, w -> strlen(w)), 'sum')
           AS DOUBLE) / len(words) ELSE 0.0 END AS mwl,
    CASE WHEN len(words) > 0 THEN
      CAST(n_hash + n_ell AS DOUBLE) / len(words) ELSE 0.0 END AS sym,
    CASE WHEN len(lines) > 0 THEN
      CAST(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]')))
           AS DOUBLE) / len(lines) ELSE 0.0 END AS bullet,
    CASE WHEN len(lines) > 0 THEN
      CAST(len(list_filter(lines,
                           l -> regexp_matches(l, '(\.\.\.|…)$')))
           AS DOUBLE) / len(lines) ELSE 0.0 END AS ell,
    CASE WHEN len(words) > 0 THEN
      CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
           AS DOUBLE) / len(words) ELSE 0.0 END AS alpha,
    CASE WHEN len(lines) > 0 THEN
      CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
        / len(lines) ELSE 0.0 END AS dlf,
    CASE WHEN list_aggregate(list_transform(lines, l -> strlen(l)),
                             'sum') > 0 THEN
      CAST(list_aggregate(list_transform(lines, l -> strlen(l)), 'sum')
           - list_aggregate(list_transform(list_distinct(lines),
                                           l -> strlen(l)), 'sum')
           AS DOUBLE)
        / list_aggregate(list_transform(lines, l -> strlen(l)), 'sum')
      ELSE 0.0 END AS dlcf
  FROM sig
)
SELECT doc_id,
  CAST(n_words AS BIGINT) AS n_words,
  round(mwl, 4) AS mean_word_len,
  round(sym, 4) AS symbol_word_ratio,
  round(bullet, 4) AS bullet_line_frac,
  round(ell, 4) AS ellipsis_line_frac,
  round(alpha, 4) AS alpha_word_frac,
  round(dlf, 4) AS dup_line_frac,
  round(dlcf, 4) AS dup_line_char_frac,
  (n_words >= 50 AND n_words <= 100000
   AND round(mwl, 4) >= 3.0 AND round(mwl, 4) <= 10.0
   AND round(sym, 4) <= 0.1
   AND round(bullet, 4) <= 0.9
   AND round(ell, 4) <= 0.3
   AND round(alpha, 4) >= 0.8
   AND round(dlf, 4) <= 0.3
   AND round(dlcf, 4) <= 0.2) AS passes
FROM calc ORDER BY doc_id
"""


def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split at NEAR-DUP CLUSTER boundaries
    (operators/sampling.cluster_safe_split): exact brute-force cosine
    pairs at 0.42 over the embeddings -> connected components -> split
    keyed on each doc's cluster representative, so no near-dup pair
    straddles train/test. Pairs are built EXACTLY — every block pair
    scored by one Arrow matmul (``similarity.cosine_pairs_exact``;
    structurally all-pairs, no LSH recall caveat) — so the DuckDB
    reachability + md5-split oracle is a bit-for-bit twin. The prior
    JVM zip_with cross join re-evaluated a 64-element fold per pair:
    68 s at sf0.1 vs ~3 s blocked."""
    from .operators.sampling import cluster_safe_split
    from .operators.similarity import cosine_pairs_exact

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs_exact(emb, threshold=0.42).select("id_a", "id_b")
    return cluster_safe_split(emb, pairs, id_col="vec_id").select(
        "vec_id", "split"
    ).orderBy("vec_id")


SQL_CLUSTER_SAFE_SPLIT = """
WITH RECURSIVE
v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e))
                 * sqrt(list_dot_product(b.e, b.e))), 4) >= 0.42
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
),
comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
keyed AS (
  SELECT emb.vec_id,
         CAST(coalesce(comp.rep, emb.vec_id) AS VARCHAR) AS k
  FROM embeddings emb LEFT JOIN comp ON comp.id = emb.vec_id
)
SELECT vec_id,
  CASE WHEN b < 8000 THEN 'train'
       WHEN b < 9000 THEN 'val'
       ELSE 'test' END AS split
FROM (
  SELECT vec_id,
    ('0x' || substr(md5('42:' || k), 1, 15))::UBIGINT % 10000 AS b
  FROM keyed
) ORDER BY vec_id
"""


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword retrieval (operators/textstats.bm25_search):
    top-20 docs for a 3-term query — matched-token-only explode, tiny
    broadcast df(t)/corpus-stats joins, TakeOrdered top-k; per-term
    contributions round-7/decimal-sum so DuckDB reproduces every score
    bit-for-bit."""
    from .operators.textstats import bm25_search

    docs = load_table(spark, sf_dir, "documents")
    return bm25_search(docs, ["spark", "data", "window"], k=20)


SQL_BM25_SEARCH = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS t
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (
  SELECT (SELECT count(*) FROM documents) AS n,
         (SELECT sum(len(list_filter(string_split_regex(lower(text),
                                                        '\s+'),
                                     x -> x <> '')))
          FROM documents) AS tot
),
tf AS (
  SELECT doc_id, t, count(*) AS tf FROM toks
  WHERE t IN ('data', 'spark', 'window') GROUP BY doc_id, t
),
dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
sc AS (
  SELECT tf.doc_id,
    CAST(round(
      ln(1 + (c.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
        * (tf.tf * 2.2)
        / (tf.tf + 1.2 * (0.25 + 0.75 * d.dl
                          / (CAST(c.tot AS DOUBLE) / c.n))),
      7) AS DECIMAL(25,8)) AS contrib
  FROM tf JOIN dfreq USING (t) JOIN dl d ON d.doc_id = tf.doc_id, corpus c
)
SELECT doc_id, CAST(round(sum(contrib), 4) AS DOUBLE) AS score
FROM sc GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT 20
"""


def q_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP exact interpolated p25/p50/p75 of events.value via the
    grouped range-refinement engine (the size-gated big arm behind
    impute_nulls/clip_outliers/robust_outliers) — max_collect forced
    low so the oracle checks the multi-round per-group walk, never a
    buffering percentile."""
    from .operators.profile import scalable_group_percentiles

    _ensure_utc(spark)
    events = load_table(spark, sf_dir, "events")
    out = scalable_group_percentiles(
        events, "value", "event_type", qs=(0.25, 0.5, 0.75),
        max_collect=50, n_buckets=64,
    )
    return out.select(
        "event_type", "q", F.round(F.col("value"), 6).alias("value")
    ).orderBy("event_type", "q")


SQL_GROUP_PERCENTILES = """
WITH c AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
),
g AS (
  SELECT event_type,
         quantile_cont(v, 0.25) AS p25,
         quantile_cont(v, 0.5) AS p50,
         quantile_cont(v, 0.75) AS p75
  FROM c GROUP BY event_type
)
SELECT event_type, q, round(p, 6) AS value FROM (
  SELECT event_type, CAST(0.25 AS DOUBLE) AS q, p25 AS p FROM g
  UNION ALL SELECT event_type, 0.5, p50 FROM g
  UNION ALL SELECT event_type, 0.75, p75 FROM g
)
ORDER BY event_type, q
"""


SQL_SCALABLE_PERCENTILES = """
WITH c AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
)
SELECT CAST(0.25 AS DOUBLE) AS q, round(quantile_cont(v, 0.25), 6) AS value FROM c
UNION ALL
SELECT 0.5, round(quantile_cont(v, 0.5), 6) FROM c
UNION ALL
SELECT 0.75, round(quantile_cont(v, 0.75), 6) FROM c
UNION ALL
SELECT 0.9, round(quantile_cont(v, 0.9), 6) FROM c
ORDER BY q
"""


def q_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN: full-probe IVF top-10 restricted to even vec_ids —
    exact under any filter when every cell is probed (the oracle is
    brute-force cosine among the allowed ids)."""
    from .operators.similarity import ivf_build, ivf_search

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    assigned, centroids = ivf_build(emb, n_cells=8)
    out = ivf_search(
        assigned, centroids, list(q), k=10, n_probes=8,
        allowed=emb.filter(F.col("vec_id") % 2 == 0).select("vec_id"),
    )
    return out.select("vec_id", F.round("cosine", 4).alias("cosine"))


SQL_IVF_FILTERED_TOPK = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         list_sum(list_transform(list_zip(e.embedding, q.qe),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
  FROM embeddings e, q
  WHERE e.vec_id % 2 = 0
)
SELECT vec_id, round(c, 4) AS cosine
FROM scored ORDER BY c DESC, vec_id LIMIT 10
"""


def q_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping over a CONSTRUCTED markup wrapper (the corpus
    itself is plain text, so the query wraps each doc in tags +
    entities and strips them back — the transform, not a no-op, is
    what the oracle replays byte-for-byte)."""
    from .operators.normalize import strip_markup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "concat('<p class=\"d\">', text, '</p> &amp; <br/> &lt;end&gt;')"
        ).alias("text"),
    )
    return strip_markup(docs, out_col="clean").select(
        "doc_id", "clean"
    ).orderBy("doc_id")


SQL_STRIP_MARKUP = r"""
WITH wrapped AS (
  SELECT doc_id,
    '<p class="d">' || text || '</p> &amp; <br/> &lt;end&gt;' AS t
  FROM documents
)
SELECT doc_id,
  trim(regexp_replace(
    replace(replace(replace(replace(replace(replace(replace(replace(
      regexp_replace(replace(t, chr(65535), ''), '<[^>]*>', ' ', 'g'),
      '&#39;', chr(39)), '&#38;', chr(65535)), '&nbsp;', ' '),
      '&quot;', '"'), '&lt;', '<'), '&gt;', '>'),
      '&amp;', chr(65535)), chr(65535), '&'),
    '\s+', ' ', 'g')) AS clean
FROM wrapped ORDER BY doc_id
"""


def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction (normalize.extract_main_content): each
    doc wraps in a CONSTRUCTED page — title/script/nav boilerplate, the
    real text as the main paragraph (plus an entity), a variable-link-
    density div keyed off doc_id % 60 (so BOTH the keep and the drop
    branch of the density rule fire across the corpus), a related-links
    list, and a footer — and the extractor must recover exactly the
    prose blocks. The oracle replays block segmentation, the integer
    link-density rule, and the entity decode chain byte-for-byte."""
    from .operators.normalize import extract_main_content

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(
                '<html><head><title>Doc</title><script type="text/'
                'javascript">var nav=1;</script></head><body><nav>'
                '<a href="/">Home</a> | <a href="/about">About our '
                'site</a> | <a href="/contact">Contact page link</a>'
                "</nav><p>"
            ),
            F.col("text"),
            F.lit(' &amp; more</p><div><a href="/x">'),
            F.expr("substring(text, 1, cast(doc_id % 60 as int))"),
            F.lit(
                "</a> mixed tail prose for density checks</div><ul>"
                '<li><a href="/r1">First related article link</a></li>'
                '<li><a href="/r2">Second related article link</a>'
                '</li></ul><footer>&copy; 2026 <a href="/privacy">'
                'Privacy</a> <a href="/terms">Terms</a></footer>'
                "</body></html>"
            ),
        ).alias("text"),
    )
    return (
        extract_main_content(docs, with_stats=True)
        .select(
            "doc_id",
            F.col("text").alias("content"),
            "n_blocks_total",
            "n_blocks_kept",
        )
        .orderBy("doc_id")
    )


SQL_MAIN_CONTENT = r"""
WITH wrapped AS (
  SELECT doc_id,
    '<html><head><title>Doc</title><script type="text/javascript">var nav=1;</script></head><body><nav><a href="/">Home</a> | <a href="/about">About our site</a> | <a href="/contact">Contact page link</a></nav><p>'
    || text || ' &amp; more</p><div><a href="/x">'
    || substring(text, 1, CAST(doc_id % 60 AS INT))
    || '</a> mixed tail prose for density checks</div><ul><li><a href="/r1">First related article link</a></li><li><a href="/r2">Second related article link</a></li></ul><footer>&copy; 2026 <a href="/privacy">Privacy</a> <a href="/terms">Terms</a></footer></body></html>'
    AS raw
  FROM documents
),
blocks AS (
  SELECT doc_id, string_split(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(raw,
            '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g'),
          '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g'),
        '(?s)<!--.*?-->', ' ', 'g'),
      '(?i)</?(p|div|br|li|ul|ol|dl|dt|dd|h1|h2|h3|h4|h5|h6|table|thead|tbody|tr|td|th|blockquote|pre|section|article|aside|header|footer|nav|form|fieldset|figure|figcaption|main|hr|center|title)\b[^>]*>',
      chr(10), 'g'),
    chr(10)) AS bl
  FROM wrapped
),
st AS (
  SELECT doc_id, list_transform(bl, x -> struct_pack(
    t := trim(regexp_replace(
           regexp_replace(x, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')),
    lk := coalesce(list_sum(list_transform(
            regexp_extract_all(x, '(?is)<a\b[^>]*>(.*?)</a\s*>', 1),
            a -> length(trim(regexp_replace(
                   regexp_replace(a, '<[^>]*>', ' ', 'g'),
                   '\s+', ' ', 'g'))))), 0)
  )) AS st
  FROM blocks
),
sel AS (
  SELECT doc_id,
    array_to_string(list_transform(
      list_filter(st, s -> length(s.t) >= 25
                           AND s.lk * 1000 <= length(s.t) * 500),
      s -> s.t), chr(10)) AS joined,
    CAST(len(list_filter(st, s -> length(s.t) > 0)) AS BIGINT)
      AS n_blocks_total,
    CAST(len(list_filter(st, s -> length(s.t) >= 25
                AND s.lk * 1000 <= length(s.t) * 500)) AS BIGINT)
      AS n_blocks_kept
  FROM st
)
SELECT doc_id,
  replace(replace(replace(replace(replace(replace(replace(replace(
    replace(joined, chr(65535), ''),
    '&#39;', chr(39)), '&#38;', chr(65535)), '&nbsp;', ' '),
    '&quot;', '"'), '&lt;', '<'), '&gt;', '>'),
    '&amp;', chr(65535)), chr(65535), '&') AS content,
  n_blocks_total, n_blocks_kept
FROM sel ORDER BY doc_id
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup (operators/urltools):
    every doc pair (2k, 2k+1) carries the SAME page behind two messy
    spellings — scheme/host case, default port, trailing slash,
    tracking params, fragment, param order — plus an opaque non-URL
    arm (doc_id % 10 == 9) that must pass through untouched. The
    canonical form collapses each pair to the min-id survivor with
    n_dups=2; the oracle replays the full RFC-3986-style
    normalization chain byte-for-byte."""
    from .operators.urltools import url_canonicalize, url_dedup

    d2 = F.expr("doc_id div 2")
    urls = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 9,
            F.concat(F.lit("opaque-"), F.col("doc_id")),
        )
        .when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("HTTP://WWW.News-"),
                d2 % 7,
                F.lit(".COM:80/Article/"),
                d2,
                F.lit("/?utm_source=rss&b=2&a=1#frag"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://www.news-"),
                d2 % 7,
                F.lit(".com/Article/"),
                d2,
                F.lit("?a=1&b=2"),
            ),
        )
        .alias("url"),
    )
    canon = url_canonicalize(urls)
    return url_dedup(canon, pre_canonicalized=True).orderBy("doc_id")


SQL_URL_DEDUP = f"""
WITH u AS (
  SELECT doc_id,
    CASE
      WHEN doc_id % 10 = 9 THEN 'opaque-' || doc_id
      WHEN doc_id % 2 = 0 THEN
        'HTTP://WWW.News-' || ((doc_id // 2) % 7)
        || '.COM:80/Article/' || (doc_id // 2)
        || '/?utm_source=rss&b=2&a=1#frag'
      ELSE
        'http://www.news-' || ((doc_id // 2) % 7)
        || '.com/Article/' || (doc_id // 2) || '?a=1&b=2'
    END AS url
  FROM documents
),
{_sql_url_canon_ctes("u", "doc_id")},
grp AS (
  SELECT cu, min(doc_id) AS keep,
         CAST(count(*) AS BIGINT) AS n_dups
  FROM canon GROUP BY cu
)
SELECT c.doc_id, c.cu AS url, g.n_dups
FROM canon c JOIN grp g ON c.cu = g.cu AND c.doc_id = g.keep
ORDER BY c.doc_id
"""


def q_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic fingerprints (operators/multimodal.audio_fingerprints):
    document bytes stand in for audio payloads; the deterministic stub
    — 9 positional frames x 8 byte-value bands, energy-GRADIENT bits
    across frame transitions (the chromaprint construction on fake
    energies), 64 bits two's-complement — is a pure function of the
    bytes the DuckDB oracle replays bit-for-bit."""
    from .operators.multimodal import audio_fingerprints

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    ).select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    return audio_fingerprints(docs).orderBy("media_id")


_SQL_AUDIO_FP = """
-- NOTE: counts CHARACTERS (ord/substr) while Spark hashes the UTF-8
-- BYTES of encode(text,'utf-8') — identical on this ASCII-only corpus
-- (the SQL_IMAGE_PHASH assumption).
pos AS (
  SELECT doc_id, length(text) AS total, text,
         unnest(generate_series(1, length(text))) AS i
  FROM documents WHERE length(text) > 0
),
fb AS (
  SELECT doc_id, ((i - 1) * 9) // total AS f,
         ord(substr(text, i, 1)) % 8 AS b
  FROM pos
),
cnt AS (
  SELECT doc_id, f, b, count(*) AS c FROM fb GROUP BY doc_id, f, b
),
grid AS (
  SELECT d.doc_id, fr.f, bd.b
  FROM (SELECT DISTINCT doc_id FROM pos) d,
       (SELECT unnest(range(9)) AS f) fr,
       (SELECT unnest(range(8)) AS b) bd
),
filled AS (
  SELECT g.doc_id, g.f, g.b, coalesce(c.c, 0) AS c
  FROM grid g LEFT JOIN cnt c
    ON g.doc_id = c.doc_id AND g.f = c.f AND g.b = c.b
),
bits AS (
  SELECT cur.doc_id, (cur.f - 1) * 8 + cur.b AS k
  FROM filled cur JOIN filled prev
    ON cur.doc_id = prev.doc_id AND cur.b = prev.b
       AND prev.f = cur.f - 1
  WHERE cur.f >= 1 AND cur.c > prev.c
),
afp AS (
  SELECT ids.doc_id,
    CAST(coalesce(sum(CASE WHEN k = 63 THEN -9223372036854775807 - 1
         ELSE (CAST(1 AS BIGINT) << k) END), 0) AS BIGINT) AS afp
  FROM (SELECT DISTINCT doc_id FROM pos) ids
  LEFT JOIN bits ON ids.doc_id = bits.doc_id
  GROUP BY ids.doc_id
)"""

SQL_AUDIO_FP = f"""
WITH {_SQL_AUDIO_FP}
SELECT doc_id AS media_id, afp FROM afp ORDER BY media_id
"""


def q_audio_fp_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio content near-dup pairs (operators/multimodal.
    audio_near_duplicates): Manku pigeonhole banding over the acoustic
    fingerprints — exhaustive for max_hamming < bands, so the
    brute-force Hamming oracle is an exact twin (the
    ``image_phash_dups`` precedent, on the audio modality)."""
    from .operators.multimodal import audio_near_duplicates

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    ).select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    return _localized(
        audio_near_duplicates(
            docs, max_hamming=3, bands=4, max_bucket_size=None
        )
    ).orderBy("id_a", "id_b")


SQL_AUDIO_FP_DUPS = f"""
WITH {_SQL_AUDIO_FP}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
FROM afp a JOIN afp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.afp, b.afp)) <= 3
ORDER BY id_a, id_b
"""


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report (operators/packing.
    packing_efficiency): for candidate seq_lens 128/512/2048, the
    sequences, fill rate (padding waste), and boundary-split doc
    fraction the packed corpus would have — ONE placement prefix sum
    + integer aggregates per candidate; the oracle replays the window
    cumsum and every integer-div boundary test."""
    from .operators.packing import packing_efficiency

    docs = load_table(spark, sf_dir, "documents")
    return packing_efficiency(docs, seq_lens=[128, 512, 2048])


SQL_PACKING_EFFICIENCY = rf"""
WITH counted AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS BIGINT) AS n
  FROM documents
),
c AS (
  SELECT doc_id, n,
         CAST(coalesce(SUM(n + 1) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start
  FROM counted
),
tot AS (
  SELECT CAST(SUM(n + 1) AS BIGINT) AS stream,
         CAST(count(*) FILTER (WHERE n > 0) AS BIGINT) AS nonempty
  FROM counted
),
per AS (
  SELECT l.seq_len,
         CAST(count(*) FILTER (WHERE n > 0 AND
              start // l.seq_len <> (start + n - 1) // l.seq_len)
           AS BIGINT) AS n_split_docs
  FROM c CROSS JOIN (VALUES (128), (512), (2048)) l(seq_len)
  GROUP BY l.seq_len
)
SELECT CAST(p.seq_len AS BIGINT) AS seq_len,
  CAST((t.stream + p.seq_len - 1) // p.seq_len AS BIGINT)
    AS n_sequences,
  {_ratio6_wide_sql(
      "t.stream",
      "(((t.stream + p.seq_len - 1) // p.seq_len) * p.seq_len)",
  )} AS fill_rate,
  p.n_split_docs,
  CASE WHEN t.nonempty > 0
       THEN {_ratio6_wide_sql("p.n_split_docs", "t.nonempty")}
       ELSE 0.0 END AS split_frac
FROM per p CROSS JOIN tot t
ORDER BY seq_len
"""


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus composition (operators/urltools.
    domain_stats) over the same constructed URL corpus as
    ``url_dedup``: doc counts vs DISTINCT canonical URLs per host
    (the gap is the per-domain URL-dup signal), exact-decimal char
    totals, and doc share — the report behind top-domain caps and
    per-domain mixture weights."""
    from .operators.urltools import domain_stats

    d2 = F.expr("doc_id div 2")
    urls = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.when(
            F.col("doc_id") % 10 == 9,
            F.concat(F.lit("opaque-"), F.col("doc_id")),
        )
        .when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("HTTP://WWW.News-"),
                d2 % 7,
                F.lit(".COM:80/Article/"),
                d2,
                F.lit("/?utm_source=rss&b=2&a=1#frag"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://www.news-"),
                d2 % 7,
                F.lit(".com/Article/"),
                d2,
                F.lit("?a=1&b=2"),
            ),
        )
        .alias("url"),
    )
    return domain_stats(urls, text_col="text", strip_www=False)


SQL_DOMAIN_STATS = f"""
WITH u AS (
  SELECT doc_id, text,
    CASE
      WHEN doc_id % 10 = 9 THEN 'opaque-' || doc_id
      WHEN doc_id % 2 = 0 THEN
        'HTTP://WWW.News-' || ((doc_id // 2) % 7)
        || '.COM:80/Article/' || (doc_id // 2)
        || '/?utm_source=rss&b=2&a=1#frag'
      ELSE
        'http://www.news-' || ((doc_id // 2) % 7)
        || '.com/Article/' || (doc_id // 2) || '?a=1&b=2'
    END AS url
  FROM documents
),
{_sql_url_canon_ctes("u", "doc_id, text")},
grouped AS (
  SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT cu) AS BIGINT) AS n_urls,
         CAST(SUM(length(text)) AS BIGINT) AS n_chars_total
  FROM canon GROUP BY host
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM canon)
SELECT g.host, g.n_docs, g.n_urls, g.n_chars_total,
       {_ratio6_wide_sql("g.n_chars_total", "g.n_docs")} AS avg_chars,
       {_ratio6_wide_sql("g.n_docs", "t.total")} AS doc_share
FROM grouped g CROSS JOIN tot t
ORDER BY g.n_docs DESC, g.host
"""


def q_group_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget: within each source, the largest
    hash-order prefix of docs totalling <= 10k whitespace tokens —
    set-wise bucketed prefix sums, window only on boundary buckets."""
    from .operators.sampling import group_token_budget_sample

    docs = load_table(spark, sf_dir, "documents")
    return group_token_budget_sample(docs, "source", 10_000)


SQL_GROUP_TOKEN_BUDGET = r"""
WITH t AS (
  SELECT doc_id, source,
    CAST(len(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                         x -> x <> '')) AS BIGINT) AS n_tokens,
    ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
      ::UBIGINT AS h
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id) AS cum
  FROM t
)
SELECT doc_id, source, n_tokens FROM c WHERE cum <= 10000 ORDER BY doc_id
"""


def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE totals over (orderstatus, orderpriority) — all four
    grouping combinations in one pass (Expand + one shuffle), the
    multi-dim rollup surface next to ROLLUP/PIVOT."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double"),
                2,
            ).alias("sum_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


SQL_CUBE_ORDERS = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS sum_price
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus, o_orderpriority
"""


def q_lm_score_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM perplexity per doc — the order-aware rung above the
    unigram gate; self-fit add-one model, decimal-exact per-doc sums."""
    from .operators.textstats import lm_score_bigram

    docs = load_table(spark, sf_dir, "documents")
    return lm_score_bigram(docs)


SQL_LM_SCORE_BIGRAM = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
                x -> x <> '') AS ts
  FROM documents
),
bi AS (
  SELECT doc_id, unnest(CASE WHEN len(ts) < 2 THEN []
    ELSE list_transform(range(2, len(ts) + 1),
         i -> struct_pack(p := ts[i-1], t := ts[i])) END) AS g
  FROM toks
),
doc_bi AS (
  SELECT doc_id, g.p AS p, g.t AS t, COUNT(*) AS tf
  FROM bi GROUP BY doc_id, g.p, g.t
),
bv AS (SELECT p, t, SUM(tf) AS c FROM doc_bi GROUP BY p, t),
pt AS (SELECT p, SUM(c) AS cp FROM bv GROUP BY p),
v AS (SELECT COUNT(DISTINCT t) AS vv FROM bv),
lp AS (
  SELECT bv.p, bv.t,
    CAST(round(ln(CAST(bv.c + 1 AS DOUBLE) / (pt.cp + v.vv)), 6)
         AS DECIMAL(18,6)) AS lp
  FROM bv JOIN pt USING (p), v
),
agg AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
         SUM(CAST(tf AS DECIMAL(18,0)) * lp.lp) AS s
  FROM doc_bi JOIN lp ON doc_bi.p = lp.p AND doc_bi.t = lp.t
  GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
  avg6 / 1000000.0 AS avg_logprob,
  round(exp(-(avg6 / 1000000.0)), 4) AS perplexity
FROM (
  SELECT doc_id, n_bigrams,
    CASE WHEN s < 0
         THEN -((2 * CAST(-s * 1000000 AS BIGINT) + n_bigrams)
                // (2 * n_bigrams))
         ELSE ((2 * CAST(s * 1000000 AS BIGINT) + n_bigrams)
               // (2 * n_bigrams)) END AS avg6
  FROM agg
) ORDER BY doc_id
"""


def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup overlap triage between the odd-id and even-id halves
    of the corpus, on 12-char title prefixes (the whole-doc texts are
    all-unique by construction, so titles give a non-trivial
    intersection): distinct counts, exact intersection, Jaccard."""
    from .operators.dedup import corpus_overlap

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr("substring(text, 1, 12)").alias("title")
    )
    return corpus_overlap(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        text_col="title",
    )


SQL_CORPUS_OVERLAP = """
WITH a AS (
  SELECT DISTINCT md5(coalesce(substr(text, 1, 12), '')) AS fp
  FROM documents WHERE doc_id % 2 = 1
),
b AS (
  SELECT DISTINCT md5(coalesce(substr(text, 1, 12), '')) AS fp
  FROM documents WHERE doc_id % 2 = 0
),
c AS (SELECT COUNT(*) AS n_common FROM a JOIN b USING (fp))
SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
       CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
       CAST(n_common AS BIGINT) AS n_common,
       round(CAST(n_common AS DOUBLE) /
             ((SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b)
              - n_common), 6) AS jaccard
FROM c
"""


def q_ivf_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN join: top-5 corpus neighbors for every vec_id < 40
    query through the IVF structure at FULL probe (n_probes = n_cells
    == exact brute-force kNN per query — the oracle is the per-query
    window over all pairs)."""
    from .operators.similarity import ivf_build, ivf_knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(emb, n_cells=8)
    return ivf_knn_join(
        emb.filter(F.col("vec_id") < 40),
        assigned,
        centroids,
        k=5,
        n_probes=8,
        # n_assign=1 build: cells partition the corpus, no replica dedup
        unique_candidates=True,
    )


SQL_IVF_KNN_JOIN = """
WITH pairs AS (
  SELECT q.vec_id AS query_id, e.vec_id,
         round(
           list_sum(list_transform(list_zip(q.embedding, e.embedding),
                    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(q.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS c
  FROM embeddings q JOIN embeddings e ON q.vec_id < 40
),
r AS (
  SELECT query_id, vec_id, c,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY c DESC, vec_id ASC) AS rn
  FROM pairs
)
SELECT query_id, vec_id, c AS cosine, CAST(rn AS INTEGER) AS rank
FROM r WHERE rn <= 5 ORDER BY query_id, rank
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-V vocabulary coverage curve (operators/textstats.py
    vocab_coverage): covered-token fraction and OOV rate at vocab
    sizes 100 / 1000 / 10000 over the lowercased whitespace types —
    the tokenizer-budget planning signal. Counts collapse map-side;
    the cumulative window runs only over the bounded top-max(V)
    frame."""
    from .operators.textstats import vocab_coverage

    docs = load_table(spark, sf_dir, "documents")
    return vocab_coverage(docs, cutoffs=(100, 1_000, 10_000))


SQL_VOCAB_COVERAGE = r"""
WITH tok AS (
  SELECT unnest(list_filter(
           string_split_regex(lower(coalesce(text, '')), '\s+'),
           x -> x <> '')) AS term
  FROM documents
),
counts AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS ty
  FROM counts
),
ranked AS (
  SELECT c,
         row_number() OVER (ORDER BY c DESC, term ASC) AS r,
         SUM(c) OVER (ORDER BY c DESC, term ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM counts
),
cuts(vocab_size) AS (VALUES (100), (1000), (10000))
SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
       CAST(max(r) AS BIGINT) AS n_types,
       CAST(max(cum) AS BIGINT) AS covered_tokens,
       t AS total_tokens,
       ty AS total_types,
       round(max(cum) * 1.0 / t, 6) AS coverage,
       round((t - max(cum)) * 1.0 / t, 6) AS oov_rate
FROM cuts JOIN ranked ON r <= vocab_size CROSS JOIN tot
GROUP BY vocab_size, t, ty
ORDER BY vocab_size
"""


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sharded training-order shuffle
    (operators/sampling.shuffle_shards): (shard, pos) from the
    portable md5-prefix hash of (seed, doc_id) at 8 shards — the
    reproducible global permutation before pretraining. Pure function
    of (seed, id): the oracle reproduces every position bit-for-bit."""
    from .operators.sampling import shuffle_shards

    docs = load_table(spark, sf_dir, "documents")
    return shuffle_shards(docs, n_shards=8).select(
        "doc_id", "shard", "pos"
    ).orderBy("shard", "pos")


SQL_SHUFFLE_SHARDS = r"""
WITH h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)),
                              1, 15)) AS UBIGINT) AS hh
  FROM documents
)
SELECT doc_id,
       CAST(hh % 8 AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY hh % 8
                               ORDER BY hh, doc_id) - 1 AS BIGINT) AS pos
FROM h ORDER BY shard, pos
"""


def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus term-distribution PSI (operators/textstats.py
    vocab_drift, composing datadiff.psi_drift_categorical on exploded
    token frames): sources src0-src4 vs the rest, top-50 source types
    + __other__ fold, eps-floored fractions. Total drift =
    SUM(psi_contrib)."""
    from .operators.textstats import vocab_drift

    docs = load_table(spark, sf_dir, "documents")
    a_side = docs.filter(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    )
    b_side = docs.filter(
        ~F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    )
    return vocab_drift(a_side, b_side, top_k=50).orderBy("term")


SQL_VOCAB_DRIFT = r"""
WITH a_tok AS (
  SELECT unnest(list_filter(
           string_split_regex(lower(coalesce(text, '')), '\s+'),
           x -> x <> '')) AS term
  FROM documents
  WHERE source IN ('src0','src1','src2','src3','src4')
),
b_tok AS (
  SELECT unnest(list_filter(
           string_split_regex(lower(coalesce(text, '')), '\s+'),
           x -> x <> '')) AS term
  FROM documents
  WHERE source NOT IN ('src0','src1','src2','src3','src4')
),
top AS (
  SELECT term FROM a_tok GROUP BY term
  ORDER BY count(*) DESC, term ASC LIMIT 50
),
ac AS (
  SELECT CASE WHEN t.term IS NOT NULL THEN a_tok.term
              ELSE '__other__' END AS term, count(*) AS n
  FROM a_tok LEFT JOIN top t ON a_tok.term = t.term GROUP BY 1
),
bc AS (
  SELECT CASE WHEN t.term IS NOT NULL THEN b_tok.term
              ELSE '__other__' END AS term, count(*) AS n
  FROM b_tok LEFT JOIN top t ON b_tok.term = t.term GROUP BY 1
),
j AS (
  SELECT coalesce(ac.term, bc.term) AS term,
         coalesce(ac.n, 0) AS sn, coalesce(bc.n, 0) AS tn
  FROM ac FULL OUTER JOIN bc ON ac.term = bc.term
),
tot AS (SELECT SUM(sn) AS st, SUM(tn) AS tt FROM j)
SELECT term,
       CAST(sn AS BIGINT) AS n_source,
       CAST(tn AS BIGINT) AS n_target,
       round(greatest(sn * 1.0 / st, 1e-6)
             - greatest(tn * 1.0 / tt, 1e-6), 6) AS frac_diff,
       round((greatest(sn * 1.0 / st, 1e-6)
              - greatest(tn * 1.0 / tt, 1e-6))
             * ln(greatest(sn * 1.0 / st, 1e-6)
                  / greatest(tn * 1.0 / tt, 1e-6)), 6) AS psi_contrib
FROM j CROSS JOIN tot
ORDER BY term
"""


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive Bayes fit + predict ON the engine
    (operators/classifier.nb_fit / nb_predict): train on even doc_ids
    labeled by source-name length (src0-9 vs src10-19), classify the
    odd docs. Add-one multinomial model with per-term DECIMAL(18,6)
    log-probs (order-independent sums), unseen terms at the class
    floor via the algebraic prior + n*floor + sum(matched - floor)
    identity — the oracle replays the entire fit + predict chain."""
    from .operators.classifier import nb_fit, nb_predict

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.when(F.length("source") == 4, F.lit("short"))
        .otherwise(F.lit("long"))
        .alias("label"),
        "text",
    )
    test = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    model, stats = nb_fit(train, label_col="label")
    return nb_predict(test, model, stats).orderBy("doc_id")


SQL_NB_CLASSIFY = r"""
WITH train AS (
  SELECT CASE WHEN length(source) = 4 THEN 'short' ELSE 'long' END
           AS label, text
  FROM documents WHERE doc_id % 2 = 0
),
test AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
ttok AS (
  SELECT label,
         unnest(list_filter(
           string_split_regex(lower(coalesce(text, '')), '\s+'),
           x -> x <> '')) AS term
  FROM train
),
ct AS (SELECT label, term, count(*) AS n FROM ttok GROUP BY 1, 2),
tot AS (SELECT label, SUM(n) AS N FROM ct GROUP BY 1),
voc AS (SELECT count(DISTINCT term) AS V FROM ct),
pri AS (SELECT label, count(*) AS d FROM train GROUP BY 1),
dd AS (SELECT count(*) AS D FROM train),
cs AS (
  SELECT p.label,
         CAST(round(ln(p.d * 1.0 / dd.D), 6) AS DECIMAL(18,6))
           AS log_prior,
         CAST(round(ln(1.0 / (coalesce(t.N, 0) + voc.V)), 6)
              AS DECIMAL(18,6)) AS log_floor
  FROM pri p CROSS JOIN dd
  LEFT JOIN tot t ON p.label = t.label CROSS JOIN voc
),
model AS (
  SELECT ct.label, ct.term,
         CAST(round(ln((ct.n + 1) * 1.0 / (tot.N + voc.V)), 6)
              AS DECIMAL(18,6)) AS log_prob
  FROM ct JOIN tot ON ct.label = tot.label CROSS JOIN voc
),
stok AS (
  SELECT doc_id,
         unnest(list_filter(
           string_split_regex(lower(coalesce(text, '')), '\s+'),
           x -> x <> '')) AS term
  FROM test
),
npd AS (
  SELECT t.doc_id, coalesce(c.nt, 0) AS nt
  FROM test t LEFT JOIN (
    SELECT doc_id, count(*) AS nt FROM stok GROUP BY 1
  ) c ON t.doc_id = c.doc_id
),
matched AS (
  SELECT s.doc_id, m.label, SUM(m.log_prob) AS ms, count(*) AS mc
  FROM stok s JOIN model m ON s.term = m.term GROUP BY 1, 2
),
scored AS (
  SELECT n.doc_id, c.label,
         CAST(c.log_prior AS DECIMAL(28,6))
         + CAST(n.nt * c.log_floor AS DECIMAL(28,6))
         + coalesce(CAST(ma.ms AS DECIMAL(28,6))
                    - CAST(ma.mc * c.log_floor AS DECIMAL(28,6)),
                    CAST(0 AS DECIMAL(28,6))) AS post
  FROM npd n CROSS JOIN cs c
  LEFT JOIN matched ma
    ON ma.doc_id = n.doc_id AND ma.label = c.label
)
SELECT doc_id, label, CAST(post AS DOUBLE) AS log_posterior
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY post DESC, label ASC) AS rn
  FROM scored
)
WHERE rn = 1 ORDER BY doc_id
"""


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding QA profile
    (operators/chunking.embedding_dim_stats): n / mean / population
    std / min / max per dim from decimal-exact order-independent sums
    — dead-dim and scale-drift triage before an ANN build."""
    from .operators.chunking import embedding_dim_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dim_stats(emb)


SQL_EMBEDDING_DIM_STATS = r"""
WITH e AS (
  SELECT unnest(range(len(embedding))) AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
),
agg AS (
  SELECT dim,
         CAST(count(v) AS BIGINT) AS n,
         SUM(CAST(CAST(v AS DECIMAL(18,6)) AS DECIMAL(38,6))) AS s,
         SUM(CAST(CAST(v AS DECIMAL(18,6)) AS DECIMAL(18,6))
             * CAST(v AS DECIMAL(18,6))) AS ss,
         MIN(v) AS min_val, MAX(v) AS max_val
  FROM e GROUP BY dim
)
SELECT CAST(dim AS INT) AS dim, n,
       round(CAST(s AS DOUBLE) / n, 6) AS mean,
       round(sqrt(greatest(
         CAST(ss AS DOUBLE) / n
         - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 0.0)), 6)
         AS std,
       min_val, max_val
FROM agg ORDER BY dim
"""


def q_tier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tier dedup evaluation (operators/dedup.pair_tier_eval):
    precision/recall/F1 of the SimHash tier (Hamming <= 3) against the
    exact n-gram-Jaccard tier (>= 0.6) on the first 1000 docs — the
    threshold/band tuning report. Both pair constructions are the
    individually-oracled tiers' own, so the oracle is pure set
    algebra between two SQL twins."""
    from .operators.dedup import (
        ngram_jaccard_near_duplicates,
        pair_tier_eval,
        simhash_near_duplicates,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 1000
    )
    # the two tiers' eager candidate phases are independent job chains
    # — overlap them (guide §2.6: submit independent jobs from a small
    # thread pool so one tier's tail back-fills the other's stages)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_truth = pool.submit(
            ngram_jaccard_near_duplicates, docs, threshold=0.6
        )
        f_cand = pool.submit(
            simhash_near_duplicates, docs, max_hamming=3, portable=True
        )
        truth, cand = f_truth.result(), f_cand.result()
    return pair_tier_eval(truth, cand)


def _tier_eval_oracle_sql() -> str:
    """Compose the two tiers' existing SQL twins, filtered to
    doc_id < 1000 (bounding the brute-force joins) with the simhash
    fragment's CTE names prefixed to avoid colliding with the shingle
    fragment's ``toks``."""
    shingles = _SQL_SHINGLES.replace(
        "FROM documents", "FROM documents WHERE doc_id < 1000"
    )
    sim = _SQL_SIMHASH_FP.replace(
        "FROM documents", "FROM documents WHERE doc_id < 1000"
    )
    import re

    for name in ("toks", "h", "sums", "fp"):
        # word-boundary rename: plain str.replace would also rewrite
        # any future identifier that merely STARTS with one of these
        # names (e.g. `FROM h` matching `FROM hll`), silently
        # corrupting the composed oracle
        sim = re.sub(rf"\b{name}\b(?= AS \()", f"sx_{name}", sim)
        sim = re.sub(rf"(?<=FROM ){name}\b", f"sx_{name}", sim)
    return f"""
WITH {shingles},
truth AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6
),
{sim},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sx_fp a JOIN sx_fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
counts AS (
  SELECT (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM cand) AS n_candidates,
         (SELECT count(*) FROM truth t JOIN cand c
            ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_common
),
pr AS (
  SELECT CAST(n_truth AS BIGINT) AS n_truth,
         CAST(n_candidates AS BIGINT) AS n_candidates,
         CAST(n_common AS BIGINT) AS n_common,
         CASE WHEN n_candidates > 0
              THEN round(n_common * 1.0 / n_candidates, 6)
              ELSE 0.0 END AS precision,
         CASE WHEN n_truth > 0
              THEN round(n_common * 1.0 / n_truth, 6)
              ELSE 0.0 END AS recall
  FROM counts
)
SELECT *, CASE WHEN precision + recall > 0
               THEN round(2 * precision * recall
                          / (precision + recall), 6)
               ELSE 0.0 END AS f1
FROM pr
"""


SQL_TIER_EVAL = _tier_eval_oracle_sql()


def q_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row-group parquet layout report
    (operators/partitioning.rowgroup_stats): footer-only distributed
    read over every test table's files — split granularity vs
    maxPartitionBytes, stats presence for pruning, tiny-group
    detection. Rows-only check: footer internals are unreachable
    through a SQL view (the file_bytes precedent); the unit test
    cross-checks every value against DuckDB parquet_metadata()."""
    import os

    from .operators.partitioning import rowgroup_stats

    paths = [
        os.path.join(sf_dir, f"{t}.parquet")
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]
    ]
    return rowgroup_stats(spark, paths)


def q_clean_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene gate (operators/chunking.clean_embeddings):
    deterministic corruption injected over the clean synthetic
    embeddings (NULL at id%97=0, truncation at id%89=0, NaN at
    id%83=0), then the four-way filter + L2 normalize. The oracle
    replays the corruption AND the cleaning, unit components rounded
    6 — bit-for-bit. The REGISTERED query projects ``unit`` through a
    fixed-point DECIMAL(18,6) string (VERDICT r12 #1: the driver's
    canonicalizer cannot hash raw array columns); the operator itself
    still returns the real array<double> — see
    tests/test_chunking.py for the array-form checks."""
    from .operators.chunking import clean_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    corrupted = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 97 == 0, F.lit(None))
        .when(
            F.col("vec_id") % 89 == 0,
            F.slice(F.col("embedding"), 1, 10),
        )
        .when(
            F.col("vec_id") % 83 == 0,
            F.transform(
                F.col("embedding"),
                lambda x: F.expr("CAST('NaN' AS FLOAT)"),
            ),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    cleaned = clean_embeddings(corrupted)
    # one array-level decimal cast, then a string cast per element:
    # value-identical to casting each element through decimal inside
    # the lambda, but ~1 s cheaper in Janino first-compile — the r13
    # solo-anchor regression was compile time, not row work (see
    # BENCH_NOTES #38)
    return cleaned.select(
        "vec_id",
        "dim",
        "norm",
        F.concat_ws(
            ",",
            F.expr(
                "transform(cast(unit as array<decimal(18,6)>), "
                "x -> cast(x as string))"
            ),
        ).alias("unit"),
    ).orderBy("vec_id")


SQL_CLEAN_EMBEDDINGS = r"""
WITH corrupted AS (
  SELECT vec_id,
         CASE WHEN vec_id % 97 = 0 THEN NULL
              WHEN vec_id % 89 = 0 THEN embedding[1:10]
              WHEN vec_id % 83 = 0
                THEN list_transform(embedding,
                                    x -> CAST('NaN' AS FLOAT))
              ELSE embedding END AS embedding
  FROM embeddings
),
dims AS (
  SELECT len(embedding) AS d, count(*) AS n FROM corrupted
  WHERE embedding IS NOT NULL GROUP BY 1
  ORDER BY n DESC, d ASC LIMIT 1
),
checked AS (
  SELECT vec_id, embedding,
         list_aggregate(
           list_transform(embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
           'sum') AS norm_sq
  FROM corrupted, dims
  WHERE embedding IS NOT NULL
    AND len(embedding) = dims.d
    AND NOT EXISTS (
      SELECT 1 FROM unnest(embedding) AS u(x)
      WHERE isnan(CAST(x AS DOUBLE))
         OR abs(CAST(x AS DOUBLE)) = CAST('Infinity' AS DOUBLE)
    )
    AND list_aggregate(
          list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
          'sum') <> 0.0
)
SELECT vec_id,
       CAST((SELECT d FROM dims) AS INT) AS dim,
       round(sqrt(norm_sq), 6) AS norm,
       array_to_string(
         list_transform(
           embedding,
           x -> CAST(CAST(round(CAST(x AS DOUBLE) / sqrt(norm_sq), 6)
                          AS DECIMAL(18,6)) AS VARCHAR)),
         ',') AS unit
FROM checked ORDER BY vec_id
"""


def q_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid tagging (similarity.nearest_centroid_assign):
    centroids fit on even vec_ids via label_centroids, odd vec_ids
    assigned by cosine argmax — the weak-supervision propagation step.
    Decimal-exact sums; the oracle replays fit + assignment."""
    from .operators.similarity import (
        label_centroids,
        nearest_centroid_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = label_centroids(emb.filter(F.col("vec_id") % 2 == 0))
    return nearest_centroid_assign(
        emb.filter(F.col("vec_id") % 2 == 1), cents
    ).orderBy("vec_id")


SQL_CENTROID_ASSIGN = """
WITH cents AS (
  SELECT label, i AS dim,
    CAST(round(
      CAST(SUM(CAST(round(CAST(embedding[i+1] AS DOUBLE), 7)
                    AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*), 6)
      AS DOUBLE) AS centroid
  FROM embeddings, unnest(range(len(embedding))) AS t(i)
  WHERE vec_id % 2 = 0
  GROUP BY label, i
),
ev AS (
  SELECT vec_id, i AS dim,
         CAST(round(CAST(embedding[i+1] AS DOUBLE), 7)
              AS DECIMAL(20,8)) AS v
  FROM embeddings, unnest(range(len(embedding))) AS t(i)
  WHERE vec_id % 2 = 1
),
scored AS (
  SELECT ev.vec_id, c.label,
         round(
           CAST(SUM(ev.v * CAST(c.centroid AS DECIMAL(18,6)))
                AS DOUBLE)
           / sqrt(CAST(SUM(ev.v * ev.v) AS DOUBLE)
                  * CAST(SUM(CAST(c.centroid AS DECIMAL(18,6))
                             * CAST(c.centroid AS DECIMAL(18,6)))
                         AS DOUBLE)),
           6) AS cosine
  FROM ev JOIN cents c ON ev.dim = c.dim
  GROUP BY ev.vec_id, c.label
)
SELECT vec_id, label, cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY cosine DESC, label ASC) AS rn
  FROM scored
)
WHERE rn = 1 ORDER BY vec_id
"""


def _warc_synth_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WARC round-trip frame shared by warc_ingest /
    warc_hosts: every documents row is serialized into a REAL
    gzip-per-record WARC stream (``sources/warc.build_warc`` +
    ``warc_response_record``) and parsed back by the REAL reader row
    builder (``rows_from_stream``) inside one mapInPandas pass — the
    oracle replays the synthesis arithmetic in SQL, so a hash match
    certifies the whole serialize -> gzip -> parse -> HTTP-split
    pipeline, not a stub. URL/date are pure functions of (doc_id,
    lang); the body wraps text in a fixed HTML shell."""
    from .sources.warc import (
        WARC_ROW_SCHEMA,
        build_warc,
        rows_from_stream,
        warc_response_record,
    )

    # note (r15 optimization round): spread_small_scan here measured
    # a wash warm (1.58 vs 1.49 s) — at 5k docs the per-batch Python
    # gzip work is too small to amortize the extra exchange + Arrow
    # task fan; left as the single-pass shape
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select("doc_id", "text", "lang")
    )
    cols = [c.split()[0] for c in WARC_ROW_SCHEMA.split(", ")]

    def round_trip(batches):
        import io as _io

        import pandas as pd

        for pdf in batches:
            recs = []
            for doc_id, text, lang in zip(
                pdf["doc_id"], pdf["text"], pdf["lang"]
            ):
                i = int(doc_id)
                s = i % 86400
                date = "2024-01-01T%02d:%02d:%02dZ" % (
                    s // 3600,
                    (s // 60) % 60,
                    s % 60,
                )
                url = "https://crawl-%d.example/%s/doc/%d" % (
                    i % 5,
                    lang,
                    i,
                )
                body = ("<html><body>%s</body></html>" % text).encode(
                    "utf-8"
                )
                recs.append(warc_response_record(url, date, body))
            blob = build_warc(recs, gzip_per_record=True)
            rows = list(
                rows_from_stream(
                    _io.BytesIO(blob), "synth.warc.gz", ("response",)
                )
            )
            yield pd.DataFrame(rows, columns=cols)

    return docs.mapInPandas(round_trip, schema=WARC_ROW_SCHEMA)


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion front door (sources/warc): serialize -> parse
    round trip per document; the output is what ``read_warc`` hands
    the curate chain — url, WARC date, HTTP-split mime/status, body
    length and md5 — all derivable by the oracle from the synthesis
    spec. md5 certifies the body BYTES survived gzip + HTTP framing
    bit-for-bit."""
    parsed = _warc_synth_parsed(spark, sf_dir)
    return parsed.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "url",
        "warc_date",
        "mime",
        "http_status",
        F.length("payload").cast("long").alias("payload_len"),
        F.md5("payload").alias("body_md5"),
    ).orderBy("doc_id")


SQL_WARC_INGEST = """
WITH src AS (
  SELECT doc_id, lang,
         '<html><body>' || text || '</body></html>' AS body
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
)
SELECT doc_id,
  'https://crawl-' || (doc_id % 5) || '.example/' || lang
    || '/doc/' || doc_id AS url,
  '2024-01-01T'
    || lpad(CAST((doc_id % 86400) // 3600 AS VARCHAR), 2, '0') || ':'
    || lpad(CAST(((doc_id % 86400) // 60) % 60 AS VARCHAR), 2, '0')
    || ':'
    || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || 'Z' AS warc_date,
  'text/html' AS mime,
  CAST(200 AS INTEGER) AS http_status,
  CAST(strlen(body) AS BIGINT) AS payload_len,
  md5(body) AS body_md5
FROM src ORDER BY doc_id
"""


def q_warc_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-host rollup over the WARC round-trip frame: pages, body
    bytes, distinct path languages per host — the first aggregation a
    crawl-curation pipeline runs to budget per-domain quotas. Host and
    lang are re-EXTRACTED from the parsed url (JVM regex), not carried
    through Python, so the rollup certifies the parsed frame."""
    parsed = _warc_synth_parsed(spark, sf_dir)
    return (
        parsed.select(
            F.regexp_extract("url", r"^https://([^/]+)/", 1).alias(
                "host"
            ),
            F.regexp_extract("url", r"^https://[^/]+/([^/]+)/", 1).alias(
                "lang"
            ),
            F.length("payload").cast("long").alias("nbytes"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("nbytes").alias("total_bytes"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("host")
    )


SQL_WARC_HOSTS = """
WITH src AS (
  SELECT 'crawl-' || (doc_id % 5) || '.example' AS host, lang,
         strlen('<html><body>' || text || '</body></html>') AS nbytes
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
)
SELECT host,
  CAST(count(*) AS BIGINT) AS n_pages,
  CAST(sum(nbytes) AS BIGINT) AS total_bytes,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM src GROUP BY host ORDER BY host
"""


def q_streaming_warc_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WARC ingest lifecycle (streaming/crawl): segment 0
    (clean URL spellings, one page per even doc_id pair) is drained
    into the corpus; segment 1 — dropped BETWEEN runs — re-crawls
    every page behind a messy spelling (scheme/host case, :443,
    utm param, fragment). The second availableNow run parses only the
    new segment (file-source checkpoint) and the canonical-URL gate
    state carried across runs drops every re-crawl, so the published
    corpus holds exactly one row per page. The synthesis scaffolding
    (driver-side segment build from collected doc_ids) is test rig;
    the operator surface under certification is warc_stream ->
    corpus_view -> warc_ingest_gate -> parquet publish."""
    import os
    import tempfile

    from .sources.warc import build_warc, warc_response_record
    from .streaming.crawl import run_warc_ingest

    ids = sorted(
        r[0]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    )

    def seg(id_subset, messy: bool) -> bytes:
        recs = []
        for d in id_subset:
            page = d // 2
            url = (
                "HTTPS://CRAWL-%d.EXAMPLE:443/doc/%d?utm_source=feed#x"
                % (page % 5, page)
                if messy
                else "https://crawl-%d.example/doc/%d" % (page % 5, page)
            )
            recs.append(
                warc_response_record(
                    url,
                    "2024-0%d-01T00:00:00Z" % (2 if messy else 1),
                    b"<html><body>p</body></html>",
                )
            )
        return build_warc(recs)

    root = tempfile.mkdtemp(prefix="warc_gate_q_")
    drop = os.path.join(root, "drop")
    os.makedirs(drop)
    out = os.path.join(root, "corpus")
    ckpt = os.path.join(root, "ckpt")
    with open(os.path.join(drop, "seg-0.warc.gz"), "wb") as fh:
        fh.write(seg([d for d in ids if d % 2 == 0], messy=False))
    run_warc_ingest(spark, drop, out, ckpt)
    with open(os.path.join(drop, "seg-1.warc.gz"), "wb") as fh:
        fh.write(seg([d for d in ids if d % 2 == 1], messy=True))
    run_warc_ingest(spark, drop, out, ckpt)
    return (
        spark.read.parquet(out)
        .select("url_canon")
        .orderBy("url_canon")
    )


SQL_STREAMING_WARC_GATE = """
SELECT DISTINCT
  'https://crawl-' || ((doc_id // 2) % 5) || '.example/doc/'
    || (doc_id // 2) AS url_canon
FROM documents ORDER BY url_canon
"""


def _micro_col(c: str) -> F.Column:
    """Exact BIGINT micro-units from a scale-6 DECIMAL column: x10^6 as
    a DECIMAL-by-DECIMAL product (scale stays 6, values far inside the
    38-digit precision — no rounding anywhere) then an exact integral
    cast. The driver-canonical integer surface for the DSIR contract
    (VERDICT r15 #2: a top-level DECIMAL column is the one output type
    whose cross-engine pandas repr the driver's canon hashes
    differently — every BIGINT contract passed the driver first try,
    both remaining DECIMAL surfaces stayed red; audited: dsir_weights /
    dsir_select were the registry's only DECIMAL-surfaced outputs)."""
    return F.expr(f"CAST({c} * CAST(1000000 AS DECIMAL(7,0)) AS BIGINT)")


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/dsir, Xie et al. 2023): raw
    corpus = all documents, target = the doc_id % 7 == 0 subset
    standing in for the curated exemplar corpus. Hashed uni+bigram
    features (10k buckets, portable md5-prefix hash), Laplace-smoothed
    bucket log-ratios rounded to DECIMAL(18,6), exact per-doc sums —
    the oracle replays every weight bit-for-bit. Declared surface is
    integer micro-units (see ``_micro_col``)."""
    from .operators.dsir import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    return (
        dsir_weights(docs, target)
        .select(
            "doc_id",
            "n_grams",
            _micro_col("log_weight").alias("log_weight_micro"),
        )
        .orderBy("doc_id")
    )


# Shared CTE text for the DSIR twins: features / marginals / smoothed
# log-ratios / per-doc exact DECIMAL sums, ending in CTE ``dsirw``
# (doc_id, n_grams, log_weight). The log-ratio table is computed with
# the PORTABLE ln (functions.portable_math): four single-integer lns
# chained as one-step CTE projections, then the floor-based 6-place
# rounding — the identical exactly-rounded IEEE op sequence the Spark
# side runs (operators/dsir.dsir_log_ratios), so both engines produce
# the same DECIMAL bit-for-bit on ANY driver host (r14 red fixed).
from .functions.portable_math import (  # noqa: E402
    chain_ctes as _pm_chain_ctes,
    gumbel_steps as _pm_gumbel_steps,
    ln_int_steps as _pm_ln_int_steps,
    round_dec_expr as _pm_round_dec_expr,
)

_DSIR_LR_STEPS = (
    _pm_ln_int_steps("__ta", "__l1", "duckdb", "__q1")
    + _pm_ln_int_steps("__rb", "__l2", "duckdb", "__q2")
    + _pm_ln_int_steps("__tr", "__l3", "duckdb", "__q3")
    + _pm_ln_int_steps("__tt", "__l4", "duckdb", "__q4")
)
_DSIR_LR_CTES, _DSIR_LR_LAST = _pm_chain_ctes(
    _DSIR_LR_STEPS, "lrints", "lrc"
)
_DSIR_LR6_EXPR = _pm_round_dec_expr(
    "((__l1 - __l2) + (__l3 - __l4))", 6, "duckdb"
)

_SQL_DSIR_CTES = rf"""
rawd AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
),
tgtd AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
  WHERE doc_id % 7 = 0
),
rtoks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS toks
  FROM rawd
),
ttoks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS toks
  FROM tgtd
),
rgrams AS (
  SELECT doc_id, unnest(list_concat(toks,
    CASE WHEN len(toks) >= 2 THEN
      list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
    ELSE [] END)) AS gram
  FROM rtoks
),
tgrams AS (
  SELECT doc_id, unnest(list_concat(toks,
    CASE WHEN len(toks) >= 2 THEN
      list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
    ELSE [] END)) AS gram
  FROM ttoks
),
rfeat AS (
  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::UBIGINT % 10000
           AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM rgrams GROUP BY 1, 2
),
tfeat AS (
  SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::UBIGINT % 10000
           AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM tgrams GROUP BY 1, 2
),
tm AS (SELECT bucket, sum(cnt) AS tcnt FROM tfeat GROUP BY bucket),
rm AS (SELECT bucket, sum(cnt) AS rcnt FROM rfeat GROUP BY bucket),
marg AS (
  SELECT coalesce(tm.bucket, rm.bucket) AS bucket,
         coalesce(tcnt, 0) AS tcnt, coalesce(rcnt, 0) AS rcnt
  FROM tm FULL OUTER JOIN rm ON tm.bucket = rm.bucket
),
tot AS (SELECT CAST(sum(tcnt) AS BIGINT) AS tott,
               CAST(sum(rcnt) AS BIGINT) AS totr FROM marg),
lrints AS (
  SELECT bucket,
    CAST(tcnt + 1 AS BIGINT) AS __ta, CAST(rcnt + 1 AS BIGINT) AS __rb,
    CAST(totr + 10000 AS BIGINT) AS __tr,
    CAST(tott + 10000 AS BIGINT) AS __tt
  FROM marg, tot
),
{_DSIR_LR_CTES},
lr AS (
  SELECT bucket, {_DSIR_LR6_EXPR} AS lr6 FROM {_DSIR_LR_LAST}
),
per_doc AS (
  -- integer micro-units end-to-end (VERDICT r15 #2): lr6 has scale 6,
  -- so lr6*10^6 is exactly integral (DECIMAL(25,6) product, exact
  -- BIGINT cast); cnt * lr6_micro and the sum are pure int64/int128
  -- arithmetic — no DECIMAL ever reaches the declared surface
  SELECT f.doc_id, CAST(sum(f.cnt) AS BIGINT) AS n_grams,
         CAST(sum(f.cnt * CAST(lr.lr6 * 1000000 AS BIGINT)) AS BIGINT)
           AS lw_micro
  FROM rfeat f JOIN lr ON f.bucket = lr.bucket
  GROUP BY f.doc_id
),
dsirw AS (
  SELECT d.doc_id,
    coalesce(p.n_grams, 0) AS n_grams,
    CAST(coalesce(p.lw_micro, 0) AS BIGINT) AS log_weight_micro
  FROM rawd d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
)"""

SQL_DSIR_WEIGHTS = f"""
WITH {_SQL_DSIR_CTES}
SELECT doc_id, n_grams, log_weight_micro FROM dsirw ORDER BY doc_id
"""


def q_streaming_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DSIR selection gate (streaming/dsirgate.run_dsir_gate
    — select toward the target AS SEGMENTS LAND): the ratio table fits
    once in batch (same raw/target split as dsir_weights), then the
    documents table streams through the state-free foreachBatch gate
    with threshold log_weight >= 0 — keep pages at least as
    target-like as raw-like. The oracle is the dsir_weights contract
    plus one WHERE clause, so every kept weight stays bit-for-bit."""
    import os
    import tempfile

    from .catalog import table_path
    from .operators.dsir import dsir_log_ratios, hashed_ngram_features
    from .streaming.dsirgate import run_dsir_gate

    docs = load_table(spark, sf_dir, "documents")
    raw_feats = hashed_ngram_features(docs, "text", "doc_id", 10_000, 2)
    target_feats = hashed_ngram_features(
        docs.filter(F.col("doc_id") % 7 == 0), "text", "doc_id", 10_000, 2
    )
    ratios = dsir_log_ratios(raw_feats, target_feats, 10_000).localCheckpoint()

    root = tempfile.mkdtemp(prefix="dsir_gate_q_")
    out = os.path.join(root, "kept")
    ckpt = os.path.join(root, "ckpt")
    from .streaming.checks import stream_events_from_parquet

    stream = stream_events_from_parquet(
        spark, table_path(sf_dir, "documents")
    )
    run_dsir_gate(spark, stream, ratios, "0", out, ckpt)
    return (
        spark.read.parquet(out)
        .select(
            "doc_id",
            "n_grams",
            _micro_col("log_weight").alias("log_weight_micro"),
        )
        .orderBy("doc_id")
    )


SQL_STREAMING_DSIR_GATE = f"""
WITH {_SQL_DSIR_CTES}
SELECT doc_id, n_grams, log_weight_micro FROM dsirw
WHERE log_weight_micro >= 0
ORDER BY doc_id
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel-top-k resampling (operators/dsir.dsir_select): the
    200 raw documents sampled without replacement toward the target
    distribution; sample key = exact weight + deterministic 6-place
    Gumbel draw from md5(seed:doc_id) — the oracle replays draw,
    ordering, and the k-boundary exactly."""
    from .operators.dsir import dsir_select

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    # micro-unit surface: ordering by sample_key_micro is the SAME
    # total order as the operator's DECIMAL sample_key (x10^6 is
    # monotone and exact), so the k-boundary is unchanged
    return (
        dsir_select(docs, target, k=200, mode="gumbel", seed=7)
        .select(
            "doc_id",
            "n_grams",
            _micro_col("log_weight").alias("log_weight_micro"),
            _micro_col("sample_key").alias("sample_key_micro"),
        )
        .orderBy(F.col("sample_key_micro").desc(), F.col("doc_id").asc())
    )


def _linkgraph_synth_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic page frame for the link-graph queries: 7 hosts, every
    doc links its host site-(d%7) to site-((3d+1)%7) via an absolute
    href plus a root-relative self link (a host_graph self-loop, which
    must drop). The HTML is spec-only (no corpus text) so the oracle
    replays the edge list arithmetically; the messy-HTML extraction
    paths are covered by tests/test_linkgraph.py."""
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://site-"), d % 7, F.lit(".example/p/"), d
    )
    html = F.concat(
        F.lit('<html><body><a href="https://site-'),
        (d * 3 + 1) % 7,
        F.lit('.example/r/'),
        d,
        F.lit('">x</a> <a href="/self/'),
        d,
        F.lit('">y</a></body></html>'),
    )
    # fan the one-row-group scan so the regex outlink parse (now
    # computed once, into pagerank's materialized edge frame)
    # parallelizes instead of running on one core (no-op at scale)
    return spread_small_scan(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", url.alias("url"), html.alias("text"))


def q_outlink_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction + host-graph contraction
    (operators/linkgraph.outlinks / host_graph): hrefs pulled from the
    synthetic HTML by the real regex/resolution chain — absolute kept,
    root-relative resolved to the page host (becoming a self-loop that
    host_graph drops) — then contracted to weighted host edges."""
    from .operators.linkgraph import host_graph, outlinks

    pages = _linkgraph_synth_pages(spark, sf_dir)
    return host_graph(outlinks(pages)).orderBy("src_host", "dst_host")


SQL_OUTLINK_HOSTS = """
WITH e AS (
  SELECT 'site-' || (doc_id % 7) || '.example' AS src_host,
         'site-' || ((3 * doc_id + 1) % 7) || '.example' AS dst_host
  FROM documents
  WHERE (doc_id % 7) <> ((3 * doc_id + 1) % 7)
)
SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
FROM e GROUP BY src_host, dst_host
ORDER BY src_host, dst_host
"""


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-3-iteration weighted PageRank over the synthetic host
    graph (operators/linkgraph.pagerank_hosts): ranks carried in exact
    integer pico-units, so the oracle unrolls the same three
    join+aggregate rounds bit-for-bit."""
    from .operators.linkgraph import host_graph, outlinks, pagerank_hosts

    pages = _linkgraph_synth_pages(spark, sf_dir)
    edges = host_graph(outlinks(pages))
    return pagerank_hosts(edges, iters=3).orderBy("host")


SQL_HOST_PAGERANK = """
WITH e AS (
  SELECT 'site-' || (doc_id % 7) || '.example' AS src_host,
         'site-' || ((3 * doc_id + 1) % 7) || '.example' AS dst_host
  FROM documents
  WHERE (doc_id % 7) <> ((3 * doc_id + 1) % 7)
),
edges AS (
  SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
  FROM e GROUP BY src_host, dst_host
),
nodes AS (
  SELECT DISTINCT host FROM (
    SELECT src_host AS host FROM edges
    UNION ALL SELECT dst_host FROM edges
  )
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outw AS (
  SELECT src_host, CAST(sum(n_links) AS DOUBLE) AS outw
  FROM edges GROUP BY src_host
),
ew AS (
  SELECT edges.src_host, edges.dst_host,
         CAST(edges.n_links AS DOUBLE) AS w, outw.outw
  FROM edges JOIN outw ON edges.src_host = outw.src_host
),
r0 AS (
  SELECT host, CAST(round(1000000000000.0 / nn.n) AS BIGINT) AS rank_p
  FROM nodes, nn
),
c1 AS (
  SELECT ew.dst_host AS host,
         CAST(sum(CAST(round(CAST(r.rank_p AS DOUBLE) * ew.w / ew.outw)
                       AS BIGINT)) AS BIGINT) AS s
  FROM ew JOIN r0 r ON ew.src_host = r.host GROUP BY ew.dst_host
),
r1 AS (
  SELECT nodes.host,
    CAST(round(((1.0 - 0.85) * 1000000000000.0) / nn.n
               + 0.85 * CAST(coalesce(c1.s, 0) AS DOUBLE)) AS BIGINT)
      AS rank_p
  FROM nodes LEFT JOIN c1 ON nodes.host = c1.host, nn
),
c2 AS (
  SELECT ew.dst_host AS host,
         CAST(sum(CAST(round(CAST(r.rank_p AS DOUBLE) * ew.w / ew.outw)
                       AS BIGINT)) AS BIGINT) AS s
  FROM ew JOIN r1 r ON ew.src_host = r.host GROUP BY ew.dst_host
),
r2 AS (
  SELECT nodes.host,
    CAST(round(((1.0 - 0.85) * 1000000000000.0) / nn.n
               + 0.85 * CAST(coalesce(c2.s, 0) AS DOUBLE)) AS BIGINT)
      AS rank_p
  FROM nodes LEFT JOIN c2 ON nodes.host = c2.host, nn
),
c3 AS (
  SELECT ew.dst_host AS host,
         CAST(sum(CAST(round(CAST(r.rank_p AS DOUBLE) * ew.w / ew.outw)
                       AS BIGINT)) AS BIGINT) AS s
  FROM ew JOIN r2 r ON ew.src_host = r.host GROUP BY ew.dst_host
),
r3 AS (
  SELECT nodes.host,
    CAST(round(((1.0 - 0.85) * 1000000000000.0) / nn.n
               + 0.85 * CAST(coalesce(c3.s, 0) AS DOUBLE)) AS BIGINT)
      AS rank_p
  FROM nodes LEFT JOIN c3 ON nodes.host = c3.host, nn
)
SELECT host, rank_p,
       CAST(rank_p AS DOUBLE) / 1000000000000.0 AS rank
FROM r3 ORDER BY host
"""


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt compliance audit (operators/robots): even-numbered
    hosts publish a 4-rule robots.txt (prefix disallow, longer-allow
    override, * wildcard, $ end anchor); odd hosts publish none. Every
    document URL lands in one of six path shapes. The REAL parse
    (group model, comment strip, empty-Disallow drop) and the REAL
    longest-match regex filter produce the verdicts; the oracle
    replays the outcome arithmetic from the spec."""
    from .operators.robots import parse_robots, robots_filter

    robots_text = (
        "# synthetic policy\n"
        "User-agent: ignored-bot\n"
        "Disallow: /\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/open/\n"
        "Disallow: /data/*.tmp\n"
        "Disallow: /exact$\n"
        "Disallow:\n"
    )
    robots = spark.createDataFrame(
        [(f"site-{k}.example", robots_text) for k in (0, 2, 4)],
        "host string, text string",
    )
    rules = parse_robots(robots, user_agent="*")
    d = F.col("doc_id")
    path = (
        F.when(d % 6 == 0, F.concat(F.lit("/public/"), d))
        .when(d % 6 == 1, F.concat(F.lit("/private/"), d))
        .when(d % 6 == 2, F.concat(F.lit("/private/open/"), d))
        .when(d % 6 == 3, F.concat(F.lit("/data/"), d, F.lit(".tmp")))
        .when(d % 6 == 4, F.concat(F.lit("/data/"), d, F.lit(".txt")))
        .otherwise(F.lit("/exact"))
    )
    urls = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://site-"), d % 5, F.lit(".example"), path
        ).alias("url"),
    )
    return robots_filter(urls, rules, keep_disallowed=True).orderBy(
        "doc_id"
    )


SQL_ROBOTS_GATE = """
SELECT doc_id,
  'https://site-' || (doc_id % 5) || '.example' ||
  CASE doc_id % 6
    WHEN 0 THEN '/public/' || doc_id
    WHEN 1 THEN '/private/' || doc_id
    WHEN 2 THEN '/private/open/' || doc_id
    WHEN 3 THEN '/data/' || doc_id || '.tmp'
    WHEN 4 THEN '/data/' || doc_id || '.txt'
    ELSE '/exact'
  END AS url,
  CASE WHEN (doc_id % 5) % 2 = 1 THEN TRUE           -- no robots.txt
       WHEN doc_id % 6 IN (0, 2, 4) THEN TRUE
       ELSE FALSE
  END AS allowed,
  CASE WHEN (doc_id % 5) % 2 = 1 THEN NULL
       WHEN doc_id % 6 = 1 THEN '/private/'
       WHEN doc_id % 6 = 2 THEN '/private/open/'
       WHEN doc_id % 6 = 3 THEN '/data/*.tmp'
       WHEN doc_id % 6 = 5 THEN '/exact$'
       ELSE NULL
  END AS matched_rule
FROM documents ORDER BY doc_id
"""


def q_robots_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robots_gate fixture pushed through robots_filter's SHUFFLE
    arm (rules_mode="shuffle", VERDICT r13 #1): the narrow
    (row-id, host, path) match join + skew-free verdict join-back must
    produce byte-identical verdicts to the broadcast arm — same
    spec-derived oracle as robots_gate."""
    from .operators.robots import parse_robots, robots_filter

    robots_text = (
        "# synthetic policy\n"
        "User-agent: ignored-bot\n"
        "Disallow: /\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/open/\n"
        "Disallow: /data/*.tmp\n"
        "Disallow: /exact$\n"
        "Disallow:\n"
    )
    robots = spark.createDataFrame(
        [(f"site-{k}.example", robots_text) for k in (0, 2, 4)],
        "host string, text string",
    )
    rules = parse_robots(robots, user_agent="*")
    d = F.col("doc_id")
    path = (
        F.when(d % 6 == 0, F.concat(F.lit("/public/"), d))
        .when(d % 6 == 1, F.concat(F.lit("/private/"), d))
        .when(d % 6 == 2, F.concat(F.lit("/private/open/"), d))
        .when(d % 6 == 3, F.concat(F.lit("/data/"), d, F.lit(".tmp")))
        .when(d % 6 == 4, F.concat(F.lit("/data/"), d, F.lit(".txt")))
        .otherwise(F.lit("/exact"))
    )
    urls = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://site-"), d % 5, F.lit(".example"), path
        ).alias("url"),
    )
    return robots_filter(
        urls, rules, keep_disallowed=True, rules_mode="shuffle"
    ).orderBy("doc_id")


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware fetch schedule (urltools.frontier_schedule +
    robots.robots_directives): even-numbered hosts publish a
    robots.txt carrying Crawl-delay 2.5 and two Sitemap lines (parsed
    by the REAL directive chain — group attribution, try_cast,
    host-wide sitemaps); odd hosts publish none and fall back to the
    1 s default. Every document URL gets its host fetch wave (by a
    deterministic priority) and seconds offset; the oracle replays
    the window + delay arithmetic."""
    from .operators.robots import robots_directives
    from .operators.urltools import frontier_schedule

    robots_text = (
        "User-agent: ignored-bot\nCrawl-delay: 99\n\n"
        "User-agent: *\nCrawl-delay: 2.5\nDisallow: /never\n"
        "Sitemap: https://{h}/sm-a.xml\nSitemap: https://{h}/sm-b.xml\n"
    )
    robots = spark.createDataFrame(
        [
            (f"site-{k}.example", robots_text.format(h=f"site-{k}.example"))
            for k in (0, 2, 4)
        ],
        "host string, text string",
    )
    dirs = robots_directives(robots)
    d = F.col("doc_id")
    urls = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://site-"), d % 5, F.lit(".example/p/"), d
        ).alias("url"),
        ((d * 37) % 101).cast("double").alias("pr"),
    )
    sched = frontier_schedule(
        urls, priority_col="pr", delays_df=dirs, default_delay=1.0
    )
    sm = dirs.select(
        F.col("host").alias("__smhost"),
        F.size("sitemaps").alias("n_sitemaps"),
    )
    return (
        sched.join(F.broadcast(sm), sched["host"] == sm["__smhost"], "left")
        .select(
            "doc_id", "url", "host", "wave", "fetch_after_sec",
            "n_sitemaps",
        )
        .orderBy("doc_id")
    )


SQL_CRAWL_FRONTIER = """
WITH u AS (
  SELECT doc_id,
    'https://site-' || (doc_id % 5) || '.example/p/' || doc_id AS url,
    'site-' || (doc_id % 5) || '.example' AS host,
    CAST((doc_id * 37) % 101 AS DOUBLE) AS pr
  FROM documents
),
w AS (
  SELECT doc_id, url, host,
    CAST(row_number() OVER (
      PARTITION BY host ORDER BY pr DESC, url ASC) AS INTEGER) AS wave
  FROM u
)
SELECT doc_id, url, host, wave,
  CAST(wave - 1 AS DOUBLE)
    * (CASE WHEN (doc_id % 5) % 2 = 0 THEN 2.5 ELSE 1.0 END)
    AS fetch_after_sec,
  CASE WHEN (doc_id % 5) % 2 = 0 THEN 2 ELSE NULL END AS n_sitemaps
FROM w ORDER BY doc_id
"""


def q_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap URL discovery (urltools.sitemap_urls): every tenth
    document is a sitemap INDEX pointing at another sitemap; the rest
    are urlsets listing two pages, one with an entity-encoded query
    string (&amp; must decode). The real regex/explode chain extracts
    the locs; the oracle replays the synthesis arithmetic."""
    from .operators.urltools import sitemap_urls

    d = F.col("doc_id")
    host = F.concat(F.lit("https://site-"), d % 5, F.lit(".example"))
    xml = F.when(
        d % 10 == 0,
        F.concat(
            F.lit("<sitemapindex><sitemap><loc>"),
            host,
            F.lit("/sm/"),
            d + 1,
            F.lit(".xml</loc></sitemap></sitemapindex>"),
        ),
    ).otherwise(
        F.concat(
            F.lit('<urlset><url><loc> '),
            host,
            F.lit("/p/"),
            d,
            F.lit("?a=1&amp;b=2 </loc></url><url><loc>"),
            host,
            F.lit("/q/"),
            d,
            F.lit("</loc></url></urlset>"),
        ),
    )
    pages = load_table(spark, sf_dir, "documents").select(
        F.concat(host, F.lit("/sm/"), d, F.lit(".xml")).alias("url"),
        xml.alias("text"),
    )
    return sitemap_urls(pages).orderBy("src_url", "loc")


SQL_SITEMAP_DISCOVERY = """
WITH base AS (
  SELECT doc_id,
    'https://site-' || (doc_id % 5) || '.example' AS h,
    'https://site-' || (doc_id % 5) || '.example/sm/' || doc_id
      || '.xml' AS src_url
  FROM documents
)
SELECT src_url, loc, is_index FROM (
  SELECT src_url, h || '/sm/' || (doc_id + 1) || '.xml' AS loc,
         TRUE AS is_index
  FROM base WHERE doc_id % 10 = 0
  UNION ALL
  SELECT src_url, h || '/p/' || doc_id || '?a=1&b=2' AS loc,
         FALSE AS is_index
  FROM base WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT src_url, h || '/q/' || doc_id AS loc, FALSE AS is_index
  FROM base WHERE doc_id % 10 <> 0
)
ORDER BY src_url, loc
"""


def q_cdx_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDXJ archive index, both directions (sources/cdx +
    urltools.surt_col): synthetic capture rows exercising every SURT
    arm (www label, non-default port, uppercase path, unsorted mixed-
    case query, trailing slash) build index lines — then the lines
    parse BACK to typed columns, so one oracle certifies the SURT
    transform, the JSON blob bytes, and the round trip."""
    from .sources.cdx import cdx_index, parse_cdxj

    d = F.col("doc_id")
    www = F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit(""))
    port = F.when(d % 7 == 0, F.lit(":8443")).otherwise(F.lit(""))
    tail = F.when(d % 2 == 0, F.lit("/?B=2&a=1")).otherwise(F.lit(""))
    url = F.concat(
        F.lit("https://"), www, F.lit("site-"), d % 5,
        F.lit(".example"), port, F.lit("/P/"), d, tail,
    )
    date = F.concat(
        F.lit("2024-03-01T00:00:"),
        F.lpad((d % 60).cast("string"), 2, "0"),
        F.lit("Z"),
    )
    parsed = load_table(spark, sf_dir, "documents").select(
        F.lit("seg-00000.warc.gz").alias("warc_file"),
        F.concat(F.lit("<urn:uuid:"), d, F.lit(">")).alias("record_id"),
        F.lit("response").alias("record_type"),
        url.alias("url"),
        date.alias("warc_date"),
        F.lit("text/html").alias("mime"),
        F.lit(200).cast("int").alias("http_status"),
        F.lit(None).cast("string").alias("redirect_to"),
        F.encode("text", "utf-8").alias("payload"),
    )
    lines = cdx_index(parsed).select(
        F.concat_ws(" ", "surt_key", "ts14", "cdxj").alias("line")
    )
    return parse_cdxj(lines).orderBy("surt_key", "ts14")


SQL_CDX_ROUNDTRIP = """
SELECT
  'example,site-' || (doc_id % 5)
    || CASE WHEN doc_id % 3 = 0 THEN ',www' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ':8443' ELSE '' END
    || ')/p/' || doc_id
    || CASE WHEN doc_id % 2 = 0 THEN '/?a=1&b=2' ELSE '' END AS surt_key,
  '202403010000' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS ts14,
  'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
    || 'site-' || (doc_id % 5) || '.example'
    || CASE WHEN doc_id % 7 = 0 THEN ':8443' ELSE '' END
    || '/P/' || doc_id
    || CASE WHEN doc_id % 2 = 0 THEN '/?B=2&a=1' ELSE '' END AS url,
  'text/html' AS mime,
  CAST(200 AS INTEGER) AS status,
  md5(text) AS digest,
  CAST(strlen(text) AS BIGINT) AS length,
  CAST(NULL AS BIGINT) AS "offset",
  CAST(NULL AS BIGINT) AS warc_length,
  'seg-00000.warc.gz' AS filename
FROM documents
ORDER BY surt_key, ts14
"""


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incoming-anchor aggregation (linkgraph.anchor_texts — the
    off-page relevance signal): every page cites its hub (doc_id%3)
    twice, once as 'hub number <d%5>' and once as '<b>Hub</b> <h>'
    (markup the extractor must strip); the oracle replays the
    (count desc, text asc) top-3 per hub arithmetically from the
    modular counts."""
    from .operators.linkgraph import anchor_texts

    d = F.col("doc_id")
    hub = F.concat(F.lit("https://hub-"), d % 3, F.lit(".example/"))
    html = F.concat(
        F.lit('<html><body><a href="'),
        hub,
        F.lit('">hub number '),
        d % 5,
        F.lit('</a> <a href="'),
        hub,
        F.lit('"><b>Hub</b> '),
        d % 3,
        F.lit("</a></body></html>"),
    )
    pages = load_table(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://site-"), d % 7, F.lit(".example/p/"), d
        ).alias("url"),
        html.alias("text"),
    )
    # driver-canonical scalar surface (VERDICT r15 #1): the driver's
    # canon sorts a pandas frame by every column, and a top-level
    # array<string> crashes it (unhashable list) — join the ordered
    # top-k into one '|'-delimited string; the oracle replays the same
    # join, so the contract is unchanged modulo representation
    return (
        anchor_texts(pages, top_k=3)
        .withColumn("top_anchors", F.array_join("top_anchors", "|"))
        .orderBy("dst_url")
    )


SQL_ANCHOR_TEXTS = """
WITH base AS (
  SELECT doc_id % 3 AS h, doc_id % 5 AS a FROM documents
),
hub AS (SELECT h, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY h),
num AS (
  SELECT h, 'hub number ' || a AS anchor, CAST(count(*) AS BIGINT) AS n
  FROM base GROUP BY h, a
),
allx AS (
  SELECT h, 'Hub ' || h AS anchor, n FROM hub
  UNION ALL SELECT h, anchor, n FROM num
),
rk AS (
  SELECT h, anchor, n,
    row_number() OVER (PARTITION BY h ORDER BY n DESC, anchor ASC) AS r
  FROM allx
),
tot AS (
  SELECT h, CAST(sum(n) AS BIGINT) AS n_inlinks,
         CAST(count(*) AS BIGINT) AS n_anchor_texts
  FROM allx GROUP BY h
),
topa AS (
  SELECT h, string_agg(anchor, '|' ORDER BY r) AS top_anchors
  FROM rk WHERE r <= 3 GROUP BY h
)
SELECT 'https://hub-' || h || '.example/' AS dst_url,
  n_inlinks, n_anchor_texts, top_anchors
FROM tot JOIN topa USING (h)
ORDER BY dst_url
"""


def q_wat_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT-shaped capture metadata (sources/warc.wat_metadata — the
    Common Crawl derivative trio's third leg): synthetic pages with a
    title, one absolute link and one root-relative link run through
    the real payload-cast + regex + array-lambda resolution chain; the
    oracle replays title and BOTH resolved links (shared rule with
    linkgraph.outlinks) arithmetically."""
    from .sources.warc import wat_metadata

    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://site-"), d % 7, F.lit(".example/p/"), d
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        d,
        F.lit('</title></head><body><a href="https://site-'),
        (d * 3 + 1) % 7,
        F.lit(".example/r/"),
        d,
        F.lit('">x</a> <a href="/self/'),
        d,
        F.lit('">y</a></body></html>'),
    )
    parsed = load_table(spark, sf_dir, "documents").select(
        F.lit("seg-00000.warc.gz").alias("warc_file"),
        F.concat(F.lit("<urn:uuid:"), d, F.lit(">")).alias("record_id"),
        url.alias("url"),
        F.lit("2024-03-01T00:00:00Z").alias("warc_date"),
        F.lit("text/html").alias("mime"),
        F.lit(200).cast("int").alias("http_status"),
        F.encode(html, "utf-8").alias("payload"),
    )
    # driver-canonical scalar surface (VERDICT r15 #1, same rule as
    # q_anchor_texts): the sorted, deduplicated link array joins into
    # one '|'-delimited string so the driver's pandas canon can key it
    return (
        wat_metadata(parsed)
        .withColumn("links", F.array_join("links", "|"))
        .orderBy("record_id")
    )


SQL_WAT_METADATA = """
SELECT
  'seg-00000.warc.gz' AS warc_file,
  '<urn:uuid:' || doc_id || '>' AS record_id,
  'https://site-' || (doc_id % 7) || '.example/p/' || doc_id AS url,
  '2024-03-01T00:00:00Z' AS warc_date,
  'text/html' AS mime,
  CAST(200 AS INTEGER) AS http_status,
  'Doc ' || doc_id AS title,
  CAST(2 AS INTEGER) AS n_links,
  array_to_string(list_sort([
    'https://site-' || ((3 * doc_id + 1) % 7) || '.example/r/' || doc_id,
    'https://site-' || (doc_id % 7) || '.example/self/' || doc_id
  ]), '|') AS links
FROM documents
ORDER BY record_id
"""


def q_cdx_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-level exact-dup triage (sources/cdx.cdx_dedup): captures
    whose payload is the document's SOURCE tag (20 values -> rich
    duplicate groups) go through the real cdx_index -> parse_cdxj
    chain, then the digest rollup keeps the earliest capture per
    byte-identical group — answering "which captures store the same
    bytes, and which one do we keep" from ~200 B index rows without
    touching any archive. Timestamps are a strictly monotone function
    of doc_id (max id 86399 fits hh:mm:ss), so 'earliest' is
    SQL-replayable as min(doc_id)."""
    from .sources.cdx import cdx_dedup, cdx_index, parse_cdxj

    d = F.col("doc_id")
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    date = F.concat(
        F.lit("2024-03-01T"),
        two(F.expr("doc_id div 3600 % 24")),
        F.lit(":"),
        two(F.expr("doc_id div 60 % 60")),
        F.lit(":"),
        two(d % 60),
        F.lit("Z"),
    )
    parsed = load_table(spark, sf_dir, "documents").select(
        F.lit("seg-00000.warc.gz").alias("warc_file"),
        F.concat(F.lit("<urn:uuid:"), d, F.lit(">")).alias("record_id"),
        F.lit("response").alias("record_type"),
        F.concat(
            F.lit("https://site-"), d % 5, F.lit(".example/p/"), d
        ).alias("url"),
        date.alias("warc_date"),
        F.lit("text/html").alias("mime"),
        F.lit(200).cast("int").alias("http_status"),
        F.lit(None).cast("string").alias("redirect_to"),
        F.encode("source", "utf-8").alias("payload"),
    )
    lines = cdx_index(parsed).select(
        F.concat_ws(" ", "surt_key", "ts14", "cdxj").alias("line")
    )
    return cdx_dedup(parse_cdxj(lines)).orderBy("digest")


SQL_CDX_DEDUP = """
WITH caps AS (
  SELECT doc_id, source,
    'example,site-' || (doc_id % 5) || ')/p/' || doc_id AS surt_key,
    'https://site-' || (doc_id % 5) || '.example/p/' || doc_id AS url,
    '20240301'
      || lpad(CAST((doc_id // 3600) % 24 AS VARCHAR), 2, '0')
      || lpad(CAST((doc_id // 60) % 60 AS VARCHAR), 2, '0')
      || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS ts14
  FROM documents
),
g AS (
  SELECT md5(source) AS digest,
         CAST(count(*) AS BIGINT) AS n_dups,
         CAST(sum(strlen(source)) AS BIGINT) AS total_bytes,
         min(doc_id) AS keep
  FROM caps GROUP BY 1
)
SELECT g.digest, g.n_dups, g.total_bytes,
  c.ts14, c.surt_key, c.url,
  'seg-00000.warc.gz' AS filename,
  CAST(NULL AS BIGINT) AS "offset",
  CAST(NULL AS BIGINT) AS warc_length
FROM g JOIN caps c ON c.doc_id = g.keep
ORDER BY digest
"""


def q_pagerank_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-converged PageRank (VERDICT r14 #6 — the arm that
    matters at 20+ iterations finally carries an oracle): an
    ASYMMETRIC synthetic host graph (site-(d%7) -> site-((2d+1)%5);
    hosts 5/6 emit but never receive, so rank genuinely moves, unlike
    the uniform q_host_pagerank graph whose r0 is already the fixed
    point), run with tol_p early stop + delta history +
    checkpoint_every. The L1 delta sequence decays geometrically and
    the STOP ITERATION is data-dependent (6 at sf0.1, 8 at sf0.01) —
    the oracle unrolls all 10 rounds and replays the first-delta-
    under-tol decision itself, so it certifies the convergence logic,
    not a hardcoded iteration count. n_iters/final_delta_p come from
    the history list the operator filled."""
    from .operators.linkgraph import pagerank_hosts

    d = F.col("doc_id")
    edges = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.concat(F.lit("site-"), d % 7, F.lit(".example")).alias(
                "src_host"
            ),
            F.concat(
                F.lit("site-"), (2 * d + 1) % 5, F.lit(".example")
            ).alias("dst_host"),
        )
        .filter(F.col("src_host") != F.col("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
    )
    history: list = []
    r = pagerank_hosts(
        edges,
        iters=_PR_TOL_MAX_ITERS,
        tol_p=_PR_TOL_P,
        history=history,
        checkpoint_every=2,
    )
    return r.select(
        "host",
        "rank_p",
        "rank",
        F.lit(len(history)).cast("int").alias("n_iters"),
        F.lit(int(history[-1])).cast("long").alias("final_delta_p"),
    ).orderBy("host")


_PR_TOL_MAX_ITERS = 10
_PR_TOL_P = 1_000_000


def _pagerank_tol_sql(max_iters: int, tol_p: int) -> str:
    """Unrolled DuckDB twin of q_pagerank_tol: all max_iters rounds as
    CTEs plus per-round L1 deltas, then the SAME first-delta<=tol stop
    decision picks which round's ranks (and which delta) to emit —
    generated, not hand-maintained, so iteration count changes stay
    one-line."""
    ctes = ["""e AS (
  SELECT 'site-' || (doc_id % 7) || '.example' AS src_host,
         'site-' || ((2 * doc_id + 1) % 5) || '.example' AS dst_host
  FROM documents
  WHERE (doc_id % 7) <> ((2 * doc_id + 1) % 5)
),
edges AS (
  SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
  FROM e GROUP BY src_host, dst_host
),
nodes AS (
  SELECT DISTINCT host FROM (
    SELECT src_host AS host FROM edges
    UNION ALL SELECT dst_host FROM edges
  )
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outw AS (
  SELECT src_host, CAST(sum(n_links) AS DOUBLE) AS outw
  FROM edges GROUP BY src_host
),
ew AS (
  SELECT edges.src_host, edges.dst_host,
         CAST(edges.n_links AS DOUBLE) AS w, outw.outw
  FROM edges JOIN outw ON edges.src_host = outw.src_host
),
r0 AS (
  SELECT host, CAST(round(1000000000000.0 / nn.n) AS BIGINT) AS rank_p
  FROM nodes, nn
)"""]
    for i in range(1, max_iters + 1):
        p = i - 1
        ctes.append(f"""c{i} AS (
  SELECT ew.dst_host AS host,
         CAST(sum(CAST(round(CAST(r.rank_p AS DOUBLE) * ew.w / ew.outw)
                       AS BIGINT)) AS BIGINT) AS s
  FROM ew JOIN r{p} r ON ew.src_host = r.host GROUP BY ew.dst_host
),
r{i} AS (
  SELECT nodes.host,
    CAST(round(((1.0 - 0.85) * 1000000000000.0) / nn.n
               + 0.85 * CAST(coalesce(c{i}.s, 0) AS DOUBLE)) AS BIGINT)
      AS rank_p
  FROM nodes LEFT JOIN c{i} ON nodes.host = c{i}.host, nn
),
d{i} AS (
  SELECT CAST(sum(abs(a.rank_p - b.rank_p)) AS BIGINT) AS delta
  FROM r{i} a JOIN r{p} b ON a.host = b.host
)""")
    k_arms = " ".join(
        f"WHEN (SELECT delta FROM d{i}) <= {tol_p} THEN {i}"
        for i in range(1, max_iters)
    )
    fd_arms = " ".join(
        f"WHEN (SELECT delta FROM d{i}) <= {tol_p} "
        f"THEN (SELECT delta FROM d{i})"
        for i in range(1, max_iters)
    )
    ctes.append(f"""pick AS (
  SELECT CASE {k_arms} ELSE {max_iters} END AS k,
         CASE {fd_arms}
         ELSE (SELECT delta FROM d{max_iters}) END AS fd
)""")
    rank_arms = " ".join(
        f"WHEN {i} THEN j{i}.rank_p" for i in range(1, max_iters + 1)
    )
    joins = "\n  ".join(
        f"JOIN r{i} j{i} ON n.host = j{i}.host"
        for i in range(1, max_iters + 1)
    )
    return f"""
WITH {','.join(ctes)}
SELECT n.host,
  CASE pick.k {rank_arms} END AS rank_p,
  CAST(CASE pick.k {rank_arms} END AS DOUBLE) / 1000000000000.0 AS rank,
  CAST(pick.k AS INTEGER) AS n_iters,
  CAST(pick.fd AS BIGINT) AS final_delta_p
FROM nodes n
  {joins}, pick
ORDER BY n.host
"""


SQL_PAGERANK_TOL = _pagerank_tol_sql(_PR_TOL_MAX_ITERS, _PR_TOL_P)


def q_cdx_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seekable-CDX random access, end to end (VERDICT r14 #3:
    sources/cdx.cdx_fetch + warc.build_warc_indexed +
    read_warc(with_offsets=True)): a deterministic archive is built
    from the doc_id%10 sliver, read back WITH byte offsets, indexed to
    CDXJ lines carrying offset/warc_length, and then ONE site's
    captures are fetched through the index — each fetch is a
    seek+bounded-read of its gzip member, never an archive scan. The
    oracle replays the fetched capture set arithmetically."""
    import hashlib
    import os

    from .sources.cdx import cdx_fetch, cdx_index, parse_cdxj
    from .sources.warc import (
        build_warc_indexed,
        read_warc,
        warc_response_record,
    )

    sliver = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()  # bounded: 1/10th of documents, text only
    )
    recs = [
        warc_response_record(
            f"https://site-{r.doc_id % 7}.example/p/{r.doc_id}",
            f"2024-03-01T00:00:{r.doc_id % 60:02d}Z",
            (r.text or "").encode("utf-8"),
        )
        for r in sliver
    ]
    blob, _ = build_warc_indexed(recs)
    seg_dir = os.path.join(
        "/tmp",
        "dbqt_spark_cdx_fetch_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:10],
    )
    os.makedirs(seg_dir, exist_ok=True)
    seg = os.path.join(seg_dir, "seg-00000.warc.gz")

    def _current() -> bool:
        # content-exact reuse check: a stale archive from a previous
        # testdata generation with a coincidentally equal size would
        # poison the fetch — the file is small, compare bytes
        try:
            with open(seg, "rb") as fh:
                return fh.read() == blob
        except OSError:
            return False

    if not _current():
        # atomic publish — pooled bench runs this concurrently
        tmp = f"{seg}.{os.getpid()}.tmp"
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.replace(tmp, seg)
    parsed = read_warc(spark, seg, with_offsets=True).withColumn(
        "warc_file", F.element_at(F.split("warc_file", "/"), -1)
    )
    lines = cdx_index(parsed).select(
        F.concat_ws(" ", "surt_key", "ts14", "cdxj").alias("line")
    )
    index = parse_cdxj(lines)
    out = cdx_fetch(index, seg_dir, surt_prefix="example,site-3)/")
    return out.select(
        "surt_key",
        "ts14",
        "url",
        F.col("http_status").alias("status"),
        F.col("payload").cast("string").alias("text"),
    ).orderBy("surt_key")


SQL_CDX_FETCH = """
SELECT
  'example,site-3)/p/' || doc_id AS surt_key,
  '202403010000' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS ts14,
  'https://site-3.example/p/' || doc_id AS url,
  CAST(200 AS INTEGER) AS status,
  coalesce(text, '') AS text
FROM documents
WHERE doc_id % 10 = 0 AND doc_id % 7 = 3
ORDER BY surt_key
"""


def q_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dangling-mass PageRank (linkgraph.pagerank_hosts dangling=True,
    VERDICT r13 #4): a synthetic host graph where sources are site-0..6
    but destinations span site-0..10 — hosts 7..10 have no outgoing
    edge, so their rank mass redistributes uniformly each iteration
    instead of leaking. Two iterations, integer pico-units; the oracle
    unrolls the same rounds including the left-anti dangling aggregate
    bit-for-bit."""
    from .operators.linkgraph import pagerank_hosts

    d = F.col("doc_id")
    edges = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.concat(F.lit("site-"), d % 7, F.lit(".example")).alias(
                "src_host"
            ),
            F.concat(
                F.lit("site-"), (3 * d + 1) % 11, F.lit(".example")
            ).alias("dst_host"),
        )
        .filter(F.col("src_host") != F.col("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
    )
    return pagerank_hosts(edges, iters=2, dangling=True).orderBy("host")


SQL_PAGERANK_DANGLING = """
WITH e AS (
  SELECT 'site-' || (doc_id % 7) || '.example' AS src_host,
         'site-' || ((3 * doc_id + 1) % 11) || '.example' AS dst_host
  FROM documents
  WHERE 'site-' || (doc_id % 7) || '.example'
        <> 'site-' || ((3 * doc_id + 1) % 11) || '.example'
),
edges AS (
  SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
  FROM e GROUP BY src_host, dst_host
),
nodes AS (
  SELECT DISTINCT host FROM (
    SELECT src_host AS host FROM edges
    UNION ALL SELECT dst_host FROM edges
  )
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outw AS (
  SELECT src_host, CAST(sum(n_links) AS DOUBLE) AS outw
  FROM edges GROUP BY src_host
),
ew AS (
  SELECT edges.src_host, edges.dst_host,
         CAST(edges.n_links AS DOUBLE) AS w, outw.outw
  FROM edges JOIN outw ON edges.src_host = outw.src_host
),
r0 AS (
  SELECT host, CAST(round(1000000000000.0 / nn.n) AS BIGINT) AS rank_p
  FROM nodes, nn
),
d1 AS (
  SELECT CAST(round(CAST(coalesce(sum(r.rank_p), 0) AS DOUBLE) / nn.n)
              AS BIGINT) AS share
  FROM r0 r, nn
  WHERE r.host NOT IN (SELECT src_host FROM outw)
  GROUP BY nn.n
),
c1 AS (
  SELECT ew.dst_host AS host,
         CAST(sum(CAST(round(CAST(r.rank_p AS DOUBLE) * ew.w / ew.outw)
                       AS BIGINT)) AS BIGINT) AS s
  FROM ew JOIN r0 r ON ew.src_host = r.host GROUP BY ew.dst_host
),
r1 AS (
  SELECT nodes.host,
    CAST(round(((1.0 - 0.85) * 1000000000000.0) / nn.n
               + 0.85 * CAST(coalesce(c1.s, 0) + d1.share AS DOUBLE))
         AS BIGINT) AS rank_p
  FROM nodes LEFT JOIN c1 ON nodes.host = c1.host, nn, d1
),
d2 AS (
  SELECT CAST(round(CAST(coalesce(sum(r.rank_p), 0) AS DOUBLE) / nn.n)
              AS BIGINT) AS share
  FROM r1 r, nn
  WHERE r.host NOT IN (SELECT src_host FROM outw)
  GROUP BY nn.n
),
c2 AS (
  SELECT ew.dst_host AS host,
         CAST(sum(CAST(round(CAST(r.rank_p AS DOUBLE) * ew.w / ew.outw)
                       AS BIGINT)) AS BIGINT) AS s
  FROM ew JOIN r1 r ON ew.src_host = r.host GROUP BY ew.dst_host
),
r2 AS (
  SELECT nodes.host,
    CAST(round(((1.0 - 0.85) * 1000000000000.0) / nn.n
               + 0.85 * CAST(coalesce(c2.s, 0) + d2.share AS DOUBLE))
         AS BIGINT) AS rank_p
  FROM nodes LEFT JOIN c2 ON nodes.host = c2.host, nn, d2
)
SELECT host, rank_p,
       CAST(rank_p AS DOUBLE) / 1000000000000.0 AS rank
FROM r2 ORDER BY host
"""


def q_sitemap_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-index expansion (urltools.expand_sitemaps, VERDICT r13
    #3): every tenth document is a sitemap INDEX pointing at the NEXT
    document's sitemap (which is a urlset — (d+1) % 10 != 0); the rest
    are urlsets listing two pages. The real extract -> canonical-URL
    self-join chase flattens index -> child -> page locs in one
    unrolled plan; the only residue is the last index when its child
    falls off the corpus edge. The oracle replays the synthesis
    arithmetic (contiguous doc_ids: presence = id <= max)."""
    from .operators.urltools import expand_sitemaps

    d = F.col("doc_id")

    def host(x):
        return F.concat(F.lit("https://site-"), x % 5, F.lit(".example"))

    xml = F.when(
        d % 10 == 0,
        F.concat(
            F.lit("<sitemapindex><sitemap><loc>"),
            host(d + 1),
            F.lit("/sm/"),
            d + 1,
            F.lit(".xml</loc></sitemap></sitemapindex>"),
        ),
    ).otherwise(
        F.concat(
            F.lit("<urlset><url><loc>"),
            host(d),
            F.lit("/p/"),
            d,
            F.lit("?a=1&amp;b=2</loc></url><url><loc>"),
            host(d),
            F.lit("/q/"),
            d,
            F.lit("</loc></url></urlset>"),
        ),
    )
    pages = load_table(spark, sf_dir, "documents").select(
        F.concat(host(d), F.lit("/sm/"), d, F.lit(".xml")).alias("url"),
        xml.alias("text"),
    )
    return expand_sitemaps(pages, max_depth=2).orderBy(
        "root_url", "loc", "depth"
    )


SQL_SITEMAP_EXPAND = """
WITH m AS (SELECT max(doc_id) AS mx FROM documents),
base AS (
  SELECT doc_id,
    'https://site-' || (doc_id % 5) || '.example' AS h,
    'https://site-' || ((doc_id + 1) % 5) || '.example' AS h1,
    'https://site-' || (doc_id % 5) || '.example/sm/' || doc_id
      || '.xml' AS root_url
  FROM documents
)
SELECT root_url, loc, CAST(depth AS INTEGER) AS depth, is_sitemap FROM (
  SELECT root_url, h || '/p/' || doc_id || '?a=1&b=2' AS loc,
         1 AS depth, FALSE AS is_sitemap
  FROM base WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT root_url, h || '/q/' || doc_id, 1, FALSE
  FROM base WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT root_url, h1 || '/p/' || (doc_id + 1) || '?a=1&b=2', 2, FALSE
  FROM base, m WHERE doc_id % 10 = 0 AND doc_id + 1 <= mx
  UNION ALL
  SELECT root_url, h1 || '/q/' || (doc_id + 1), 2, FALSE
  FROM base, m WHERE doc_id % 10 = 0 AND doc_id + 1 <= mx
  UNION ALL
  SELECT root_url, h1 || '/sm/' || (doc_id + 1) || '.xml', 1, TRUE
  FROM base, m WHERE doc_id % 10 = 0 AND doc_id + 1 > mx
)
ORDER BY root_url, loc, depth
"""


def q_redirect_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution (sources/warc Location capture +
    urltools.resolve_redirects): every third document is a landing
    page; the two before it are a 301 chain — one RELATIVE Location
    (resolved against the source host) into one absolute. The synth
    records round-trip the REAL writer/gzip/parser (Location captured
    from the HTTP headers), then the fixed-hop join walk resolves
    every url to its terminal; the oracle replays the chain
    arithmetic (doc_ids are contiguous, so presence = id <= max)."""
    from .sources.warc import (
        WARC_ROW_SCHEMA,
        build_warc,
        rows_from_stream,
        warc_response_record,
    )
    from .operators.urltools import resolve_redirects

    # note (r15 optimization round): spread_small_scan here measured
    # WORSE (2.2 s vs 1.3 s) — the per-row Python work is tiny (ids
    # only, fixed bodies), so 64 small Arrow tasks cost more than the
    # single-task gzip loop; the localCheckpoint already bounds it
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cols = [c.split()[0] for c in WARC_ROW_SCHEMA.split(", ")]

    def round_trip(batches):
        import io as _io

        import pandas as pd

        for pdf in batches:
            recs = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                url = "https://crawl.example/p/%d" % i
                date = "2024-03-01T00:00:00Z"
                c = i % 3
                if c == 0:
                    recs.append(
                        warc_response_record(
                            url, date, b"<html><body>ok</body></html>"
                        )
                    )
                else:
                    loc = (
                        "/p/%d" % (i + 1)
                        if c == 1
                        else "https://crawl.example/p/%d" % (i + 1)
                    )
                    recs.append(
                        warc_response_record(
                            url,
                            date,
                            b"",
                            status=301,
                            http_headers={"Location": loc},
                        )
                    )
            blob = build_warc(recs, gzip_per_record=True)
            rows = list(
                rows_from_stream(
                    _io.BytesIO(blob), "synth.warc.gz", ("response",)
                )
            )
            yield pd.DataFrame(rows, columns=cols)

    parsed = docs.mapInPandas(round_trip, schema=WARC_ROW_SCHEMA)
    # materialize the synth edge frame ONCE (VERDICT r14 #5): the
    # unrolled hop walk references its input max_hops+2 times, and
    # left lazy each reference re-runs the writer/gzip/parser synth —
    # ~25 sequential stages for a 4-hop walk; the lazy localCheckpoint
    # collapses that to one synth pass + shallow joins
    edges_in = parsed.select("url", "redirect_to").localCheckpoint(
        eager=False
    )
    resolved = resolve_redirects(edges_in, max_hops=4)
    return resolved.select(
        F.regexp_extract("url", r"/p/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        "url",
        "final_url",
        "n_hops",
        "terminal",
    ).orderBy("doc_id")


SQL_REDIRECT_MAP = """
WITH m AS (SELECT max(doc_id) AS mx FROM documents)
SELECT doc_id,
  'https://crawl.example/p/' || doc_id AS url,
  CASE
    WHEN doc_id % 3 = 0 THEN 'https://crawl.example/p/' || doc_id
    WHEN doc_id % 3 = 2 THEN 'https://crawl.example/p/' || (doc_id + 1)
    WHEN doc_id + 1 <= mx THEN 'https://crawl.example/p/' || (doc_id + 2)
    ELSE 'https://crawl.example/p/' || (doc_id + 1)
  END AS final_url,
  CAST(CASE
    WHEN doc_id % 3 = 0 THEN 0
    WHEN doc_id % 3 = 2 THEN 1
    WHEN doc_id + 1 <= mx THEN 2
    ELSE 1
  END AS INTEGER) AS n_hops,
  TRUE AS terminal
FROM documents, m ORDER BY doc_id
"""


# Portable Gumbel draw (oracle twin of operators/dsir.with_gumbel_key):
# u = (2h+1)/2^61 for the 60-bit md5-prefix h, g = -ln(-ln(u)) with both
# lns exactly-rounded-portable, chained as one-step CTE projections.
_DSIR_GUMBEL_CTES, _DSIR_GUMBEL_LAST = _pm_chain_ctes(
    _pm_gumbel_steps("doc_id", 7, "__g", "duckdb"), "dsirw", "gc"
)

SQL_DSIR_SELECT = f"""
WITH {_SQL_DSIR_CTES},
{_DSIR_GUMBEL_CTES}
SELECT doc_id, n_grams, log_weight_micro,
  log_weight_micro + CAST(__g * 1000000 AS BIGINT) AS sample_key_micro
FROM {_DSIR_GUMBEL_LAST}
ORDER BY sample_key_micro DESC, doc_id ASC
LIMIT 200
"""


_BLOOM_N_BITS = 2048
_BLOOM_N_HASHES = 3


def _bloom_gate_frames(spark: SparkSession, sf_dir: str):
    """Shared synth for the bloom queries: the 'seen' corpus is every
    third document's canonical URL; arrivals are all documents."""
    d = F.col("doc_id")
    arrivals = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://site-"), d % 7, F.lit(".example/p/"), d
        ).alias("key"),
        (d % 3 == 0).alias("seen_exact"),
    )
    return arrivals, arrivals.where(F.col("seen_exact"))


def _bloom_summary(gated: DataFrame) -> DataFrame:
    return (
        gated.groupBy("maybe_seen", "seen_exact")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("maybe_seen", "seen_exact")
    )


def q_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom membership gate (operators/bloom.py — the no-
    shuffle 'definitely new' pre-filter in front of any exact dedup /
    decontamination tier): a filter built over every third document's
    canonical URL gates ALL documents through the broadcast arm. The
    filter is deliberately small (2048 bits) so growing corpora
    saturate it — the summary's (maybe_seen, seen_exact) cells expose
    the false-positive tail at every scale while false negatives must
    stay impossible. The oracle replays every md5-prefix bit, the
    bit_or word packing, and the 3-probe AND bit-for-bit."""
    from .operators.bloom import bloom_build, bloom_gate

    arrivals, seen = _bloom_gate_frames(spark, sf_dir)
    bloom = bloom_build(seen, "key", _BLOOM_N_BITS, _BLOOM_N_HASHES)
    gated = bloom_gate(
        arrivals, bloom, "key", _BLOOM_N_BITS, _BLOOM_N_HASHES
    )
    return _bloom_summary(gated)


def q_bloom_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shuffle arm of the same gate (filters past broadcast size):
    narrow (id, word_idx, mask) probe rows join the word frame, AND-
    fold per id, join back on the caller's unique key, misses fail
    CLOSED. Same oracle as bloom_gate — the arms must agree bit-for-
    bit (the robots_gate/robots_shuffle precedent)."""
    from .operators.bloom import bloom_build, bloom_gate

    arrivals, seen = _bloom_gate_frames(spark, sf_dir)
    bloom = bloom_build(seen, "key", _BLOOM_N_BITS, _BLOOM_N_HASHES)
    gated = bloom_gate(
        arrivals,
        bloom,
        "key",
        _BLOOM_N_BITS,
        _BLOOM_N_HASHES,
        mode="shuffle",
        id_col="doc_id",
    )
    return _bloom_summary(gated)


def _sql_bloom_gate(n_bits: int, k: int) -> str:
    """DuckDB twin of the whole bloom chain over the documents synth."""
    key = "'https://site-' || (doc_id % 7) || '.example/p/' || doc_id"
    bit_selects, probe_bits, checks, joins = _sql_bloom_fragments(
        "key", n_bits, k
    )
    return f"""
WITH arr AS (
  SELECT doc_id, {key} AS key, (doc_id % 3 = 0) AS seen_exact
  FROM documents
),
seen AS (SELECT DISTINCT key FROM arr WHERE seen_exact),
bits AS ({bit_selects}),
words AS (
  SELECT CAST(bit // 32 AS BIGINT) AS word_idx,
         bit_or(1::BIGINT << CAST(bit % 32 AS INTEGER)) AS word
  FROM bits GROUP BY 1
),
h AS (SELECT doc_id, seen_exact, {probe_bits} FROM arr),
gated AS (
  SELECT h.doc_id, h.seen_exact, {checks} AS maybe_seen
  FROM h {joins}
)
SELECT maybe_seen, seen_exact, CAST(count(*) AS BIGINT) AS n_docs,
  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM gated GROUP BY maybe_seen, seen_exact
ORDER BY maybe_seen, seen_exact
"""


SQL_BLOOM_GATE = _sql_bloom_gate(_BLOOM_N_BITS, _BLOOM_N_HASHES)


def _cdx_snapshot_frames(spark: SparkSession, sf_dir: str):
    """Shared two-snapshot synth for the cdx_delta / recrawl_plan
    queries: snapshot A captures every document on day 1; snapshot B
    on day 2 drops every 10th page (gone), rewrites payloads for
    doc%10==1 (changed), adds an /alt page for doc%10==2 (new), and
    for doc%10==3 holds TWO captures — an intermediate edit plus a
    later revert — so the latest-per-key window must pick the revert.
    Both snapshots run the real cdx_index → parse_cdxj chain."""
    from .sources.cdx import cdx_index, parse_cdxj

    d = F.col("doc_id")
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    hms = F.concat(
        two(F.expr("doc_id div 3600 % 24")),
        F.lit(":"),
        two(F.expr("doc_id div 60 % 60")),
        F.lit(":"),
        two(d % 60),
    )
    url = F.concat(F.lit("https://site-"), d % 5, F.lit(".example/p/"), d)

    def parsed(capts: DataFrame, day_col, url_col, payload) -> DataFrame:
        rows = capts.select(
            F.lit("seg-00000.warc.gz").alias("warc_file"),
            F.concat(F.lit("<urn:uuid:"), d, F.lit(">")).alias(
                "record_id"
            ),
            F.lit("response").alias("record_type"),
            url_col.alias("url"),
            F.concat(
                F.lit("2024-03-"), day_col, F.lit("T"), hms, F.lit("Z")
            ).alias("warc_date"),
            F.lit("text/html").alias("mime"),
            F.lit(200).cast("int").alias("http_status"),
            F.lit(None).cast("string").alias("redirect_to"),
            F.encode(payload, "utf-8").alias("payload"),
        )
        # sort=False: the index-build sort is wasted here — both
        # consumers window/join by surt_key, re-hashing the rows the
        # instant they parse back (r15: drops one full rangepartition
        # Exchange per snapshot chain; result order set downstream)
        lines = cdx_index(rows, sort=False).select(
            F.concat_ws(" ", "surt_key", "ts14", "cdxj").alias("line")
        )
        return parse_cdxj(lines)

    docs = load_table(spark, sf_dir, "documents")
    src = F.col("source")
    old = parsed(docs, F.lit("01"), url, src)
    # snapshot B's three capture classes come out of ONE documents scan
    # via a conditional explode (r15: was three filtered scans + union,
    # each carrying its own copy of the cdxj concat tower — 3 scans ->
    # 1 and the tower appears once in the plan; same rows, and the
    # latest-per-key window downstream is order-independent)
    entry = lambda day, u, p: F.struct(  # noqa: E731
        F.lit(day).alias("day"), u.alias("url"), p.alias("payload")
    )
    b_entries = F.filter(
        F.array(
            F.when(
                d % 10 != 0,
                entry(
                    "02",
                    url,
                    F.when(d % 10 == 1, F.concat(src, F.lit("v2")))
                    .when(d % 10 == 3, F.concat(src, F.lit("tmp")))
                    .otherwise(src),
                ),
            ),
            F.when(d % 10 == 3, entry("03", url, src)),
            F.when(
                d % 10 == 2,
                entry(
                    "02",
                    F.concat(url, F.lit("/alt")),
                    F.concat(F.lit("alt:"), src),
                ),
            ),
        ),
        lambda e: e.isNotNull(),
    )
    b = docs.select(d, F.explode(b_entries).alias("e"))
    new = parsed(
        b, F.col("e.day"), F.col("e.url"), F.col("e.payload")
    )
    return old, new


def q_cdx_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot crawl diff (sources/cdx.cdx_delta — the
    incremental-recrawl scheduler's input, answered from index rows
    alone) over the shared two-snapshot synth
    (``_cdx_snapshot_frames``); the oracle replays every status,
    timestamp and digest arithmetically."""
    from .sources.cdx import cdx_delta

    old, new = _cdx_snapshot_frames(spark, sf_dir)
    return cdx_delta(old, new).orderBy("surt_key")


def q_recrawl_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl loop closed: cdx_delta's verdicts become the next
    crawl's politeness-scheduled frontier (urltools.frontier_schedule).
    'gone' keys drop; 'changed' outranks 'new' outranks 'unchanged'
    within each host's fetch waves, so freshness-critical pages fetch
    first without ever violating per-host crawl delays. The oracle
    replays the status arithmetic, the priority ladder, and the
    per-host window."""
    from .operators.urltools import frontier_schedule
    from .sources.cdx import cdx_delta

    old, new = _cdx_snapshot_frames(spark, sf_dir)
    delta = cdx_delta(old, new)
    frontier = delta.where(F.col("status") != "gone").select(
        "url",
        "status",
        F.when(F.col("status") == "changed", 3)
        .when(F.col("status") == "new", 2)
        .otherwise(1)
        .cast("int")
        .alias("priority"),
    )
    return frontier_schedule(
        frontier, priority_col="priority"
    ).orderBy("url")


SQL_CDX_DELTA = """
WITH base AS (
  SELECT doc_id, source,
    'example,site-' || (doc_id % 5) || ')/p/' || doc_id AS surt_key,
    'https://site-' || (doc_id % 5) || '.example/p/' || doc_id AS url,
    lpad(CAST((doc_id // 3600) % 24 AS VARCHAR), 2, '0')
      || lpad(CAST((doc_id // 60) % 60 AS VARCHAR), 2, '0')
      || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') AS hms
  FROM documents
),
main AS (
  SELECT surt_key,
    CASE WHEN doc_id % 10 = 0 THEN 'gone'
         WHEN doc_id % 10 = 1 THEN 'changed'
         ELSE 'unchanged' END AS status,
    url,
    '20240301' || hms AS old_ts14,
    CASE WHEN doc_id % 10 = 0 THEN NULL
         WHEN doc_id % 10 = 3 THEN '20240303' || hms
         ELSE '20240302' || hms END AS new_ts14,
    md5(source) AS old_digest,
    CASE WHEN doc_id % 10 = 0 THEN NULL
         WHEN doc_id % 10 = 1 THEN md5(source || 'v2')
         ELSE md5(source) END AS new_digest
  FROM base
),
alts AS (
  SELECT surt_key || '/alt' AS surt_key, 'new' AS status,
    url || '/alt' AS url,
    CAST(NULL AS VARCHAR) AS old_ts14,
    '20240302' || hms AS new_ts14,
    CAST(NULL AS VARCHAR) AS old_digest,
    md5('alt:' || source) AS new_digest
  FROM base WHERE doc_id % 10 = 2
)
SELECT * FROM main
UNION ALL SELECT * FROM alts
ORDER BY surt_key
"""


SQL_RECRAWL_PLAN = """
WITH base AS (
  SELECT doc_id, source,
    'https://site-' || (doc_id % 5) || '.example/p/' || doc_id AS url,
    'site-' || (doc_id % 5) || '.example' AS host
  FROM documents
),
frontier AS (
  SELECT url,
    CASE WHEN doc_id % 10 = 1 THEN 'changed' ELSE 'unchanged' END
      AS status,
    CASE WHEN doc_id % 10 = 1 THEN 3 ELSE 1 END AS priority,
    host
  FROM base WHERE doc_id % 10 != 0
  UNION ALL
  SELECT url || '/alt' AS url, 'new' AS status, 2 AS priority, host
  FROM base WHERE doc_id % 10 = 2
),
w AS (
  SELECT url, status, CAST(priority AS INTEGER) AS priority, host,
    CAST(row_number() OVER (
      PARTITION BY host ORDER BY priority DESC, url ASC) AS INTEGER)
      AS wave
  FROM frontier
)
SELECT url, status, priority, host, wave,
  CAST(wave - 1 AS DOUBLE) * 1.0 AS fetch_after_sec
FROM w ORDER BY url
"""


_BPE_ROUNDS = 6


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-engine BPE merge learning (operators/bpe.py — tokenizer
    induction, Sennrich et al. 2016): 6 merge rounds over the
    documents corpus. The loop is eager by contract (round r+1's pair
    counts depend on round r's winner — the pagerank_tol precedent);
    the oracle unrolls all 6 rounds, replaying the pair counting, the
    (count desc, pair asc) winner pick, and the exact greedy fold
    (DuckDB list_reduce == Spark aggregate) bit-for-bit."""
    from .operators.bpe import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(docs, n_merges=_BPE_ROUNDS).orderBy("merge_rank")


def _sql_bpe_ctes(rounds: int, final_words: bool) -> list[str]:
    """Shared CTE chain for the BPE oracles: per round a pair-count
    CTE, a winner CTE, and a fold-application CTE (the same left-to-
    right greedy merge as Spark's aggregate lambda). With
    ``final_words`` the chain also applies the LAST winner, yielding
    ``w{rounds}`` — the fully segmented vocabulary."""
    ctes = [
        """w0 AS (
  SELECT regexp_replace(w, '(.)', '\\1 ', 'g') || '</w>' AS seq, freq
  FROM (
    SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ) GROUP BY w
  )
)"""
    ]
    for r in range(rounds):
        ctes.append(
            f"""p{r} AS (
  SELECT pr, CAST(sum(freq) AS BIGINT) AS n FROM (
    SELECT unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i + 1])) AS pr,
           freq
    FROM (SELECT string_split(seq, ' ') AS t, freq FROM w{r})
  ) GROUP BY pr
)"""
        )
        ctes.append(
            f"""b{r} AS (
  SELECT pr, n, split_part(pr, ' ', 1) AS l, split_part(pr, ' ', 2) AS r
  FROM p{r} ORDER BY n DESC, pr ASC LIMIT 1
)"""
        )
        if r + 1 < rounds or final_words:
            ctes.append(
                f"""w{r + 1} AS (
  SELECT list_reduce(string_split(seq, ' '),
    (acc, x) -> CASE
      WHEN (acc = b.l OR ends_with(acc, ' ' || b.l)) AND x = b.r
      THEN acc || x ELSE acc || ' ' || x END) AS seq, freq
  FROM w{r}, b{r} b
)"""
            )
    return ctes


def _sql_bpe_train(rounds: int) -> str:
    """DuckDB twin of the whole bpe_train loop, unrolled."""
    winners = "\n  UNION ALL ".join(
        f"SELECT {r} AS merge_rank, l AS lhs, r AS rhs, l || r AS merged,"
        f" n AS pair_count FROM b{r}"
        for r in range(rounds)
    )
    return (
        "WITH "
        + ",\n".join(_sql_bpe_ctes(rounds, final_words=False))
        + f"\nSELECT CAST(merge_rank AS INTEGER) AS merge_rank, lhs, rhs,"
        f" merged, pair_count FROM (\n  {winners}\n) ORDER BY merge_rank"
    )


def _sql_bpe_pieces(rounds: int, top_k: int) -> str:
    """DuckDB twin of bpe_piece_stats over merges induced by the same
    unrolled loop: the segmented vocabulary ``w{rounds}`` explodes to
    pieces weighted by word frequency, top_k by (n desc, piece asc)."""
    return (
        "WITH "
        + ",\n".join(_sql_bpe_ctes(rounds, final_words=True))
        + f""",
pieces AS (
  SELECT unnest(string_split(seq, ' ')) AS piece, freq FROM w{rounds}
)
SELECT piece, CAST(sum(freq) AS BIGINT) AS n
FROM pieces GROUP BY piece
ORDER BY n DESC, piece ASC LIMIT {top_k}"""
    )


SQL_BPE_TRAIN = _sql_bpe_train(_BPE_ROUNDS)
SQL_BPE_PIECES = _sql_bpe_pieces(_BPE_ROUNDS, 50)


def q_bpe_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The induce->apply->account loop closed on-engine (operators/
    bpe.bpe_piece_stats): learn 6 merges from the documents corpus
    (same eager loop as bpe_train), segment the vocabulary with them
    as chained JVM folds — one aggregate expression per merge, no UDF
    — and report the top-50 piece frequencies under the induced
    vocabulary. The oracle unrolls the training rounds AND the final
    application, then replays the weighted piece rollup bit-for-bit."""
    from .operators.bpe import bpe_piece_stats, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (r.lhs, r.rhs)
        for r in bpe_train(docs, n_merges=_BPE_ROUNDS)
        .orderBy("merge_rank")
        .collect()
    ]
    return bpe_piece_stats(docs, merges, top_k=50)


_UNI_ROUNDS = 2
_UNI_K = 4
_UNI_SEED = 60
_UNI_MIN = 2


def _sql_unigram_ctes(rounds: int, with_final_seg: bool) -> "tuple[list[str], str]":
    """DuckDB twin of the whole unigram_train loop, unrolled: seed
    substring vocab -> portable-ln pico scores -> per round (score
    grid join, Viterbi best fold, reconstruction fold, re-count,
    prune + char floor, re-score). The DP folds are EMITTED FROM THE
    SAME TEMPLATES the Spark side runs (operators/unigram.dp_*_expr)
    — two dialects, one generator. Returns (ctes, final_piece_table);
    ``with_final_seg`` appends a segmentation pass under the final
    vocab (table ``seg{rounds}``)."""
    from .functions.portable_math import chain_ctes, ln_ratio_steps
    from .operators.unigram import (
        SENTINEL_P,
        dp_best_expr,
        dp_pieces_expr,
        karr_str_expr,
    )

    K, seed, min_count = _UNI_K, _UNI_SEED, _UNI_MIN
    ctes: list[str] = []
    ctes.append(
        """wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         strlen(word)::INT AS wlen
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
          AS word FROM documents)
  GROUP BY word)"""
    )
    ctes.append(
        f"""cand AS (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT unnest(flatten(list_transform(range(1, {K} + 1),
      k -> list_filter(list_transform(range(1, wlen + 1),
             s -> CASE WHEN s + k - 1 <= wlen
                  THEN substr(word, s::INT, k::INT) END),
           x -> x IS NOT NULL)))) AS piece, freq
    FROM wf)
  GROUP BY piece)"""
    )
    ctes.append(
        f"""seed AS (
  SELECT piece, cnt FROM cand WHERE strlen(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM cand WHERE strlen(piece) > 1
    ORDER BY cnt DESC, piece ASC LIMIT {seed}))"""
    )

    def score_chain(src: str, tag: str) -> None:
        ctes.append(
            f"__t{tag} AS (SELECT CAST(sum(cnt) AS BIGINT) AS __tot "
            f"FROM {src})"
        )
        ctes.append(
            f"__j{tag} AS (SELECT piece, cnt, __tot FROM {src}, "
            f"__t{tag})"
        )
        block, last = chain_ctes(
            ln_ratio_steps("cnt", "__tot", "__ll", "duckdb"),
            f"__j{tag}",
            f"__l{tag}_",
        )
        ctes.append(block)
        ctes.append(
            f"p{tag} AS (SELECT piece, cnt, "
            f"CAST(floor(__ll * 1.0e12 + 0.5e0) AS BIGINT) AS score_p "
            f"FROM {last})"
        )

    def seg_pass(r: int, ptab: str) -> None:
        ctes.append(
            f"""cand{r} AS (
  SELECT word, freq, wlen, c.idx AS idx, c.piece AS piece FROM (
    SELECT word, freq, wlen,
      unnest(flatten(list_transform(range(1, wlen + 1),
        i -> list_transform(range(1, {K} + 1),
          k -> struct_pack(idx := (i - 1) * {K} + k,
                piece := CASE WHEN k <= i
                  THEN substr(word, (i - k + 1)::INT, k::INT) END)))))
        AS c
    FROM wf))"""
        )
        ctes.append(
            f"""g{r} AS (
  SELECT c.word AS word, max(c.freq) AS freq, max(c.wlen) AS wlen,
         list(coalesce(s.score_p, {SENTINEL_P}) ORDER BY c.idx) AS g
  FROM cand{r} c LEFT JOIN {ptab} s ON c.piece = s.piece
  GROUP BY c.word)"""
        )
        ctes.append(
            f"b{r} AS (SELECT *, {dp_best_expr('duckdb', K)} AS best "
            f"FROM g{r})"
        )
        ctes.append(
            f"k{r} AS (SELECT word, freq, wlen, "
            f"best[wlen + 1] AS best_p, {karr_str_expr('duckdb', K)} "
            f"AS karr_s FROM b{r})"
        )
        # the backward walk as a RECURSIVE CTE, not a list fold:
        # DuckDB 1.0's vectorized list_reduce mixes rows' lanes when
        # the step size varies within a row (see karr_str_expr's
        # lane-mixing note); plain SQL recursion has no such hazard
        # and replays Spark's fold exactly — each recursion step is
        # one walk hop, pieces reassemble ordered by end position.
        kj = "cast(substr(k.karr_s, (w.j)::INT, 1) as bigint)"
        ctes.append(
            f"""walk{r} AS (
  SELECT word, cast(wlen as bigint) AS j FROM k{r}
  UNION ALL
  SELECT w.word, w.j - {kj} AS j
  FROM walk{r} w JOIN k{r} k USING (word) WHERE w.j > 0)"""
        )
        ctes.append(
            f"""seg{r} AS (
  SELECT k.word AS word, k.freq AS freq, k.wlen AS wlen,
         k.best_p AS best_p,
         list(substr(k.word, (w.j - {kj} + 1)::INT, ({kj})::INT)
              ORDER BY w.j) AS pieces
  FROM k{r} k JOIN walk{r} w ON k.word = w.word AND w.j > 0
  GROUP BY k.word, k.freq, k.wlen, k.best_p)"""
        )

    score_chain("seed", "0")
    for r in range(rounds):
        seg_pass(r, f"p{r}")
        ctes.append(
            f"""cnt{r} AS (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT unnest(pieces) AS piece, freq FROM seg{r})
  GROUP BY piece)"""
        )
        ctes.append(
            f"""keep{r} AS (
  SELECT piece, cnt FROM cnt{r}
  WHERE strlen(piece) = 1 OR cnt >= {min_count}
  UNION ALL
  SELECT piece, 1::BIGINT AS cnt FROM (
    SELECT DISTINCT substr(word, i::INT, 1) AS piece FROM (
      SELECT word, unnest(range(1, wlen + 1)) AS i FROM wf)) ch
  ANTI JOIN (SELECT piece FROM cnt{r} WHERE strlen(piece) = 1) k
    USING (piece))"""
        )
        score_chain(f"keep{r}", str(r + 1))
    if with_final_seg:
        seg_pass(rounds, f"p{rounds}")
    return ctes, f"p{rounds}"


def _sql_unigram_train(rounds: int) -> str:
    ctes, final = _sql_unigram_ctes(rounds, with_final_seg=False)
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + f"\nSELECT piece, cnt, score_p FROM {final} "
        "ORDER BY cnt DESC, piece ASC"
    )


def _sql_unigram_segment(rounds: int, top_n: int) -> str:
    ctes, _ = _sql_unigram_ctes(rounds, with_final_seg=True)
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + f"""
SELECT word, freq, best_p,
       array_to_string(pieces, ' ') AS pieces
FROM seg{rounds} ORDER BY freq DESC, word ASC LIMIT {top_n}"""
    )


SQL_UNIGRAM_TRAIN = _sql_unigram_train(_UNI_ROUNDS)
SQL_UNIGRAM_SEGMENT = _sql_unigram_segment(_UNI_ROUNDS, 300)


def q_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-engine unigram-LM tokenizer induction (operators/unigram):
    substring seed vocab -> 2 hard-EM rounds (Viterbi fold + re-count
    + prune + portable-ln pico re-score) over the documents corpus.
    The oracle unrolls the ENTIRE loop — seed selection, every
    portable-ln chain, both DP folds per round, the prune + char
    floor — bit-for-bit (exact BIGINT pico scores end-to-end)."""
    from .operators.unigram import unigram_train

    docs = load_table(spark, sf_dir, "documents")
    return unigram_train(
        docs,
        n_rounds=_UNI_ROUNDS,
        max_piece_len=_UNI_K,
        seed_size=_UNI_SEED,
        min_count=_UNI_MIN,
    ).orderBy(F.col("cnt").desc(), F.col("piece"))


def q_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-likelihood segmentation under the induced unigram
    vocab (operators/unigram.viterbi_segment): the top-300 corpus
    words by frequency with their exact pico log-likelihood and the
    argmax piece sequence — certifying the DP forward fold AND the
    backpointer-free reconstruction against the oracle's replay of
    the same dialect-generated folds."""
    from .operators.unigram import (
        unigram_train,
        viterbi_segment,
        word_freqs,
    )

    docs = load_table(spark, sf_dir, "documents")
    final = unigram_train(
        docs,
        n_rounds=_UNI_ROUNDS,
        max_piece_len=_UNI_K,
        seed_size=_UNI_SEED,
        min_count=_UNI_MIN,
    )
    words = word_freqs(docs)
    seg = viterbi_segment(words, final, max_piece_len=_UNI_K)
    return (
        seg.select(
            "word",
            "freq",
            "best_p",
            F.array_join("pieces", " ").alias("pieces"),
        )
        .orderBy(F.col("freq").desc(), F.col("word"))
        .limit(300)
    )


def q_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-suffix blocklist gate (urltools.domain_blocklist,
    literal arm) over synthesized hosts with subdomain variety: four
    host shapes x five sites, a blocklist mixing exact hosts, parent
    domains, and a mid-label suffix — every match arm (subdomain via
    parent, exact, deep-subdomain via middle suffix, clean) fires and
    the oracle replays the label-boundary suffix expansion and the
    longest-match pick byte-for-byte."""
    from .operators.urltools import domain_blocklist

    d = F.col("doc_id")
    n = d % 5
    host = (
        F.when(d % 4 == 0, F.concat(F.lit("ads.tracker-"), n, F.lit(".example")))
        .when(d % 4 == 1, F.concat(F.lit("www.site-"), n, F.lit(".example")))
        .when(d % 4 == 2, F.concat(F.lit("site-"), n, F.lit(".example")))
        .otherwise(
            F.concat(F.lit("cdn.assets.site-"), n, F.lit(".example"))
        )
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("https://"), host, F.lit("/p/"), d).alias("url"),
    )
    return (
        domain_blocklist(
            docs,
            [
                "tracker-0.example",
                "tracker-1.example",
                "assets.site-2.example",
                "site-3.example",
            ],
        )
        .select("doc_id", "url", "blocked_domain", "blocked")
        .orderBy("doc_id")
    )


SQL_DOMAIN_BLOCKLIST = """
WITH u AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0 THEN
           'ads.tracker-' || (doc_id % 5) || '.example'
         WHEN doc_id % 4 = 1 THEN
           'www.site-' || (doc_id % 5) || '.example'
         WHEN doc_id % 4 = 2 THEN
           'site-' || (doc_id % 5) || '.example'
         ELSE 'cdn.assets.site-' || (doc_id % 5) || '.example'
    END AS host
  FROM documents
),
s AS (
  SELECT doc_id, 'https://' || host || '/p/' || doc_id AS url,
    list_filter(
      list_transform(
        range(len(string_split(host, '.'))),
        i -> array_to_string(
          list_slice(string_split(host, '.'), i + 1,
                     len(string_split(host, '.'))), '.')),
      x -> list_contains(
        ['tracker-0.example', 'tracker-1.example',
         'assets.site-2.example', 'site-3.example'], x)) AS m
  FROM u
)
SELECT doc_id, url, m[1] AS blocked_domain, len(m) > 0 AS blocked
FROM s ORDER BY doc_id
"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key (partitioning.zorder_key_int) over
    orders on (o_custkey, order-date epoch day): the per-Z-range
    envelope report — row count plus BOTH columns' min/max inside
    each contiguous Z prefix — i.e. exactly the parquet min/max
    footer stats ``write_zordered`` lays on disk for multi-column
    file skipping. The integer-exact arm (min-max uniform buckets,
    integer ``div``, shared Morton interleave) makes every bucket
    bit and every envelope SQL-replayable; tight per-range envelopes
    on BOTH columns at once are the pruning property the layout
    exists for."""
    from .operators.partitioning import zorder_key_int

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("o_day"),
    )
    z = zorder_key_int(orders, ["o_custkey", "o_day"], bits_per_col=8)
    return (
        orders.withColumn("zkey", z)
        .groupBy(F.expr("zkey div 1024").alias("z_range"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_custkey").alias("min_custkey"),
            F.max("o_custkey").alias("max_custkey"),
            F.min("o_day").alias("min_day"),
            F.max("o_day").alias("max_day"),
        )
        .orderBy("z_range")
    )


_Z_INTERLEAVE_TERMS = " + ".join(
    f"(((bc >> {b}) & 1) << {2 * b}) + (((bd >> {b}) & 1) << {2 * b + 1})"
    for b in range(8)
)

SQL_ZORDER_LAYOUT = f"""
WITH d AS (
  SELECT o_orderkey, o_custkey,
    CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
      AS o_day
  FROM orders
),
mm AS (
  SELECT min(o_custkey) AS mnc, max(o_custkey) AS mxc,
         min(o_day) AS mnd, max(o_day) AS mxd
  FROM d
),
b AS (
  SELECT o_orderkey, o_custkey, o_day,
    ((o_custkey - mnc) * 256) // (mxc - mnc + 1) AS bc,
    ((o_day - mnd) * 256) // (mxd - mnd + 1) AS bd
  FROM d, mm
),
z AS (
  SELECT o_orderkey, o_custkey, o_day,
    ({_Z_INTERLEAVE_TERMS}) AS zkey
  FROM b
)
SELECT CAST(zkey // 1024 AS BIGINT) AS z_range,
  CAST(count(*) AS BIGINT) AS n_orders,
  min(o_custkey) AS min_custkey, max(o_custkey) AS max_custkey,
  min(o_day) AS min_day, max(o_day) AS max_day
FROM z GROUP BY 1 ORDER BY 1
"""


def q_wet_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET derivation (sources/warc.wet_records): the REAL WARC
    round-trip frame (serialize -> gzip -> parse, shared with
    warc_ingest) projects into conversion records — deterministic
    conversion urn:uuids, WARC-Refers-To lineage back to the source
    response ids, markup-stripped text/plain payloads. The oracle
    replays the response-id md5, the conversion-id salt, and the
    full strip_markup chain; payload md5 certifies the extracted
    bytes bit-for-bit."""
    from .sources.warc import wet_records

    parsed = _warc_synth_parsed(spark, sf_dir)
    return (
        wet_records(parsed)
        .select(
            F.regexp_extract("url", r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "url",
            "record_type",
            "mime",
            "record_id",
            "refers_to",
            F.length("payload").cast("long").alias("text_len"),
            F.md5("payload").alias("text_md5"),
        )
        .orderBy("doc_id")
    )


SQL_WET_EXPORT = r"""
WITH src AS (
  SELECT doc_id,
    'https://crawl-' || (doc_id % 5) || '.example/' || lang
      || '/doc/' || doc_id AS url,
    '2024-01-01T'
      || lpad(CAST((doc_id % 86400) // 3600 AS VARCHAR), 2, '0') || ':'
      || lpad(CAST(((doc_id % 86400) // 60) % 60 AS VARCHAR), 2, '0')
      || ':'
      || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || 'Z' AS date,
    '<html><body>' || text || '</body></html>' AS body
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
ids AS (
  SELECT doc_id, url, date, body,
    md5(url || chr(0) || date) AS sd,
    md5(url || chr(0) || date || chr(0) || 'conversion') AS cd
  FROM src
),
clean AS (
  SELECT doc_id, url, sd, cd,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(replace(replace(
        regexp_replace(replace(body, chr(65535), ''), '<[^>]*>', ' ',
                       'g'),
        '&#39;', chr(39)), '&#38;', chr(65535)), '&nbsp;', ' '),
        '&quot;', '"'), '&lt;', '<'), '&gt;', '>'),
        '&amp;', chr(65535)), chr(65535), '&'),
      '\s+', ' ', 'g')) AS txt
  FROM ids
)
SELECT doc_id, url,
  'conversion' AS record_type,
  'text/plain' AS mime,
  '<urn:uuid:' || substr(cd, 1, 8) || '-' || substr(cd, 9, 4) || '-'
    || substr(cd, 13, 4) || '-' || substr(cd, 17, 4) || '-'
    || substr(cd, 21, 12) || '>' AS record_id,
  '<urn:uuid:' || substr(sd, 1, 8) || '-' || substr(sd, 9, 4) || '-'
    || substr(sd, 13, 4) || '-' || substr(sd, 17, 4) || '-'
    || substr(sd, 21, 12) || '>' AS refers_to,
  CAST(strlen(txt) AS BIGINT) AS text_len,
  md5(txt) AS text_md5
FROM clean ORDER BY doc_id
"""


def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning-rule bundle (operators/textstats.c4_rules) over a
    CONSTRUCTED multi-line wrapper: the corpus prose (terminated),
    a too-short line, a sub-5-word line, a javascript boilerplate
    line, and three doc_id-keyed conditional injections (lorem-ipsum
    placeholder, a curly-brace code line, a badword mention) so every
    line rule and every page rule fires across the corpus and the
    oracle replays each verdict byte-for-byte."""
    from .operators.textstats import c4_rules

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "concat(text, '.', chr(10), 'Buy now', chr(10), "
            "'Short one.', chr(10), "
            "'Please enable javascript to view this page.', chr(10), "
            "case when doc_id % 7 = 0 then concat("
            "'This layout uses lorem ipsum filler text.', chr(10)) "
            "else '' end, "
            "case when doc_id % 11 = 0 then concat("
            "'var config = { a: 1 };', chr(10)) else '' end, "
            "case when doc_id % 13 = 0 then concat("
            "'This page mentions badword1 in passing prose.', "
            "chr(10)) else '' end, "
            "'The closing line has five words here.')"
        ).alias("text"),
    )
    return c4_rules(docs, badwords=["badword1"]).orderBy("doc_id")


SQL_C4_RULES = r"""
WITH wrapped AS (
  SELECT doc_id,
    text || '.' || chr(10) || 'Buy now' || chr(10) || 'Short one.'
      || chr(10)
      || 'Please enable javascript to view this page.' || chr(10)
      || CASE WHEN doc_id % 7 = 0 THEN
           'This layout uses lorem ipsum filler text.' || chr(10)
         ELSE '' END
      || CASE WHEN doc_id % 11 = 0 THEN
           'var config = { a: 1 };' || chr(10) ELSE '' END
      || CASE WHEN doc_id % 13 = 0 THEN
           'This page mentions badword1 in passing prose.' || chr(10)
         ELSE '' END
      || 'The closing line has five words here.' AS t
  FROM documents
),
sig AS (
  SELECT doc_id, t,
    list_filter(list_transform(string_split(t, chr(10)), l -> trim(l)),
                l -> l <> '') AS lines
  FROM wrapped
),
keptc AS (
  SELECT doc_id, t, lines,
    list_filter(lines, l ->
      regexp_matches(l, '[.!?]["”'']?$')
      AND len(list_filter(string_split_regex(l, '\s+'),
                          w -> w <> '')) >= 5
      AND NOT contains(lower(l), 'javascript')) AS kept
  FROM sig
),
calc AS (
  SELECT doc_id,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(len(kept) AS BIGINT) AS n_kept_lines,
    array_to_string(kept, chr(10)) AS kept_text,
    contains(lower(t), 'lorem ipsum') AS has_lorem_ipsum,
    contains(t, '{') AS has_brace,
    regexp_matches(t,
      '(?i)(^|[^a-z0-9])(badword1)($|[^a-z0-9])') AS has_badword
  FROM keptc
)
SELECT doc_id, n_lines, n_kept_lines, kept_text,
  CAST(strlen(kept_text)
       - strlen(regexp_replace(kept_text, '[.!?]', '', 'g'))
       AS BIGINT) AS n_sentences,
  has_lorem_ipsum, has_brace, has_badword,
  (strlen(kept_text)
     - strlen(regexp_replace(kept_text, '[.!?]', '', 'g')) >= 3
   AND NOT has_lorem_ipsum AND NOT has_brace AND NOT has_badword)
    AS passes
FROM calc ORDER BY doc_id
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "rowcounts": q_rowcounts,
    "file_stats": q_file_stats,
    "table_diff": q_table_diff,
    "agg_compare": q_agg_compare,
    "psi_drift": q_psi_drift,
    "psi_drift_cat": q_psi_drift_cat,
    "skew_report": q_skew_report,
    "rowcount_filtered": q_rowcount_filtered,
    "count_compare": q_count_compare,
    "profile_lineitem": q_profile_lineitem,
    "profile_numeric": q_profile_numeric,
    "value_histogram": q_value_histogram,
    "corr_matrix": q_corr_matrix,
    "frequent_values": q_frequent_values,
    "lm_score": q_lm_score,
    "low_distinct": q_low_distinct,
    "schema_all_tables": q_schema_all_tables,
    "colcompare": q_colcompare,
    "key_checks": q_key_checks,
    "dedup_exact": q_dedup_exact,
    "token_stats": q_token_stats,
    "text_quality": q_text_quality,
    "language_id": q_language_id,
    "corpus_summary": q_corpus_summary,
    "cosine_topk": q_cosine_topk,
    "embedding_nn": q_embedding_nn,
    "events_hourly": q_events_hourly,
    "streaming_hourly_profile": q_streaming_hourly_profile,
    "streaming_dedup": q_streaming_dedup,
    "pricing_summary": q_pricing_summary,
    "top_revenue_orders": q_top_revenue_orders,
    "revenue_by_nation": q_revenue_by_nation,
    "sessionize": q_sessionize,
    "events_anomaly": q_events_anomaly,
    "streaming_anomaly": q_streaming_anomaly,
    "events_percentiles": q_events_percentiles,
    "events_window_dedup": q_events_window_dedup,
    "dq_checks": q_dq_checks,
    "salted_revenue": q_salted_revenue,
    "profile_approx": q_profile_approx,
    "events_json": q_events_json,
    "events_asof": q_events_asof,
    "quantity_tiers": q_quantity_tiers,
    "embedding_near_dups": q_embedding_near_dups,
    "events_multires_rollup": q_events_multires_rollup,
    "top_orders_per_customer": q_top_orders_per_customer,
    "rollup_revenue": q_rollup_revenue,
    "pivot_order_status": q_pivot_order_status,
    "dynamic_queries": q_dynamic_queries,
    "table_discovery": q_table_discovery,
    "minhash_near_dups": q_minhash_near_dups,
    "streaming_neardup_gate": q_streaming_neardup_gate,
    "streaming_semantic_gate": q_streaming_semantic_gate,
    "ngram_jaccard_dups": q_ngram_jaccard_dups,
    "doc_fingerprints": q_doc_fingerprints,
    "repetition_stats": q_repetition_stats,
    "hash_split": q_hash_split,
    "decontamination": q_decontamination,
    "simhash": q_simhash,
    "simhash_near_dups": q_simhash_near_dups,
    "lsh_topk": q_lsh_topk,
    "ivf_topk": q_ivf_topk,
    "keyfinder_search": q_keyfinder_search,
    "multimodal_features": q_multimodal_features,
    "resize_images": q_resize_images,
    "image_phash": q_image_phash,
    "image_phash_dups": q_image_phash_dups,
    "impute_values": q_impute_values,
    "statstore_trend": q_statstore_trend,
    "clip_values": q_clip_values,
    "cast_report": q_cast_report,
    "stratified_sample": q_stratified_sample,
    "top_ngrams": q_top_ngrams,
    "dup_ngram_frac": q_dup_ngram_frac,
    "pii_scan": q_pii_scan,
    "quality_filter": q_quality_filter,
    "curated_corpus": q_curated_corpus,
    "label_centroids": q_label_centroids,
    "kmeans_clusters": q_kmeans_clusters,
    "kmeans_sizes": q_kmeans_sizes,
    "group_cap_sample": q_group_cap_sample,
    "classifier_score": q_classifier_score,
    "temperature_sample": q_temperature_sample,
    "span_dedup": q_span_dedup,
    "chunk_documents": q_chunk_documents,
    "quantize_embeddings": q_quantize_embeddings,
    "semantic_near_dups": q_semantic_near_dups,
    "tfidf_keywords": q_tfidf_keywords,
    "minhash_clusters": q_minhash_clusters,
    "value_outliers": q_value_outliers,
    "token_budget_sample": q_token_budget,
    "cross_near_dups": q_cross_near_dups,
    "cross_dedup_index": q_cross_dedup_index,
    "dedup_first_wins": q_dedup_first_wins,
    "line_dedup": q_line_dedup,
    "sequence_pack": q_sequence_pack,
    "packed_sequences": q_packed_sequences,
    "vocab_coverage": q_vocab_coverage,
    "shuffle_shards": q_shuffle_shards,
    "vocab_drift": q_vocab_drift,
    "nb_classify": q_nb_classify,
    "embedding_dim_stats": q_embedding_dim_stats,
    "tier_eval": q_tier_eval,
    "rowgroup_stats": q_rowgroup_stats,
    "clean_embeddings": q_clean_embeddings,
    "centroid_assign": q_centroid_assign,
    "quantile_histogram": q_quantile_histogram,
    "ppl_buckets": q_ppl_buckets,
    "incremental_profile": q_incremental_profile,
    "corpus_card": q_corpus_card,
    "normalize_text": q_normalize_text,
    "event_funnel": q_event_funnel,
    "retention_cohorts": q_retention_cohorts,
    "lsh_full_probe": q_lsh_full_probe,
    "ivf_full_probe": q_ivf_full_probe,
    "mixture_sample": q_mixture_sample,
    "dedup_best_wins": q_dedup_best_wins,
    "cluster_report": q_cluster_report,
    "contamination_overlap": q_contamination_overlap,
    "char_entropy": q_char_entropy,
    "topk_per_group": q_topk_per_group,
    "edit_distance_dups": q_edit_distance_dups,
    "group_split": q_group_split,
    "blocklist": q_blocklist,
    "blocklist_phrase": q_blocklist_phrase,
    "weighted_sample": q_weighted_sample,
    "robust_outliers": q_robust_outliers,
    "feed_gaps": q_feed_gaps,
    "readability": q_readability,
    "scalable_percentiles": q_scalable_percentiles,
    "group_percentiles": q_group_percentiles,
    "bm25_search": q_bm25_search,
    "cluster_safe_split": q_cluster_safe_split,
    "gopher_rules": q_gopher_rules,
    "script_stats": q_script_stats,
    "ivf_filtered_topk": q_ivf_filtered_topk,
    "strip_markup": q_strip_markup,
    "main_content": q_main_content,
    "url_dedup": q_url_dedup,
    "audio_fp": q_audio_fp,
    "audio_fp_dups": q_audio_fp_dups,
    "packing_efficiency": q_packing_efficiency,
    "domain_stats": q_domain_stats,
    "calibration_report": q_calibration_report,
    "streaming_url_gate": q_streaming_url_gate,
    "source_matrix": q_source_matrix,
    "group_token_budget": q_group_token_budget,
    "cube_orders": q_cube_orders,
    "lm_score_bigram": q_lm_score_bigram,
    "corpus_overlap": q_corpus_overlap,
    "ivf_knn_join": q_ivf_knn_join,
    "warc_ingest": q_warc_ingest,
    "warc_hosts": q_warc_hosts,
    "streaming_warc_gate": q_streaming_warc_gate,
    "dsir_weights": q_dsir_weights,
    "dsir_select": q_dsir_select,
    "outlink_hosts": q_outlink_hosts,
    "host_pagerank": q_host_pagerank,
    "robots_gate": q_robots_gate,
    "robots_shuffle": q_robots_shuffle,
    "crawl_frontier": q_crawl_frontier,
    "sitemap_discovery": q_sitemap_discovery,
    "redirect_map": q_redirect_map,
    "sitemap_expand": q_sitemap_expand,
    "pagerank_dangling": q_pagerank_dangling,
    "cdx_roundtrip": q_cdx_roundtrip,
    "cdx_fetch": q_cdx_fetch,
    "cdx_dedup": q_cdx_dedup,
    "wat_metadata": q_wat_metadata,
    "anchor_texts": q_anchor_texts,
    "pagerank_tol": q_pagerank_tol,
    "bloom_gate": q_bloom_gate,
    "bloom_shuffle": q_bloom_shuffle,
    "streaming_bloom_gate": q_streaming_bloom_gate,
    "streaming_dsir_gate": q_streaming_dsir_gate,
    "cdx_delta": q_cdx_delta,
    "recrawl_plan": q_recrawl_plan,
    "bpe_train": q_bpe_train,
    "bpe_pieces": q_bpe_pieces,
    "c4_rules": q_c4_rules,
    "wet_export": q_wet_export,
    "zorder_layout": q_zorder_layout,
    "domain_blocklist": q_domain_blocklist,
    "unigram_train": q_unigram_train,
    "unigram_segment": q_unigram_segment,
    "streaming_domain_gate": q_streaming_domain_gate,
}

ORACLES: dict[str, str] = {
    "rowcounts": SQL_ROWCOUNTS,
    "file_stats": SQL_FILE_STATS,
    "table_diff": SQL_TABLE_DIFF,
    "agg_compare": SQL_AGG_COMPARE,
    "psi_drift": SQL_PSI_DRIFT,
    "psi_drift_cat": SQL_PSI_DRIFT_CAT,
    "skew_report": SQL_SKEW_REPORT,
    "rowcount_filtered": SQL_ROWCOUNT_FILTERED,
    "count_compare": SQL_COUNT_COMPARE,
    "profile_lineitem": SQL_PROFILE_LINEITEM,
    "profile_numeric": SQL_PROFILE_NUMERIC,
    "value_histogram": SQL_VALUE_HISTOGRAM,
    "corr_matrix": SQL_CORR_MATRIX,
    "frequent_values": SQL_FREQUENT_VALUES,
    "lm_score": SQL_LM_SCORE,
    "low_distinct": SQL_LOW_DISTINCT,
    "schema_all_tables": SQL_SCHEMA_ALL_TABLES,
    "colcompare": SQL_COLCOMPARE,
    "key_checks": SQL_KEY_CHECKS,
    "dedup_exact": SQL_DEDUP_EXACT,
    "token_stats": SQL_TOKEN_STATS,
    "text_quality": SQL_TEXT_QUALITY,
    "language_id": SQL_LANGUAGE_ID,
    "corpus_summary": SQL_CORPUS_SUMMARY,
    "cosine_topk": SQL_COSINE_TOPK,
    "embedding_nn": SQL_EMBEDDING_NN,
    "events_hourly": SQL_EVENTS_HOURLY,
    "streaming_hourly_profile": SQL_STREAMING_HOURLY_PROFILE,
    "streaming_dedup": SQL_STREAMING_DEDUP,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "top_revenue_orders": SQL_TOP_REVENUE_ORDERS,
    "revenue_by_nation": SQL_REVENUE_BY_NATION,
    "sessionize": SQL_SESSIONIZE,
    "events_anomaly": SQL_EVENTS_ANOMALY,
    "streaming_anomaly": SQL_EVENTS_ANOMALY,
    "events_percentiles": SQL_EVENTS_PERCENTILES,
    "events_window_dedup": SQL_EVENTS_WINDOW_DEDUP,
    "dq_checks": SQL_DQ_CHECKS,
    "salted_revenue": SQL_SALTED_REVENUE,
    "events_json": SQL_EVENTS_JSON,
    "events_asof": SQL_EVENTS_ASOF,
    "quantity_tiers": SQL_QUANTITY_TIERS,
    "embedding_near_dups": SQL_EMBEDDING_NEAR_DUPS,
    "events_multires_rollup": SQL_EVENTS_MULTIRES_ROLLUP,
    "top_orders_per_customer": SQL_TOP_ORDERS_PER_CUSTOMER,
    "rollup_revenue": SQL_ROLLUP_REVENUE,
    "pivot_order_status": SQL_PIVOT_ORDER_STATUS,
    "dynamic_queries": SQL_DYNAMIC_QUERIES,
    "table_discovery": SQL_TABLE_DISCOVERY,
    "minhash_near_dups": SQL_MINHASH_NEAR_DUPS,
    "streaming_neardup_gate": SQL_STREAMING_NEARDUP_GATE,
    "streaming_semantic_gate": SQL_STREAMING_SEMANTIC_GATE,
    "ngram_jaccard_dups": SQL_NGRAM_JACCARD_DUPS,
    "doc_fingerprints": SQL_DOC_FINGERPRINTS,
    "repetition_stats": SQL_REPETITION_STATS,
    "hash_split": SQL_HASH_SPLIT,
    "decontamination": SQL_DECONTAMINATION,
    "simhash": SQL_SIMHASH,
    "simhash_near_dups": SQL_SIMHASH_NEAR_DUPS,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "resize_images": SQL_RESIZE_IMAGES,
    "image_phash": SQL_IMAGE_PHASH,
    "image_phash_dups": SQL_IMAGE_PHASH_DUPS,
    "impute_values": SQL_IMPUTE_VALUES,
    "statstore_trend": SQL_STATSTORE_TREND,
    "clip_values": SQL_CLIP_VALUES,
    "cast_report": SQL_CAST_REPORT,
    "keyfinder_search": SQL_KEYFINDER_SEARCH,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "top_ngrams": SQL_TOP_NGRAMS,
    "dup_ngram_frac": SQL_DUP_NGRAM_FRAC,
    "pii_scan": SQL_PII_SCAN,
    "quality_filter": SQL_QUALITY_FILTER,
    "curated_corpus": SQL_CURATED_CORPUS,
    "label_centroids": SQL_LABEL_CENTROIDS,
    "kmeans_clusters": SQL_KMEANS_CLUSTERS,
    "kmeans_sizes": SQL_KMEANS_SIZES,
    "group_cap_sample": SQL_GROUP_CAP_SAMPLE,
    "classifier_score": SQL_CLASSIFIER_SCORE,
    "temperature_sample": SQL_TEMPERATURE_SAMPLE,
    "span_dedup": SQL_SPAN_DEDUP,
    "chunk_documents": SQL_CHUNK_DOCUMENTS,
    "quantize_embeddings": SQL_QUANTIZE_EMBEDDINGS,
    "semantic_near_dups": SQL_SEMANTIC_NEAR_DUPS,
    "tfidf_keywords": SQL_TFIDF_KEYWORDS,
    "minhash_clusters": SQL_MINHASH_CLUSTERS,
    "value_outliers": SQL_VALUE_OUTLIERS,
    "token_budget_sample": SQL_TOKEN_BUDGET,
    "cross_near_dups": SQL_CROSS_NEAR_DUPS,
    # the persisted-index twin computes the SAME pair set
    "cross_dedup_index": SQL_CROSS_NEAR_DUPS,
    "dedup_first_wins": SQL_DEDUP_FIRST_WINS,
    "line_dedup": SQL_LINE_DEDUP,
    "sequence_pack": SQL_SEQUENCE_PACK,
    "packed_sequences": SQL_PACKED_SEQUENCES,
    "vocab_coverage": SQL_VOCAB_COVERAGE,
    "shuffle_shards": SQL_SHUFFLE_SHARDS,
    "vocab_drift": SQL_VOCAB_DRIFT,
    "nb_classify": SQL_NB_CLASSIFY,
    "embedding_dim_stats": SQL_EMBEDDING_DIM_STATS,
    "tier_eval": SQL_TIER_EVAL,
    "clean_embeddings": SQL_CLEAN_EMBEDDINGS,
    "centroid_assign": SQL_CENTROID_ASSIGN,
    "quantile_histogram": SQL_QUANTILE_HISTOGRAM,
    "ppl_buckets": SQL_PPL_BUCKETS,
    "incremental_profile": SQL_INCREMENTAL_PROFILE,
    "corpus_card": SQL_CORPUS_CARD,
    "normalize_text": SQL_NORMALIZE_TEXT,
    "event_funnel": SQL_EVENT_FUNNEL,
    "retention_cohorts": SQL_RETENTION_COHORTS,
    # full-probe ANN == brute force by construction: same oracle
    "lsh_full_probe": SQL_COSINE_TOPK,
    "ivf_full_probe": SQL_COSINE_TOPK,
    "mixture_sample": SQL_MIXTURE_SAMPLE,
    "dedup_best_wins": SQL_DEDUP_BEST_WINS,
    "cluster_report": SQL_CLUSTER_REPORT,
    "contamination_overlap": SQL_CONTAMINATION_OVERLAP,
    "char_entropy": SQL_CHAR_ENTROPY,
    "topk_per_group": SQL_TOPK_PER_GROUP,
    "edit_distance_dups": SQL_EDIT_DISTANCE_DUPS,
    "group_split": SQL_GROUP_SPLIT,
    "blocklist": SQL_BLOCKLIST,
    "blocklist_phrase": SQL_BLOCKLIST_PHRASE,
    "weighted_sample": SQL_WEIGHTED_SAMPLE,
    "robust_outliers": SQL_ROBUST_OUTLIERS,
    "feed_gaps": SQL_FEED_GAPS,
    "readability": SQL_READABILITY,
    "scalable_percentiles": SQL_SCALABLE_PERCENTILES,
    "group_percentiles": SQL_GROUP_PERCENTILES,
    "bm25_search": SQL_BM25_SEARCH,
    "cluster_safe_split": SQL_CLUSTER_SAFE_SPLIT,
    "gopher_rules": SQL_GOPHER_RULES,
    "script_stats": SQL_SCRIPT_STATS,
    "ivf_filtered_topk": SQL_IVF_FILTERED_TOPK,
    "strip_markup": SQL_STRIP_MARKUP,
    "main_content": SQL_MAIN_CONTENT,
    "url_dedup": SQL_URL_DEDUP,
    "audio_fp": SQL_AUDIO_FP,
    "audio_fp_dups": SQL_AUDIO_FP_DUPS,
    "packing_efficiency": SQL_PACKING_EFFICIENCY,
    "domain_stats": SQL_DOMAIN_STATS,
    "calibration_report": SQL_CALIBRATION_REPORT,
    "streaming_url_gate": SQL_STREAMING_URL_GATE,
    "source_matrix": SQL_SOURCE_MATRIX,
    "group_token_budget": SQL_GROUP_TOKEN_BUDGET,
    "cube_orders": SQL_CUBE_ORDERS,
    "lm_score_bigram": SQL_LM_SCORE_BIGRAM,
    "corpus_overlap": SQL_CORPUS_OVERLAP,
    "ivf_knn_join": SQL_IVF_KNN_JOIN,
    "warc_ingest": SQL_WARC_INGEST,
    "warc_hosts": SQL_WARC_HOSTS,
    "streaming_warc_gate": SQL_STREAMING_WARC_GATE,
    "dsir_weights": SQL_DSIR_WEIGHTS,
    "dsir_select": SQL_DSIR_SELECT,
    "outlink_hosts": SQL_OUTLINK_HOSTS,
    "host_pagerank": SQL_HOST_PAGERANK,
    "robots_gate": SQL_ROBOTS_GATE,
    "robots_shuffle": SQL_ROBOTS_GATE,
    "crawl_frontier": SQL_CRAWL_FRONTIER,
    "sitemap_discovery": SQL_SITEMAP_DISCOVERY,
    "redirect_map": SQL_REDIRECT_MAP,
    "sitemap_expand": SQL_SITEMAP_EXPAND,
    "pagerank_dangling": SQL_PAGERANK_DANGLING,
    "cdx_roundtrip": SQL_CDX_ROUNDTRIP,
    "cdx_fetch": SQL_CDX_FETCH,
    "cdx_dedup": SQL_CDX_DEDUP,
    "wat_metadata": SQL_WAT_METADATA,
    "anchor_texts": SQL_ANCHOR_TEXTS,
    "pagerank_tol": SQL_PAGERANK_TOL,
    "bloom_gate": SQL_BLOOM_GATE,
    "bloom_shuffle": SQL_BLOOM_GATE,
    "streaming_bloom_gate": SQL_STREAMING_BLOOM_GATE,
    "streaming_dsir_gate": SQL_STREAMING_DSIR_GATE,
    "cdx_delta": SQL_CDX_DELTA,
    "recrawl_plan": SQL_RECRAWL_PLAN,
    "bpe_train": SQL_BPE_TRAIN,
    "bpe_pieces": SQL_BPE_PIECES,
    "c4_rules": SQL_C4_RULES,
    "wet_export": SQL_WET_EXPORT,
    "zorder_layout": SQL_ZORDER_LAYOUT,
    "domain_blocklist": SQL_DOMAIN_BLOCKLIST,
    "unigram_train": SQL_UNIGRAM_TRAIN,
    "unigram_segment": SQL_UNIGRAM_SEGMENT,
    "streaming_domain_gate": SQL_STREAMING_DOMAIN_GATE,
    # Remaining rows-only checks, each for a structural reason:
    # profile_approx (HLL sketch — approximate by definition), lsh_topk /
    # ivf_topk (probe-subset ANN: the pruned candidate set has no SQL twin).
}
