"""Composite-key discovery — driver-side search over cached DataFrames.

Reference behavior (dbqt/tools/keyfinder.py:111-185): enumerate column
combinations size-ascending, ID-named columns first; per candidate run a
NULL-check then a distinct-combination count (two pushdown queries,
:30-80), short-circuit on NULLs; prune supersets of found keys; stop at the
first size that yields any key (minimal keys only); guard at 50,000
combinations / 20 columns (:192, :247-254).

Spark design: the table is cached once and each candidate *size* is checked
in batched jobs — one ``groupBy().agg`` computes (null_rows, distinct_count)
for a chunk of candidates simultaneously (multi-distinct via Expand), versus
the reference's 2 queries per candidate. An optional HLL prefilter
(``approx_count_distinct``, genuinely single-scan since approx aggregates
need no Expand) cheaply rejects candidates whose distinct count is far below
the row count before any exact check — a Spark-native improvement
(SURVEY.md §7.4).
"""

from __future__ import annotations

import logging
from contextlib import nullcontext
from itertools import combinations
from math import comb

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import released

logger = logging.getLogger(__name__)

DEFAULT_MAX_COLUMNS = 20  # reference: keyfinder.py:192
DEFAULT_MAX_COMBINATIONS = 50_000  # reference: keyfinder.py:247


def is_id_column(name: str) -> bool:
    """ID-name heuristic (reference: keyfinder.py:93-101)."""
    n = name.lower()
    return n == "id" or n.endswith("_id") or n.startswith("id_") or "_id_" in n


def prioritize_id_columns(columns: list[str]) -> list[str]:
    """ID-like columns first, stable otherwise (keyfinder.py:104-108)."""
    return [c for c in columns if is_id_column(c)] + [
        c for c in columns if not is_id_column(c)
    ]


def calculate_total_combinations(n: int, max_size: int | None = None) -> int:
    """2^n - 1, or sum C(n,k) up to max_size (keyfinder.py:83-90)."""
    if max_size is None or max_size >= n:
        return 2**n - 1
    return sum(comb(n, k) for k in range(1, max_size + 1))


def _candidate_aggs(cands: list[tuple[str, ...]]) -> list:
    aggs = [F.count(F.lit(1)).alias("__total")]
    for i, cand in enumerate(cands):
        any_null = None
        for c in cand:
            cond = F.col(c).isNull()
            any_null = cond if any_null is None else (any_null | cond)
        aggs.append(F.count(F.when(any_null, F.lit(1))).alias(f"__null_{i}"))
        aggs.append(F.countDistinct(*[F.col(c) for c in cand]).alias(f"__d_{i}"))
    return aggs


def _check_batch(
    df: DataFrame, cands: list[tuple[str, ...]]
) -> list[tuple[tuple[str, ...], int, int, int]]:
    """One Spark job -> [(candidate, total, null_rows, distinct)]."""
    row = df.groupBy().agg(*_candidate_aggs(cands)).collect()[0]
    total = row["__total"]
    return [
        (cand, total, row[f"__null_{i}"], row[f"__d_{i}"])
        for i, cand in enumerate(cands)
    ]


def _approx_prefilter(
    df: DataFrame, cands: list[tuple[str, ...]], rsd: float
) -> set[int]:
    """Indices of candidates surviving the HLL screen. A candidate whose
    approx distinct count is below total*(1-4*rsd) cannot plausibly be a
    key; keep everything near the boundary (conservative — exact check
    decides)."""
    aggs = [F.count(F.lit(1)).alias("__total")]
    for i, cand in enumerate(cands):
        # hash the combo to one long: far cheaper to HLL than a concat
        # string; collision rate (~n^2/2^64) is invisible at 1% rsd
        combo = F.xxhash64(*[F.col(c) for c in cand])
        aggs.append(F.approx_count_distinct(combo, rsd).alias(f"__a_{i}"))
    row = df.groupBy().agg(*aggs).collect()[0]
    total = row["__total"]
    cutoff = total * (1 - 4 * rsd)
    return {i for i in range(len(cands)) if row[f"__a_{i}"] >= cutoff}


def find_composite_keys(
    df: DataFrame,
    columns: list[str] | None = None,
    max_size: int | None = None,
    max_columns: int = DEFAULT_MAX_COLUMNS,
    max_combinations: int = DEFAULT_MAX_COMBINATIONS,
    force: bool = False,
    batch_size: int = 16,
    approx_prefilter: bool = True,
    approx_rsd: float = 0.01,
    cache: bool = True,
) -> list[tuple[str, ...]]:
    """Return the minimal unique keys of ``df`` (reference semantics: only
    the first size with any valid key is reported, keyfinder.py:179-182).
    """
    cols = prioritize_id_columns(columns or df.columns)
    if len(cols) > max_columns:
        logger.warning(
            "Limiting analysis to first %d of %d columns", max_columns, len(cols)
        )
        cols = cols[:max_columns]
    max_size = max_size or len(cols)

    total_combos = calculate_total_combinations(len(cols), max_size)
    if total_combos > max_combinations and not force:
        raise ValueError(
            f"{total_combos} combinations exceeds guard of {max_combinations}; "
            "pass force=True to override (reference: keyfinder.py:247-254)"
        )

    try:
        # spread single-row-group inputs across the cluster before caching
        # (the distinct-count scans otherwise serialize on one task)
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < max(2, parallelism // 4):
            df = df.repartition(parallelism)
    except Exception:
        pass  # partition probing (df.rdd) can fail on exotic frames;
        # the spread is an optimization, never a correctness requirement
    with (released(df.cache()) if cache else nullcontext(df)) as df:
        found: list[tuple[str, ...]] = []
        null_reject: set[frozenset[str]] = set()
        for size in range(1, max_size + 1):
            cands = [
                cand
                for cand in combinations(cols, size)
                # superset pruning: of found keys (keyfinder.py:151-153) and
                # of null-rejected combos (a superset of a null-bearing
                # combo still has the nulls)
                if not any(set(k) <= set(cand) for k in found)
                and not any(nr <= set(cand) for nr in null_reject)
            ]
            if not cands:
                if found:
                    break
                continue

            # the HLL screen only pays when it can shrink the number of
            # exact batch jobs — for one batch worth of candidates the
            # exact check costs the same scan anyway
            if approx_prefilter and len(cands) > batch_size:
                survivors = set()
                for start in range(0, len(cands), max(batch_size, 64)):
                    chunk = cands[start : start + max(batch_size, 64)]
                    keep = _approx_prefilter(df, chunk, approx_rsd)
                    survivors.update(start + i for i in keep)
                # null-rejection still needs exact null counts for pruning;
                # only run exact checks on screen survivors
                exact_cands = [c for i, c in enumerate(cands) if i in survivors]
            else:
                exact_cands = cands

            for start in range(0, len(exact_cands), batch_size):
                chunk = exact_cands[start : start + batch_size]
                for cand, total, nulls, distinct in _check_batch(df, chunk):
                    if nulls > 0:
                        null_reject.add(frozenset(cand))  # keyfinder.py:49-54
                    elif distinct == total:
                        found.append(cand)
            if found:
                break  # minimal keys only (keyfinder.py:179-182)
        return found
