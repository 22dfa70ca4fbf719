"""Deterministic sampling / dataset-split assignment.

Beyond the reference surface (north-star LLM-pipeline operator): a
train/val/test split at 100 TB cannot be ``rand()`` — re-runs, late
data, and engine changes would reshuffle membership. The standard
answer is HASH-MOD assignment: bucket = hash(seed, id) mod M, split by
cumulative weight thresholds. Membership is then a pure function of
(seed, id) — stable across runs, engines, partitionings, and appends
(a new document lands in its split without touching old ones).

The hash is the engine-portable md5-prefix bigint (same family as
``operators.dedup.portable_token_hash``), NOT xxhash64/Murmur3 — the
split must be reproducible by any engine that can md5, and a DuckDB
oracle verifies every assignment bit-for-bit. One narrow projection:
no shuffle, no UDF, whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cache import released

HASH_BUCKETS = 10_000


def split_bucket_col(id_col: str, seed: int) -> Column:
    """Deterministic bucket in [0, HASH_BUCKETS): portable 60-bit
    md5-prefix hash (``dedup.portable_token_hash``, the single canonical
    statement of the portability contract) of ``"<seed>:<id>"`` mod
    10_000. NULL ids coalesce to the empty string BEFORE hashing —
    without it concat_ws silently drops the NULL arg (key ``"<seed>"``,
    no colon) while a ``||``-based oracle yields NULL and falls through
    to the last split: a latent cross-engine divergence (ADVICE r10)."""
    from .dedup import portable_token_hash

    key = F.concat_ws(
        ":",
        F.lit(str(seed)),
        F.coalesce(F.col(id_col).cast("string"), F.lit("")),
    )
    return (portable_token_hash(key) % HASH_BUCKETS).alias("bucket")


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: "list[tuple[str, float]] | None" = None,
    seed: int = 42,
    out_col: str = "split",
    by_col: "str | None" = None,
) -> DataFrame:
    """Assign every row a split label by hash-mod (order of ``weights``
    fixes the threshold order; weights must sum to ~1). Default
    80/10/10 train/val/test.

    ``by_col`` makes the split LEAKAGE-SAFE at a grouping boundary: the
    hash key becomes that column, so every row sharing its value (all
    docs from one domain/source, all events of one user) lands in the
    SAME split — per-doc splitting puts near-identical same-source docs on
    both sides of train/test, the classic contamination no one sees
    until eval day. Still a pure function of (seed, group value): no
    shuffle, no group materialization, append-stable. NULL group values
    form one group (hashed as the empty string)."""
    weights = weights or [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    total = sum(w for _, w in weights)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bad = [(n, w) for n, w in weights if w <= 0]
    if bad:
        # a negative weight shifts every later threshold and silently
        # empties splits; a zero weight is a label that can never occur
        raise ValueError(f"split weights must be positive, got {bad}")
    bucket = split_bucket_col(by_col or id_col, seed)
    expr = None
    cum = 0.0
    for name, w in weights[:-1]:
        cum += w
        threshold = int(round(cum * HASH_BUCKETS))
        cond = bucket < F.lit(threshold)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    last = weights[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(out_col, expr)


def mixture_sample(
    df: DataFrame,
    group_col: str,
    rates: "dict[str | None, float]",
    default_rate: float = 1.0,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Training-mix reweighting: keep each group at its configured
    sampling RATE (e.g. ``{"web": 0.3, "books": 1.0}`` on a source
    column) — the standard corpus-mixture move before training.
    Membership is the same pure-function-of-(seed, id) contract as
    ``hash_split``: a row survives iff its portable hash bucket falls
    under ``rate * HASH_BUCKETS`` for its group, so re-runs, appends,
    and engine swaps never reshuffle the kept set, and DOWN-stream
    rate changes are monotone (lowering a rate only removes rows; the
    survivors at 0.3 are a subset of the survivors at 0.5 — nested
    samples, the property ``rand()`` cannot give).

    Groups absent from ``rates`` keep ``default_rate``; a NULL group
    matches a ``None`` key. Scale shape: ONE narrow projection — the
    rate lookup is a when-chain over the (small) rates dict, no
    shuffle, no UDF, no join.
    """
    for g, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for group {g!r} must be in [0, 1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    bucket = split_bucket_col(id_col, seed)
    threshold = None
    for g, r in sorted(
        rates.items(), key=lambda kv: (kv[0] is None, kv[0] or "")
    ):
        t = F.lit(int(round(r * HASH_BUCKETS)))
        cond = (
            F.col(group_col).isNull()
            if g is None
            else F.col(group_col).eqNullSafe(F.lit(g))
        )
        threshold = (
            F.when(cond, t) if threshold is None else threshold.when(cond, t)
        )
    default_t = F.lit(int(round(default_rate * HASH_BUCKETS)))
    threshold = (
        default_t if threshold is None else threshold.otherwise(default_t)
    )
    return df.filter(bucket < threshold)


def stratified_sample(
    df: DataFrame,
    group_col: str,
    n_per_group: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-group cap: keep at most ``n_per_group`` rows per
    ``group_col`` value, chosen by the portable hash order (hash of
    ``"<seed>:<id>"`` ascending, then ``id_col``) — NOT ``rand()``. The
    per-domain/per-source cap every web pipeline applies
    (RefinedWeb/CCNet cap documents per registered domain so one
    crawler-friendly site cannot dominate the corpus). The kept set is
    a pure function of (seed, ids-in-group): stable across runs and
    engines, and any engine that can md5 (the DuckDB oracle does)
    reproduces it bit-for-bit — semantics identical to the naive
    ``row_number() OVER (PARTITION BY group ORDER BY hash, id)``.

    Scale shape — the naive window is the trap: PARTITION BY group puts
    a hot domain's every row in ONE partition. Same escape as
    ``token_budget_sample``, per group: the hash's top 12 bits form
    4096 ORDERED range-buckets; (group, bucket) counts aggregate
    map-side (skew-free); a cumulative window over the AGGREGATED frame
    (<= 4096 rows per group — bounded regardless of group size)
    classifies each bucket as wholly-kept, wholly-dropped, or THE
    boundary bucket; only boundary-bucket rows (~1/4096 of a group)
    run an exact within-bucket rank, so the largest window partition
    shrinks by 4096x. Equivalent to the naive rank by construction
    (bucket order is hash order). NULL groups form one group of their
    own (matching SQL ``PARTITION BY``).
    """
    from pyspark.sql import Window

    from .dedup import portable_token_hash

    if n_per_group <= 0:
        raise ValueError(f"n_per_group must be positive, got {n_per_group}")
    key = F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    h = portable_token_hash(key)
    # null-safe internal group key (plain equi-joins drop NULL keys)
    g = F.coalesce(
        F.concat(F.lit("v:"), F.col(group_col).cast("string")),
        F.lit("null:"),
    )
    base = df.withColumn("__h", h).withColumn(
        "__bucket", F.shiftright("__h", _BUDGET_BUCKETS_SHIFT)
    ).withColumn("__g", g)

    counts = base.groupBy("__g", "__bucket").agg(
        F.count(F.lit(1)).alias("__n")
    )
    w_cum = (
        Window.partitionBy("__g")
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = counts.select(
        "__g",
        "__bucket",
        "__n",
        F.coalesce(F.sum("__n").over(w_cum), F.lit(0)).alias("__before"),
    )
    cap = int(n_per_group)
    whole = marked.filter(F.col("__before") + F.col("__n") <= cap).select(
        "__g", "__bucket"
    )
    boundary = marked.filter(
        (F.col("__before") < cap) & (F.col("__before") + F.col("__n") > cap)
    ).select("__g", "__bucket", (cap - F.col("__before")).alias("__quota"))

    kept_whole = base.join(whole, ["__g", "__bucket"], "left_semi")
    w_rank = Window.partitionBy("__g", "__bucket").orderBy("__h", id_col)
    kept_boundary = (
        base.join(boundary, ["__g", "__bucket"])
        .withColumn("__rn", F.row_number().over(w_rank))
        .filter(F.col("__rn") <= F.col("__quota"))
        .drop("__rn", "__quota")
    )
    return kept_whole.unionByName(kept_boundary).select(*df.columns)


# ordered range-buckets for the token-budget prefix: top 12 bits of the
# 60-bit portable hash, so bucket order IS hash order
_BUDGET_BUCKETS_SHIFT = 48
_BUDGET_BUCKETS = 1 << 12


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    tokenizer=None,
) -> DataFrame:
    """Deterministic subsample holding the LARGEST hash-order prefix of
    the corpus whose whitespace-token total stays within
    ``budget_tokens`` — "give me a 1B-token sample" as a pure function
    of (seed, corpus), stable across runs and engines.

    The naive form is a global running sum over hash order — a
    single-partition window, dead at scale. Here the 60-bit portable
    hash's top 12 bits form 4096 ORDERED range-buckets: per-bucket
    token sums aggregate distributed (one tiny shuffle), the driver
    prefix-sums 4096 longs to locate the boundary bucket, buckets
    before it are kept whole with no window at all, and only the ONE
    boundary bucket (1/4096 of the corpus in expectation) runs an exact
    within-bucket running sum. Equivalent to the global cumulative by
    construction (bucket order is hash-order); the DuckDB oracle runs
    the naive global window and matches bit-for-bit.

    ``tokenizer=`` (see ``functions.tokenize.resolve_token_counter``)
    swaps the whitespace count for real tokenizer tokens — budgets are
    BPE-denominated in practice; the selection logic, hash order, and
    plan shape are unchanged (the counter is one Arrow batch map inside
    the same scan).
    """
    from pyspark.sql import Window

    from ..functions.tokenize import resolve_token_counter
    from .dedup import portable_token_hash
    from .textstats import tokens_col

    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    key = F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    h = portable_token_hash(key)
    counter = resolve_token_counter(tokenizer)
    n_tokens = (
        counter(F.col(text_col))
        if counter is not None
        else F.size(tokens_col(F.coalesce(F.col(text_col), F.lit(""))))
    ).cast("long")
    base = df.select(
        F.col(id_col),
        h.alias("__h"),
        # exact integer shift — a double division could round an h
        # sitting within one ulp of a bucket boundary into the wrong
        # bucket
        F.shiftright(h, _BUDGET_BUCKETS_SHIFT).alias("__bucket"),
        n_tokens.alias("n_tokens"),
    )

    bucket_rows = sorted(
        (r["__bucket"], r["__s"])
        for r in base.groupBy("__bucket")
        .agg(F.sum("n_tokens").alias("__s"))
        .collect()
    )
    cum = 0
    boundary_bucket, boundary_base = None, 0
    last_full = -1
    for b, s in bucket_rows:
        if cum + s <= budget_tokens:
            cum += s
            last_full = b
            continue
        boundary_bucket, boundary_base = b, cum
        break

    kept_whole = base.filter(F.col("__bucket") <= F.lit(last_full))
    if boundary_bucket is None:
        return kept_whole.select(id_col, "n_tokens").orderBy(id_col)
    w = Window.partitionBy("__bucket").orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    boundary = (
        base.filter(F.col("__bucket") == F.lit(boundary_bucket))
        .withColumn("__cum", F.sum("n_tokens").over(w))
        .filter(F.col("__cum") + F.lit(boundary_base) <= budget_tokens)
    )
    return (
        kept_whole.select(id_col, "n_tokens")
        .unionByName(boundary.select(id_col, "n_tokens"))
        .orderBy(id_col)
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Temperature-based mixture rebalancing: sample group g at rate
    ``(n_min / n_g) ** (1 - alpha)`` — the standard multilingual /
    multi-source balancing move (mBERT/mT5 exponential smoothing;
    alpha=1 keeps the natural distribution, alpha=0 flattens every
    group down to the smallest's size, alpha~0.5 is the common
    compromise). Down-sampling only (no replication): the smallest
    group always keeps rate 1.

    Rates derive from EXACT group counts (one small aggregate collected
    to the driver — O(groups) rows), then membership delegates to
    ``mixture_sample``'s portable-hash threshold, inheriting its
    determinism and nested-sample contracts. With the default
    alpha=0.5 the rate is sqrt(n_min/n_g): sqrt is correctly-rounded
    IEEE, so any engine derives the identical thresholds from the same
    counts — the DuckDB oracle recomputes them from scratch. (Other
    alphas go through pow(), whose last-ulp behavior is libm-specific;
    fine in practice, but the bit-for-bit oracle contract is stated
    for alpha=0.5.)

    Scale shape: one map-side-combined groupBy(group) count + one
    narrow filter projection — no corpus shuffle, no join.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    counts = {
        r["g"]: r["n"]
        for r in df.groupBy(F.col(group_col).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not counts:
        return df
    n_min = min(counts.values())
    rates = {
        g: (float(n_min) / n) ** (1.0 - alpha) for g, n in counts.items()
    }
    return mixture_sample(
        df,
        group_col=group_col,
        rates=rates,
        default_rate=1.0,
        id_col=id_col,
        seed=seed,
    )


# exclusive upper bound of the 60-bit portable hash space
_HASH_SPACE = 1 << 60


def topk_per_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 42,
    max_window_rows: int = 1_000_000,
    max_rounds: int = 8,
    broadcast_descriptors: bool = True,
    descending: bool = True,
    stats: "dict | None" = None,
) -> DataFrame:
    """EXACT deterministic top-``k`` rows per group by score — "keep
    the best N docs per domain", the quality-ordered counterpart of
    ``stratified_sample``'s hash-ordered cap (FineWeb-Edu keeps the
    top classifier-scored docs per source; DQ dashboards keep the top
    offenders per table). Kept set = first ``k`` rows per group under
    the total order (score DESC, portable-hash ASC, id ASC) — ties
    break by the md5 hash (unbiased among equal scores, the same
    engine-portable hash as ``hash_split``), then id, so the result is
    a pure function of (seed, data) and any engine reproduces it. NULL
    and NaN scores are NOT eligible (a row with no score cannot
    compete for a top-by-score slot); coalesce upstream to include
    them.

    Scale shape — the naive ``row_number() OVER (PARTITION BY group
    ORDER BY score DESC)`` puts a hot group's every row in ONE
    partition. Here the contested region per group is narrowed by
    LEXICOGRAPHIC-INTERVAL refinement over the composite sort key
    (score', hash): each round buckets the contested interval into
    4096 equi-width ranges on whichever component still has spread
    (score while it varies; the HASH once scores are all tied — the
    realistic killer, since integer quality scores make entire groups
    one tie), classifies buckets against the remaining quota with a
    cumulative window over the AGGREGATED (group, bucket) frame
    (<= 4096 rows per group at ANY group size), emits the wholly-kept
    prefix as ONE interval descriptor per group per round, and
    recurses only into the ONE edge bucket per group. Interval
    endpoints are actual data values in their native types (double
    score / long hash) — the double-space bucket math only has to be
    MONOTONE (it decides efficiency, never membership), so no
    float-edge ambiguity reaches the answer. A contested cell that
    fits ``max_window_rows`` (or survives ``max_rounds``) finishes
    with an exact row_number window bounded by that cell's size,
    ordered (score', hash, id) — which degenerates correctly to
    (hash, id) for all-tied cells and to (id) under identical-hash
    pathology. Realistic data converges in 1-3 rounds.

    Passes over the input: per-round candidate joins BROADCAST the
    tiny descriptor frames against a persisted projection of the
    input; only descriptors (<= 1 row per group per round) are
    checkpointed — the kept OUTPUT is never materialized (for a cap
    operator it can be corpus-sized). ``stats`` records ``rounds``,
    ``final_cells``, ``final_rows_max``."""
    from pyspark.sql import Window

    from .dedup import portable_token_hash

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if max_rounds < 0:
        raise ValueError(f"max_rounds must be >= 0, got {max_rounds}")
    def _bc(frame):
        return F.broadcast(frame) if broadcast_descriptors else frame

    score_d = F.col(score_col).cast("double")
    hkey = F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    base = (
        df.filter(score_d.isNotNull() & ~F.isnan(score_d))
        .withColumn(
            "__g",
            F.coalesce(
                F.concat(F.lit("v:"), F.col(group_col).cast("string")),
                F.lit("null:"),
            ),
        )
        # ascending __kd == score DESC (top-k) or ASC (bottom-k)
        .withColumn("__kd", -score_d if descending else score_d)
        .withColumn("__kh", portable_token_hash(hkey))
    )
    with released(base.persist()):
        # cells: the contested lex interval per group, CLOSED on both ends,
        # with its row count and remaining quota. Round 0 = actual bounds.
        cells = (
            base.groupBy("__g")
            .agg(
                F.min("__kd").alias("lo_d"),
                F.max("__kd").alias("hi_d"),
                F.min("__kh").alias("lo_h"),
                F.max("__kh").alias("hi_h"),
                F.count(F.lit(1)).alias("n"),
            )
            .withColumn("quota", F.lit(int(k)).cast("long"))
            .localCheckpoint()
        )

        def lex_within(lo_d, lo_h, hi_d, hi_h):
            """(kd, kh) inside the CLOSED interval
            [(lo_d,lo_h),(hi_d,hi_h)]."""
            ge = (F.col("__kd") > F.col(lo_d)) | (
                (F.col("__kd") == F.col(lo_d)) & (F.col("__kh") >= F.col(lo_h))
            )
            le = (F.col("__kd") < F.col(hi_d)) | (
                (F.col("__kd") == F.col(hi_d)) & (F.col("__kh") <= F.col(hi_h))
            )
            return ge & le

        kept_descs = []  # closed-lo / OPEN-hi fully-kept intervals
        final_cells = []
        rounds = 0
        while True:
            # groups whose whole contested cell fits the quota: keep it all
            kept_descs.append(
                cells.filter(F.col("n") <= F.col("quota")).select(
                    "__g",
                    "lo_d",
                    "lo_h",
                    F.col("hi_d").alias("ho_d"),
                    (F.col("hi_h") + 1).alias("ho_h"),  # open hi past the max
                )
            )
            contested = cells.filter(F.col("n") > F.col("quota"))
            degenerate = (F.col("lo_d") == F.col("hi_d")) & (
                F.col("lo_h") == F.col("hi_h")
            )
            finish = (
                (F.col("n") <= F.lit(int(max_window_rows)))
                | degenerate
                | F.lit(rounds >= max_rounds)
            )
            final_cells.append(contested.filter(finish))
            active = contested.filter(~finish)
            if active.isEmpty():
                break
            rounds += 1
            cand = base.join(_bc(active), "__g").filter(
                lex_within("lo_d", "lo_h", "hi_d", "hi_h")
            )
            # split on the score while it has spread, else on the hash;
            # floor width at the smallest positive double so an
            # ulp-separated range never divides 0/0 into NaN
            use_d = F.col("lo_d") < F.col("hi_d")
            comp = F.when(use_d, F.col("__kd")).otherwise(
                F.col("__kh").cast("double")
            )
            clo = F.when(use_d, F.col("lo_d")).otherwise(
                F.col("lo_h").cast("double")
            )
            chi = F.when(use_d, F.col("hi_d")).otherwise(
                F.col("hi_h").cast("double")
            )
            width = F.greatest((chi - clo) / F.lit(4096.0), F.lit(4.9e-324))
            bucket = F.least(
                F.lit(4095),
                F.greatest(F.lit(0), F.floor((comp - clo) / width)),
            ).cast("int")
            agg = cand.groupBy("__g", bucket.alias("__b")).agg(
                F.count(F.lit(1)).alias("bn"),
                F.min("__kd").alias("b_min_d"),
                F.max("__kd").alias("b_max_d"),
                F.min("__kh").alias("b_min_h"),
                F.max("__kh").alias("b_max_h"),
            )
            w_cum = (
                Window.partitionBy("__g")
                .orderBy("__b")
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            marked = agg.withColumn(
                "before", F.coalesce(F.sum("bn").over(w_cum), F.lit(0))
            ).join(
                active.select(
                    "__g",
                    F.col("lo_d").alias("c_lo_d"),
                    F.col("lo_h").alias("c_lo_h"),
                    "quota",
                ),
                "__g",
            )
            # the EDGE bucket: first whose cumulative crosses the quota
            # (always exists — the cell has n > quota)
            w_edge = Window.partitionBy("__g").orderBy("__b")
            edge = (
                marked.filter(F.col("before") + F.col("bn") > F.col("quota"))
                .withColumn("__rn", F.row_number().over(w_edge))
                .filter(F.col("__rn") == 1)
                .localCheckpoint()
            )
            # everything lex-below the edge bucket's first row is kept.
            # Bucket ids are a monotone function of the split component, so
            # the kept prefix is exactly {kd < b_min_d} for a score split
            # and {kh < b_min_h at the tied score} for a hash split; when a
            # score-split edge bucket happens to hold one score value the
            # hash form is equivalent on actual rows (no row below its min).
            was_tied = F.col("b_min_d") == F.col("b_max_d")
            kept_descs.append(
                edge.select(
                    "__g",
                    F.col("c_lo_d").alias("lo_d"),
                    F.col("c_lo_h").alias("lo_h"),
                    F.col("b_min_d").alias("ho_d"),
                    F.when(was_tied, F.col("b_min_h"))
                    .otherwise(F.lit(0).cast("long"))
                    .alias("ho_h"),
                )
            )
            # recurse into the edge bucket only where quota remains; its
            # closed interval is the bucket's ACTUAL min/max in each
            # component (a bucket is value-contiguous by monotonicity)
            cells = (
                edge.filter(F.col("before") < F.col("quota"))
                .select(
                    "__g",
                    F.col("b_min_d").alias("lo_d"),
                    F.col("b_max_d").alias("hi_d"),
                    F.when(was_tied, F.col("b_min_h"))
                    .otherwise(F.lit(0).cast("long"))
                    .alias("lo_h"),
                    F.when(was_tied, F.col("b_max_h"))
                    .otherwise(F.lit(_HASH_SPACE).cast("long"))
                    .alias("hi_h"),
                    F.col("bn").alias("n"),
                    (F.col("quota") - F.col("before")).alias("quota"),
                )
            )

        finals = final_cells[0]
        for part in final_cells[1:]:
            finals = finals.unionByName(part)
        kept = kept_descs[0]
        for part in kept_descs[1:]:
            kept = kept.unionByName(part)
        if stats is not None:
            fr = finals.agg(
                F.count(F.lit(1)).alias("c"), F.max("n").alias("m")
            ).collect()[0]
            stats["rounds"] = rounds
            stats["final_cells"] = fr["c"]
            stats["final_rows_max"] = fr["m"]

        # kept intervals: closed lo, OPEN hi
        lex_ge_lo = (F.col("__kd") > F.col("lo_d")) | (
            (F.col("__kd") == F.col("lo_d")) & (F.col("__kh") >= F.col("lo_h"))
        )
        lex_lt_open = (F.col("__kd") < F.col("ho_d")) | (
            (F.col("__kd") == F.col("ho_d")) & (F.col("__kh") < F.col("ho_h"))
        )
        kept_rows = base.join(_bc(kept), "__g").filter(
            lex_ge_lo & lex_lt_open
        )
        w_fin = Window.partitionBy("__g").orderBy("__kd", "__kh", id_col)
        final_rows = (
            base.join(_bc(finals), "__g")
            .filter(lex_within("lo_d", "lo_h", "hi_d", "hi_h"))
            .withColumn("__rn", F.row_number().over(w_fin))
            .filter(F.col("__rn") <= F.col("quota"))
        )
        out = kept_rows.select(*df.columns).unionByName(
            final_rows.select(*df.columns)
        )
        return out


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Per-ROW importance sampling: keep each row with probability =
    its own ``weight_col`` value (clamped to [0, 1]; NULL = 0) — the
    per-document generalization of ``mixture_sample``'s per-group
    rates. The standard move when a quality/recency score should bias
    the kept set smoothly instead of a hard threshold (FineWeb-style
    soft quality sampling, recency-weighted replay buffers).

    Same determinism contract as the whole sampler family: a row
    survives iff its 60-bit portable hash < floor(weight * 2^60), so
    membership is a pure function of (seed, id, weight) — append-
    stable, engine-portable (floor() is exact IEEE in any engine;
    never a double->int CAST, whose rounding mode differs across
    engines), and MONOTONE in the weight: raising a doc's weight only
    ever adds it, so re-weighted corpora are nested. Scale shape: one
    narrow projection, no shuffle, no UDF, no join."""
    w = F.least(
        F.lit(1.0),
        F.greatest(
            F.lit(0.0), F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0))
        ),
    )
    from .dedup import portable_token_hash

    key = F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    threshold = F.floor(w * F.lit(float(_HASH_SPACE))).cast("long")
    return df.filter(portable_token_hash(key) < threshold)


def group_token_budget_sample(
    df: DataFrame,
    group_col: str,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    tokenizer=None,
) -> DataFrame:
    """PER-GROUP token budget: within every ``group_col`` value keep
    the largest hash-order prefix whose token total stays within
    ``budget_tokens`` — "at most 1B tokens per source", the budget
    counterpart of ``stratified_sample``'s row cap (token budgets, not
    doc counts, are what training mixes are denominated in). Same
    prefix contract as ``token_budget_sample``: membership is a pure
    function of (seed, group contents); a doc that would overflow the
    remaining budget BLOCKS the prefix (deterministic, engine-
    reproducible — not a knapsack).

    Scale shape — the per-group version of the global sampler's
    4096-bucket prefix, but SET-WISE (the global version's driver
    collect would be O(groups x 4096) rows here): per-(group, bucket)
    token sums aggregate map-side, the cumulative classification runs
    over the AGGREGATED frame (<= 4096 rows per group at any group
    size), wholly-kept buckets semi-join back with no window at all,
    and only the ONE boundary bucket per group (~1/4096 of the group)
    runs an exact within-bucket running sum. ``tokenizer`` follows the
    shared hook contract (whitespace default; callable / hf:<name> /
    built-in BPE)."""
    from pyspark.sql import Window

    from ..functions.tokenize import resolve_token_counter
    from .dedup import portable_token_hash
    from .textstats import tokens_col

    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    key = F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    h = portable_token_hash(key)
    counter = resolve_token_counter(tokenizer)
    n_tokens = (
        counter(F.col(text_col))
        if counter is not None
        else F.size(tokens_col(F.coalesce(F.col(text_col), F.lit(""))))
    ).cast("long")
    g = F.coalesce(
        F.concat(F.lit("v:"), F.col(group_col).cast("string")),
        F.lit("null:"),
    )
    base = df.select(
        F.col(id_col),
        F.col(group_col),
        g.alias("__g"),
        h.alias("__h"),
        F.shiftright(h, _BUDGET_BUCKETS_SHIFT).alias("__bucket"),
        n_tokens.alias("n_tokens"),
    )
    counts = base.groupBy("__g", "__bucket").agg(
        F.sum("n_tokens").alias("__s")
    )
    w_cum = (
        Window.partitionBy("__g")
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = counts.select(
        "__g",
        "__bucket",
        "__s",
        F.coalesce(F.sum("__s").over(w_cum), F.lit(0)).alias("__before"),
    )
    budget = int(budget_tokens)
    whole = marked.filter(
        F.col("__before") + F.col("__s") <= budget
    ).select("__g", "__bucket")
    boundary = marked.filter(
        (F.col("__before") < budget)
        & (F.col("__before") + F.col("__s") > budget)
    ).select("__g", "__bucket", (budget - F.col("__before")).alias("__q"))
    kept_whole = base.join(whole, ["__g", "__bucket"], "left_semi")
    w_run = (
        Window.partitionBy("__g", "__bucket")
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept_boundary = (
        base.join(boundary, ["__g", "__bucket"])
        .withColumn("__run", F.sum("n_tokens").over(w_run))
        .filter(F.col("__run") <= F.col("__q"))
        .drop("__run", "__q")
    )
    return (
        kept_whole.unionByName(kept_boundary)
        .select(id_col, group_col, "n_tokens")
        .orderBy(id_col)
    )


def cluster_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: "list[tuple[str, float]] | None" = None,
    seed: int = 42,
    out_col: str = "split",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Train/val/test split that is LEAKAGE-SAFE at NEAR-DUPLICATE
    boundaries: the split key is each document's near-dup CLUSTER
    representative (minimum reachable id through the ``pairs`` graph —
    ``clusters.connected_components``), so every member of a near-dup
    cluster lands in the SAME split. ``hash_split(by_col=...)`` stops
    leakage at a metadata boundary (domain, source); this stops it at
    the CONTENT boundary the dedup tiers actually measure — the
    canonical eval-contamination failure is a near-identical pair
    straddling train/test that no source column reveals.

    ``pairs`` is any near-dup pair frame (MinHash / SimHash / semantic
    / edit-distance tiers all produce one), so the leakage definition
    is exactly the tier's similarity definition. Docs in no pair key on
    their own id — identical to ``hash_split``. Membership stays a
    pure function of (seed, cluster representative): append-stable for
    new SINGLETON docs; a new doc that joins an existing cluster
    adopts that cluster's split (its representative), and only a pair
    MERGING two existing clusters can move previously-assigned rows —
    the unavoidable price of the no-straddle invariant.

    Scale shape: components resolve via the hybrid driver/distributed
    walk (bounded pair sets — the dedup-tier contract — localize), one
    left join attaches representatives, and the split itself is the
    same no-shuffle hash-mod projection as ``hash_split``."""
    from .clusters import connected_components

    comp = connected_components(pairs, id_a=id_a, id_b=id_b).select(
        F.col("id").alias("__cc_id"),
        F.col("cluster_id").alias("__cc_rep"),
    )
    joined = df.join(
        comp, F.col(id_col).eqNullSafe(F.col("__cc_id")), "left"
    ).withColumn(
        "__split_key",
        F.coalesce(F.col("__cc_rep"), F.col(id_col)).cast("string"),
    )
    out = hash_split(
        joined, id_col=id_col, weights=weights, seed=seed,
        out_col=out_col, by_col="__split_key",
    )
    return out.drop("__cc_id", "__cc_rep", "__split_key")


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    seed: int = 42,
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic GLOBAL TRAINING-ORDER SHUFFLE, sharded: every row
    gets (shard, pos) such that reading shards in order and rows by
    ``pos`` within each shard visits the corpus in a reproducible
    pseudo-random permutation — the materialized form of the "shuffle
    once, stream forever" step before pretraining. ``rand()`` cannot do
    this (re-runs reshuffle); sorting by a salted builtin hash cannot
    either (executor-dependent). The permutation key is the portable
    md5-prefix hash of ``"<seed>:<id>"`` (``hash_split``'s family), so
    ANY engine reproduces the exact same order and a DuckDB oracle
    verifies every (shard, pos) bit-for-bit.

    Scale shape: one narrow projection computes the hash, one shuffle
    on the shard key, and per-shard ``row_number`` windows bounded at
    ~n/n_shards rows each — ``n_shards`` is the parallelism knob (a
    100 TB corpus wants tens of thousands; each shard is one training
    data file). Ties (60-bit hash collisions) break on the id, keeping
    the order total."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from pyspark.sql import Window

    from .dedup import portable_token_hash

    h = portable_token_hash(
        F.concat_ws(
            ":",
            F.lit(str(seed)),
            F.coalesce(F.col(id_col).cast("string"), F.lit("")),
        )
    )
    w = Window.partitionBy(shard_col).orderBy("__h", id_col)
    return (
        df.withColumn("__h", h)
        .withColumn(
            shard_col, (F.col("__h") % F.lit(int(n_shards))).cast("long")
        )
        .withColumn(
            pos_col, (F.row_number().over(w) - F.lit(1)).cast("long")
        )
        .drop("__h")
    )
