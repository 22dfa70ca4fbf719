"""End-to-end corpus curation: the standard training-data pipeline as
ONE composed DataFrame plan.

Beyond the reference surface (BASELINE.json north star). Stage order is
the one large-corpus pipelines converge on, cheapest-filter-first so
each later (more expensive) stage sees fewer rows:

    1. quality gate     — per-group exact-quantile threshold
                          (textstats.quality_quantile_filter)
    2. dedup            — md5 keep-min-id (dedup.dedup_exact) or
                          MinHash near-dup with transitive cluster
                          resolution, one representative per component
                          (dedup.minhash_near_duplicates +
                          clusters.connected_components)
    3. decontamination  — optional n-gram overlap removal against an
                          eval set (contamination.decontaminate)
    4. PII redaction    — ordered regexp masking (redact.redact_pii)
    5. split assignment — portable hash-mod (sampling.hash_split)

Every stage is a narrow declarative transformation, so Catalyst fuses
the whole chain: the corpus is scanned ONCE, shuffled only where a
stage semantically requires it (the dedup groupBy; the quality
thresholds are a broadcast, redaction and split are pure maps). The
result is deterministic — a pure function of (corpus, config, seed) —
which is what makes 100 TB curation re-runnable and auditable.
"""

from __future__ import annotations

from contextlib import ExitStack
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import released


@dataclass
class CurateConfig:
    quality_quantile: float = 0.5
    group_col: str = "lang"
    text_col: str = "text"
    id_col: str = "doc_id"
    dedup: str = "exact"  # "exact" | "minhash" | "none"
    minhash_threshold: float = 0.8
    redact: bool = True
    seed: int = 42
    split_weights: "list[tuple[str, float]]" = field(
        default_factory=lambda: [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    )
    # optional benchmark-decontamination stage: a frame of eval/benchmark
    # texts; corpus docs sharing a decontam_n-gram with it are removed
    eval_df: "DataFrame | None" = None
    decontam_n: int = 13
    # optional model-based quality filter (operators/classifier.py):
    # a {token: weight} linear model; docs scoring below
    # classifier_threshold are dropped (FineWeb-Edu-style top band)
    classifier_weights: "dict[str, float] | None" = None
    classifier_threshold: float = 0.5
    classifier_bias: float = 0.0
    # optional duplicated-span surgery (operators/linededup.py,
    # ExactSubstr): spans of span_k tokens occurring >= 2 times
    # corpus-wide are removed AFTER document-level dedup (the C4
    # ordering — doc dedup first, then intra-text surgery)
    span_k: "int | None" = None
    # optional C4-style blocklist gate (operators/redact.py): docs
    # containing any listed word (token-boundary, case-insensitive)
    # are dropped BEFORE the quality gate — C4 applies its bad-words
    # filter as a hard pre-gate, and dropping first keeps blocked docs
    # out of the quality-quantile estimate
    blocklist: "list[str] | None" = None
    blocklist_mode: str = "token"
    # optional Gopher structural gate (operators/textstats.
    # gopher_rules): docs failing the rule bundle are dropped BEFORE
    # the quality-quantile gate (same reasoning as the blocklist —
    # structurally-broken docs must not shape the quantile
    # thresholds). The dict overrides individual thresholds
    # (e.g. {"min_words": 20}); {} applies the paper defaults.
    gopher: "dict | None" = None
    # optional C4 line/page cleaning gate (operators/textstats.
    # c4_rules): line-level rules REWRITE the text (only retained
    # lines survive) and the page rules hard-drop — positioned right
    # after main-content extraction, before every other gate, so
    # later stages see the retained prose (the C4 ordering). The dict
    # overrides thresholds (e.g. {"min_sentences": 2, "badwords":
    # [...]}); {} applies the paper defaults.
    c4: "dict | None" = None
    # optional main-content extraction (operators/normalize.
    # extract_main_content): boilerplate removal runs FIRST — raw
    # HTML must become prose before any text gate sees it (nav/footer
    # link text would otherwise poison quality scores, dedup
    # shingles, and blocklist hits). The dict overrides the
    # extractor's thresholds (e.g. {"min_text_chars": 30}); {}
    # applies the defaults.
    extract_main: "dict | None" = None


def curate(df: DataFrame, config: CurateConfig | None = None) -> DataFrame:
    """Run the curation chain; returns the surviving rows
    with ``quality_score``, ``split``, and (if enabled) the redacted
    text appended. Original columns are preserved."""
    from .contamination import decontaminate
    from .dedup import dedup_exact, minhash_near_duplicates
    from .redact import redact_pii
    from .sampling import hash_split
    from .textstats import quality_quantile_filter

    cfg = config or CurateConfig()
    if cfg.dedup not in ("exact", "minhash", "none"):
        raise ValueError(f"unknown dedup mode {cfg.dedup!r}")

    # -1. optional main-content extraction: raw HTML -> prose before
    # ANY gate (a pure narrow map, so it fuses into the single scan)
    if cfg.extract_main is not None:
        from .normalize import extract_main_content

        df = extract_main_content(
            df, text_col=cfg.text_col, **cfg.extract_main
        )

    # -0.5. optional C4 line/page gate: line rules rewrite the text
    # (kept lines only), page rules hard-drop — all in the SAME
    # narrow map via passthrough (no id join-back, no shuffle)
    if cfg.c4 is not None:
        from .textstats import c4_rules

        df = (
            c4_rules(
                df, text_col=cfg.text_col, id_col=cfg.id_col,
                passthrough=True, **cfg.c4
            )
            .filter(F.col("passes"))
            .drop(cfg.text_col)
            .withColumnRenamed("kept_text", cfg.text_col)
            .drop(
                "n_lines", "n_kept_lines", "n_sentences",
                "has_lorem_ipsum", "has_brace", "has_badword",
                "passes",
            )
        )

    # 0. optional blocklist pre-gate (C4 bad-words shape): hard drop
    # before anything else so blocked docs never influence the
    # quality-quantile thresholds
    if cfg.blocklist is not None:
        from .redact import blocklist_drop

        df = blocklist_drop(
            df, cfg.blocklist, text_col=cfg.text_col,
            id_col=cfg.id_col, mode=cfg.blocklist_mode,
        )

    # 0b. optional Gopher structural pre-gate: same hard-drop position
    # as the blocklist — a semi-join on passing ids keeps the chain's
    # single-scan shape (the rules frame is a narrow projection)
    if cfg.gopher is not None:
        from .textstats import gopher_rules

        passing = gopher_rules(
            df, text_col=cfg.text_col, id_col=cfg.id_col, **cfg.gopher
        ).filter(F.col("passes")).select(cfg.id_col)
        df = df.join(passing, cfg.id_col, "left_semi")

    # 1. quality gate — keep_all scores the full rows inline and
    # filters against the broadcast thresholds, so the corpus is never
    # joined against itself on the id (one scan feeds the chain; the
    # only other corpus read is the thresholds aggregate)
    kept = quality_quantile_filter(
        df,
        quantile=cfg.quality_quantile,
        group_col=cfg.group_col,
        text_col=cfg.text_col,
        id_col=cfg.id_col,
        keep_all=True,
    )

    # 1b. optional model-based quality filter — the trained-classifier
    # band on top of the heuristic gate (broadcast weight join + one
    # doc-keyed semi-join; see operators/classifier.py)
    if cfg.classifier_weights is not None:
        from .classifier import classifier_filter

        kept = classifier_filter(
            kept,
            cfg.classifier_weights,
            threshold=cfg.classifier_threshold,
            bias=cfg.classifier_bias,
            text_col=cfg.text_col,
            id_col=cfg.id_col,
        )

    # 2. dedup — exact (md5 keep-min-id) or MinHash near-dup with
    # TRANSITIVE cluster resolution: verified pairs -> connected
    # components (clusters.connected_components — driver union-find
    # when the pair set is bounded, distributed propagation otherwise)
    # -> keep only each cluster's min-id representative. Transitivity
    # matters: for pairs (1,5),(2,5) the naive drop-larger-id rule
    # would keep both 1 and 2 even though they near-duplicate via 5.
    # The drop frame is corpus-dependent-sized, so it anti-joins by
    # shuffle, never broadcast.
    if cfg.dedup == "exact":
        kept = dedup_exact(kept, text_col=cfg.text_col, id_col=cfg.id_col)
    elif cfg.dedup == "minhash":
        from .clusters import connected_components

        pairs = minhash_near_duplicates(
            kept,
            text_col=cfg.text_col,
            id_col=cfg.id_col,
            threshold=cfg.minhash_threshold,
        )
        with released(pairs):
            comp = connected_components(pairs)
        drop = comp.filter(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias(cfg.id_col)
        )
        kept = kept.join(drop, cfg.id_col, "left_anti")

    # 2b. optional duplicated-span surgery AFTER doc-level dedup (C4
    # ordering): removes the cross-doc boilerplate spans dedup's
    # doc-granularity can't touch. n_removed_tokens rides along as
    # observability.
    if cfg.span_k is not None:
        from .linededup import duplicate_span_removal

        kept = duplicate_span_removal(
            kept, k=cfg.span_k, text_col=cfg.text_col, id_col=cfg.id_col
        )

    # 3. optional benchmark decontamination (broadcast eval n-gram
    # hashes; the corpus side never shuffles)
    if cfg.eval_df is not None:
        kept = decontaminate(
            kept,
            cfg.eval_df,
            n=cfg.decontam_n,
            text_col=cfg.text_col,
            id_col=cfg.id_col,
        )

    # 4. PII redaction
    if cfg.redact:
        kept = redact_pii(kept, text_col=cfg.text_col, id_col=cfg.id_col)

    # 5. deterministic split
    return hash_split(
        kept, id_col=cfg.id_col, weights=cfg.split_weights, seed=cfg.seed
    )


def curate_and_write(
    df: DataFrame,
    out_dir: str,
    config: CurateConfig | None = None,
) -> "dict[str, int]":
    """Curate and publish partitioned by split (the layout a trainer
    consumes directly); returns per-split row counts."""
    out = curate(df, config)
    out.write.mode("overwrite").partitionBy("split").parquet(out_dir)
    written = (
        df.sparkSession.read.parquet(out_dir)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {r["split"]: r["n"] for r in written}


def curate_report(
    df: DataFrame,
    config: CurateConfig | None = None,
    out_dir: "str | None" = None,
) -> "dict[str, int]":
    """Stage-wise drop accounting for a curation run — the audit trail
    a 100 TB curation needs before anyone trusts its output. Returns
    ordered counts: n_input, n_after_quality, n_after_dedup,
    n_after_decontam (when configured), n_output, plus per-stage
    n_dropped_* deltas.

    Costs one count job per stage boundary on top of the chain itself;
    each intermediate is persisted across its two uses (count + next
    stage) and released at the end. Use for audits and dry runs — the
    plain ``curate``/``curate_and_write`` path stays count-free.

    With ``out_dir``, the SAME chain finishes (PII redaction + split)
    and publishes partitionBy(split) — curation and accounting in one
    pass, the expensive stages (MinHash banding, component resolution)
    never recomputed. Per-split counts land in the report as
    ``split_<name>`` keys."""
    from .contamination import decontaminate
    from .dedup import dedup_exact, minhash_near_duplicates
    from .textstats import quality_quantile_filter

    cfg = config or CurateConfig()
    if cfg.dedup not in ("exact", "minhash", "none"):
        raise ValueError(f"unknown dedup mode {cfg.dedup!r}")

    report: "dict[str, int]" = {"n_input": df.count()}
    with ExitStack() as held:
        gated = quality_quantile_filter(
            df,
            quantile=cfg.quality_quantile,
            group_col=cfg.group_col,
            text_col=cfg.text_col,
            id_col=cfg.id_col,
            keep_all=True,
        )
        gated = held.enter_context(released(gated.persist()))
        report["n_after_quality"] = gated.count()
        report["n_dropped_quality"] = (
            report["n_input"] - report["n_after_quality"]
        )

        kept = gated
        if cfg.dedup == "exact":
            kept = dedup_exact(gated, text_col=cfg.text_col, id_col=cfg.id_col)
            kept = held.enter_context(released(kept.persist()))
        elif cfg.dedup == "minhash":
            from .clusters import connected_components

            pairs = minhash_near_duplicates(
                gated,
                text_col=cfg.text_col,
                id_col=cfg.id_col,
                threshold=cfg.minhash_threshold,
            )
            with released(pairs):
                comp = connected_components(pairs)
            drop = comp.filter(F.col("id") != F.col("cluster_id")).select(
                F.col("id").alias(cfg.id_col)
            )
            kept = gated.join(drop, cfg.id_col, "left_anti")
            kept = held.enter_context(released(kept.persist()))
        report["n_after_dedup"] = kept.count()
        report["n_dropped_dedup"] = (
            report["n_after_quality"] - report["n_after_dedup"]
        )

        final = kept
        if cfg.eval_df is not None:
            final = decontaminate(
                kept,
                cfg.eval_df,
                n=cfg.decontam_n,
                text_col=cfg.text_col,
                id_col=cfg.id_col,
            )
            report["n_after_decontam"] = final.count()
            report["n_dropped_decontam"] = (
                report["n_after_dedup"] - report["n_after_decontam"]
            )
            report["n_output"] = report["n_after_decontam"]
        else:
            report["n_output"] = report["n_after_dedup"]

        if out_dir is not None:
            from .redact import redact_pii
            from .sampling import hash_split

            out = final
            if cfg.redact:
                out = redact_pii(out, text_col=cfg.text_col, id_col=cfg.id_col)
            out = hash_split(
                out,
                id_col=cfg.id_col,
                weights=cfg.split_weights,
                seed=cfg.seed,
            )
            out.write.mode("overwrite").partitionBy("split").parquet(out_dir)
            written = (
                df.sparkSession.read.parquet(out_dir)
                .groupBy("split")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            for r in written:
                report[f"split_{r['split']}"] = r["n"]

    return report


def curate_incremental(
    df: DataFrame,
    out_dir: str,
    config: CurateConfig | None = None,
) -> "dict[str, int]":
    """Curate ONLY the rows not yet in ``out_dir`` and append them —
    the grow-in-place story for a curated corpus (the ANN indexes'
    ``*_append`` analog). Correct incrementality rests on two existing
    contracts: ``hash_split`` is append-stable (a new doc's split never
    depends on the rest of the frame), and exact dedup extends across
    increments by anti-joining the new batch's fingerprints against the
    ALREADY-PUBLISHED corpus before the chain runs.

    Two documented boundaries: quality-quantile thresholds are computed
    over the NEW batch (for fixed calibrated thresholds run the
    streaming sink instead), and near-dup control across increments is
    the stateful ``streaming/neardup.py`` gate — ``dedup='minhash'``
    here still resolves only within the batch. The append itself uses
    Spark's job-commit protocol; a mid-job failure leaves no visible
    files, but a retry AFTER a successful commit would re-append — use
    the streaming sink's batch markers when exactly-once matters.

    Returns per-split counts of the rows appended by THIS call."""
    import os

    from .dedup import normalize_text

    cfg = config or CurateConfig()
    spark = df.sparkSession
    new_docs = df
    if os.path.isdir(out_dir) and any(
        not f.startswith((".", "_")) for f in os.listdir(out_dir)
    ):
        existing = spark.read.parquet(out_dir)
        # ids already curated never re-enter
        new_docs = df.join(
            existing.select(cfg.id_col), cfg.id_col, "left_anti"
        )
        if cfg.dedup == "exact" and cfg.text_col in existing.columns:
            # cross-increment exact dedup: a new doc whose normalized
            # text fingerprint already exists in the corpus is a dup
            # even though its id is new
            new_fp = new_docs.withColumn(
                "__fp", F.md5(normalize_text(cfg.text_col))
            )
            old_fp = existing.select(
                F.md5(normalize_text(cfg.text_col)).alias("__fp")
            ).distinct()
            new_docs = new_fp.join(old_fp, "__fp", "left_anti").drop(
                "__fp"
            )
    # localCheckpoint (eager) CUTS the lineage before the append: the
    # curated plan reads out_dir through the anti-joins, so any
    # post-append re-execution (the count below, a cache miss during
    # the write) would re-list the directory it just appended to and
    # anti-join its own output away — the classic read-modify-read-
    # same-path hazard. After the checkpoint both the write and the
    # count consume materialized blocks, never the directory.
    out = curate(new_docs, cfg).localCheckpoint()
    out.write.mode("append").partitionBy("split").parquet(out_dir)
    appended = (
        out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    return {r["split"]: r["n"] for r in appended}
