"""Release-on-error regressions for the ``operators.cache`` contract.

Each test lets an operator materialize its first internal cache, then
makes the next step raise: the ``no_new_pinned_rdds`` fixture fails the
test if any persistent RDD survives the error. A failed (and later
retried) call must not leave cached blocks behind — in a streaming gate
every retried micro-batch would otherwise leak its caches again.
"""

import pytest
from pyspark.sql import functions as F

from dbqt_spark.operators import dedup as dd


class Boom(RuntimeError):
    pass


def _fail(monkeypatch, owner, name):
    """Make ``owner.name`` raise when called."""

    def boom(*args, **kwargs):
        raise Boom(name)

    monkeypatch.setattr(owner, name, boom)


def _fail_after(monkeypatch, owner, name):
    """Make ``owner.name`` run (materializing the caches it reads), then
    raise."""
    orig = getattr(owner, name)

    def wrapper(*args, **kwargs):
        orig(*args, **kwargs)
        raise Boom(name)

    monkeypatch.setattr(owner, name, wrapper)


BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5


def _docs(spark, first_id=1):
    return spark.createDataFrame(
        [
            (first_id, BASE),
            (first_id + 1, BASE.replace("gamma", "GAMMA2", 1)),
            (first_id + 2, "totally unrelated words here xyzzy " * 6),
        ],
        ["doc_id", "text"],
    )


def test_localize_or_keep_contract(spark, no_new_pinned_rdds):
    """Within the limit: rows come back uncached. Over it: the one
    persisted frame, counted, for the caller to release. ``None``
    always keeps. An error while probing releases the cache."""
    from dbqt_spark.operators.cache import localize_or_keep, released

    plan = spark.range(10).withColumn("sq", F.col("id") * F.col("id"))

    local, n = localize_or_keep(plan, 10)
    assert n == 10 and not local.is_cached
    assert sorted(r["sq"] for r in local.collect())[-1] == 81
    assert no_new_pinned_rdds() == 0

    for limit in (9, None):
        kept, n = localize_or_keep(plan, limit)
        assert n == 10 and kept.is_cached
        assert no_new_pinned_rdds() == 1
        with released(kept):
            assert kept.count() == 10
        assert no_new_pinned_rdds() == 0

    bad = spark.range(10).withColumn(
        "x", F.raise_error(F.lit("probe failed"))
    )
    with pytest.raises(Exception, match="probe failed"):
        localize_or_keep(bad, 5)


def test_eager_pairs_release_banded_on_error(
    spark, monkeypatch, no_new_pinned_rdds
):
    _fail_after(monkeypatch, dd, "_cap_buckets_eager")
    with pytest.raises(Boom):
        dd.minhash_near_duplicates(_docs(spark), threshold=0.5)


def test_capped_embedding_releases_banded_on_error(
    spark, monkeypatch, no_new_pinned_rdds
):
    from dbqt_spark.operators.similarity import embedding_near_dup_pairs

    df = spark.createDataFrame(
        [(i, "hot", [float(i % 3), 1.0, float(i)]) for i in range(12)],
        "vec_id long, label string, embedding array<double>",
    )
    _fail_after(monkeypatch, dd, "_cap_buckets_eager")
    with pytest.raises(Boom):
        embedding_near_dup_pairs(
            df, 0.9, key_cols=["label"], bands=4, bits_per_band=1,
            max_block_size=10_000,
        )


def test_ngram_jaccard_releases_postings_on_error(
    spark, monkeypatch, no_new_pinned_rdds
):
    # drop_stats runs a job over the persisted posting list; the
    # broadcast anti-join built next is the failing step
    _fail(monkeypatch, F, "broadcast")
    with pytest.raises(Boom):
        dd.ngram_jaccard_near_duplicates(
            _docs(spark), max_shingle_df=100, drop_stats={}
        )


def test_cross_near_dups_release_on_error(
    spark, monkeypatch, no_new_pinned_rdds
):
    _fail(monkeypatch, dd, "_attach_texts_and_verify")
    with pytest.raises(Boom):
        dd.minhash_cross_near_duplicates(
            _docs(spark, 1), _docs(spark, 100), threshold=0.5
        )


def test_minhash_index_query_releases_on_error(
    spark, monkeypatch, tmp_path, no_new_pinned_rdds
):
    from dbqt_spark.operators import minhash_index as mi

    corpus = _docs(spark, 100)
    path = str(tmp_path / "idx")
    mi.minhash_index_write(corpus, path, drop_stats={})
    _fail(monkeypatch, mi, "_attach_texts_and_verify")
    with pytest.raises(Boom):
        mi.minhash_index_query(
            _docs(spark, 1), path, threshold=0.5, corpus=corpus,
            drop_stats={},
        )


def test_gate_batch_releases_on_error(
    spark, monkeypatch, tmp_path, no_new_pinned_rdds
):
    """A micro-batch failing at its store append (after the band,
    candidate and verified caches all materialized) leaks nothing, so a
    retried batch does not leak them again."""
    from dbqt_spark.streaming import neardup

    store = str(tmp_path / "store")
    neardup.minhash_gate_batch(_docs(spark, 1), store).collect()
    _fail(monkeypatch, neardup, "_append_bands")
    with pytest.raises(Boom):
        neardup.minhash_gate_batch(_docs(spark, 100), store)


@pytest.mark.parametrize("grouped", [False, True])
def test_percentiles_release_base_on_error(
    spark, monkeypatch, no_new_pinned_rdds, grouped
):
    from dbqt_spark.operators.profile import (
        scalable_group_percentiles,
        scalable_percentiles,
    )

    df = spark.range(1000).select(
        (F.col("id") % 3).alias("g"), F.col("id").cast("double").alias("v")
    )
    # the bounds aggregate materializes the persisted base; the first
    # histogram round's bucket expression is the failing step
    _fail(monkeypatch, F, "floor")
    with pytest.raises(Boom):
        if grouped:
            scalable_group_percentiles(df, "v", "g", max_collect=10)
        else:
            scalable_percentiles(df, "v", max_collect=10)


def test_curate_report_releases_gated_on_error(
    spark, monkeypatch, no_new_pinned_rdds
):
    from dbqt_spark.operators.pipeline import CurateConfig, curate_report

    df = spark.createDataFrame(
        [(i, f"doc number {i} with some ordinary words", "en")
         for i in range(6)],
        ["doc_id", "text", "lang"],
    )
    _fail(monkeypatch, dd, "dedup_exact")
    with pytest.raises(Boom):
        curate_report(df, CurateConfig(quality_quantile=0.2))


def test_keyfinder_and_components_release_on_error(
    spark, monkeypatch, no_new_pinned_rdds
):
    from dbqt_spark.operators import clusters, keyfinder

    df = spark.createDataFrame(
        [(i, i % 2, f"v{i}") for i in range(8)], ["a", "b", "c"]
    )
    _fail_after(monkeypatch, keyfinder, "_check_batch")
    with pytest.raises(Boom):
        keyfinder.find_composite_keys(df)

    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    _fail(monkeypatch, clusters, "_local_components")
    with pytest.raises(Boom):
        clusters.near_dup_clusters(pairs)
