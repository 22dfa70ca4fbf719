"""Training-pipeline operators added in r7: decontamination,
deterministic hash-split, Gopher repetition stats. Oracle value/type
parity is covered by test_oracle_parity; these tests pin the semantics
on constructed inputs and the at-scale plan shapes."""

import pytest
from pyspark.sql import functions as F

from dbqt_spark.operators.contamination import (
    contamination_check,
    decontaminate,
)
from dbqt_spark.operators.sampling import hash_split
from dbqt_spark.operators.textstats import repetition_stats
from dbqt_spark.plans import formatted_plan


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_contamination_flags_shared_ngram(spark):
    corpus = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words in this one"),
            (3, "QUICK BROWN FOX appears here too"),  # case-folded hit
        ],
    )
    eval_set = _docs(spark, [(100, "a quick brown fox story")])
    hits = {
        r["doc_id"]: r["n_hit_ngrams"]
        for r in contamination_check(corpus, eval_set, n=3).collect()
    }
    assert hits == {1: 1, 3: 1}  # the 'quick brown fox' 3-gram
    kept = sorted(
        r["doc_id"] for r in decontaminate(corpus, eval_set, n=3).collect()
    )
    assert kept == [2]


def test_contamination_short_and_empty_docs(spark):
    # shorter-than-n docs hash their whole token sequence; empty docs
    # contribute nothing (and never match)
    corpus = _docs(spark, [(1, "tiny doc"), (2, "   "), (3, "tiny doc here")])
    eval_set = _docs(spark, [(100, "tiny doc")])
    hits = {
        r["doc_id"]: r["n_hit_ngrams"]
        for r in contamination_check(corpus, eval_set, n=5).collect()
    }
    assert hits == {1: 1}  # whole-doc gram matches; doc 3 differs


def test_contamination_plan_broadcasts_eval_no_corpus_shuffle(spark, sf_dir):
    """The at-scale contract: eval n-gram hashes broadcast, the corpus
    side reaches the join through scan+generate only (no Exchange below
    the join on the corpus side; the only shuffle is the post-join
    per-doc aggregate of matched hits)."""
    from dbqt_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(
        contamination_check(
            docs.filter("doc_id % 97 != 0"),
            docs.filter("doc_id % 97 = 0"),
            n=3,
        )
    )
    assert "BroadcastHashJoin" in plan
    # the CORPUS side is the join's streamed (":-") branch in the tree
    # header: it must contain no Exchange at all — scan + generate only.
    tree = plan.split("\n\n")[0].splitlines()
    start = next(i for i, l in enumerate(tree) if "BroadcastHashJoin" in l)
    corpus_branch = []
    for line in tree[start + 1 :]:
        if ":" not in line:  # left-branch lines carry the ':' gutter
            break
        corpus_branch.append(line)
    assert corpus_branch and not any("Exchange" in l for l in corpus_branch)
    # the eval side broadcasts
    assert "BroadcastExchange" in plan


def test_hash_split_deterministic_and_complete(spark, sf_dir):
    from dbqt_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    assert a == b  # pure function of (seed, id)
    assert set(a.values()) <= {"train", "val", "test"}
    n = len(a)
    train_frac = sum(1 for v in a.values() if v == "train") / n
    assert 0.7 < train_frac < 0.9  # 80% nominal, small-sample noise

    # a different seed reshuffles membership
    c = {r["doc_id"]: r["split"] for r in hash_split(docs, seed=7).collect()}
    assert c != a


def test_hash_split_append_stability(spark):
    """Late-arriving rows must not move existing assignments: the split
    of a doc depends only on its id, never on the rest of the frame."""
    d1 = _docs(spark, [(i, f"doc {i}") for i in range(50)])
    d2 = _docs(spark, [(i, f"doc {i}") for i in range(100)])
    a = {r["doc_id"]: r["split"] for r in hash_split(d1).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(d2).collect()}
    assert all(b[k] == v for k, v in a.items())


def test_hash_split_bad_weights(spark):
    d = _docs(spark, [(1, "x")])
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(d, weights=[("a", 0.5), ("b", 0.2)])


def test_hash_split_null_group_hashes_as_empty_string(spark):
    """NULL group values form ONE group hashed as the empty string
    (ADVICE r10: concat_ws silently dropped the NULL arg, diverging
    from the ||-based oracle). A NULL-source row must land in the same
    split as an explicit-empty-string source, and all NULL rows must
    agree with each other."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "web")],
        ["doc_id", "source"],
    )
    got = {
        r["doc_id"]: r["split"]
        for r in hash_split(df, by_col="source").collect()
    }
    assert got[1] == got[2] == got[3]
    # and the assignment is the portable md5('42:') bucket, matching
    # what the DuckDB oracle computes with coalesce(..., '')
    import hashlib

    b = int(hashlib.md5(b"42:").hexdigest()[:15], 16) % 10_000
    expected = "train" if b < 8000 else ("val" if b < 9000 else "test")
    assert got[1] == expected


def test_repetition_stats_known_values(spark):
    df = _docs(
        spark,
        [
            # 4 tokens, all distinct words, one repeated 2-gram:
            # "a b a b" -> 2-grams [a b, b a, a b] -> 1/3 dup
            (1, "a b a b"),
            (2, "x\nx\ny"),  # 3 lines, one duplicate -> 1/3
            (3, ""),  # empty: all zeros
            (4, "w w w w"),  # 3/4 dup words, 2-grams all same -> 2/3
        ],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert rows[1]["dup_2gram_frac"] == round(1 - 2 / 3, 4)
    assert rows[1]["dup_word_frac"] == 0.5
    assert rows[2]["n_lines"] == 3
    assert rows[2]["dup_line_frac"] == round(1 - 2 / 3, 4)
    assert rows[3]["n_lines"] == 0
    assert rows[3]["dup_word_frac"] == 0.0
    assert rows[4]["dup_word_frac"] == 0.75
    assert rows[4]["dup_2gram_frac"] == round(1 - 1 / 3, 4)


def test_repetition_stats_no_shuffle(spark, sf_dir):
    from dbqt_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(repetition_stats(docs))
    # pure map over the scan: no KEYED shuffle anywhere — the only
    # exchange allowed is the size-gated small-input RoundRobin
    # spread (utils.spread_small_scan; a no-op at corpus scale)
    import re

    for blk in re.split(r"\n(?=\(\d+\) )", plan):
        if blk.startswith("(") and ") Exchange" in blk.split("\n")[0]:
            assert "RoundRobinPartitioning" in blk, blk


# --- stratified sample ------------------------------------------------------


def test_stratified_sample_caps_and_determinism(spark):
    from dbqt_spark.operators.sampling import stratified_sample

    rows = [(i, "g" + str(i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    out = stratified_sample(df, "grp", 5, id_col="doc_id", seed=7)
    got = sorted((r["grp"], r["doc_id"]) for r in out.collect())
    # caps respected
    from collections import Counter

    per = Counter(g for g, _ in got)
    assert set(per.values()) == {5}
    # pure function of (seed, id): a rerun and a differently-ordered
    # input pick the identical set
    again = sorted(
        (r["grp"], r["doc_id"])
        for r in stratified_sample(
            df.orderBy(F.desc("doc_id")), "grp", 5, id_col="doc_id", seed=7
        ).collect()
    )
    assert got == again
    # a different seed picks a different set (overwhelmingly likely)
    other = sorted(
        (r["grp"], r["doc_id"])
        for r in stratified_sample(df, "grp", 5, id_col="doc_id", seed=8)
        .collect()
    )
    assert got != other


def test_stratified_sample_small_groups_kept_whole(spark):
    from dbqt_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], ["doc_id", "grp"]
    )
    out = stratified_sample(df, "grp", 10).collect()
    assert len(out) == 3
    with pytest.raises(ValueError):
        stratified_sample(df, "grp", 0)


# --- top n-grams ------------------------------------------------------------


def test_top_ngrams_counts(spark):
    from dbqt_spark.operators.textstats import top_ngrams

    docs = _docs(
        spark,
        [
            (1, "a b a b c"),
            (2, "A B x"),  # case-folded: 'a b' again, new doc
            (3, "z"),  # shorter than n: contributes nothing
            (4, None),  # null-safe
        ],
    )
    rows = top_ngrams(docs, n=2, k=2).collect()
    assert [(r["ngram"], r["n_occurrences"], r["n_docs"]) for r in rows] == [
        ("a b", 3, 2),
        ("b a", 1, 1),  # ties broken by ngram asc: 'b a' < 'b c' < 'b x'
    ]


def test_top_ngrams_partial_agg_before_shuffle(spark, sf_dir):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.textstats import top_ngrams

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(top_ngrams(docs, n=2, k=10))
    # two-phase agg: a partial HashAggregate must run on the explode
    # side BEFORE the Exchange (map-side combine), and the final top-k
    # is TakeOrdered, not a global Sort
    assert "TakeOrderedAndProject" in plan
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[:first_exchange]


# --- PII scan / redaction ---------------------------------------------------


def test_pii_scan_counts_and_redaction(spark):
    from dbqt_spark.operators.redact import pii_scan, redact_pii

    docs = _docs(
        spark,
        [
            (1, "mail me at jo.doe+x@site-a.example.com or see "
                "https://example.com/p?q=1 now"),
            (2, "server 10.0.0.1 acct 12345678 short 123456"),
            (3, "clean text only"),
            (4, None),
        ],
    )
    got = {r["doc_id"]: r.asDict() for r in pii_scan(docs).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_url"] == 1
    assert got[2]["n_ipv4"] == 1 and got[2]["n_digit_run"] == 1
    assert got[3] == {
        "doc_id": 3, "n_email": 0, "n_url": 0, "n_ipv4": 0,
        "n_digit_run": 0, "redacted_len": len("clean text only"),
    }
    assert got[4]["redacted_len"] == 0
    red = {
        r["doc_id"]: r["redacted_text"]
        for r in redact_pii(docs).collect()
    }
    assert red[1] == "mail me at <EMAIL> or see <URL> now"
    assert red[2] == "server <IP> acct <NUM> short 123456"


def test_pii_scan_no_shuffle(spark, sf_dir):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.redact import pii_scan

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(pii_scan(docs))
    assert "Exchange" not in plan  # pure map over the scan


# --- quality quantile filter ------------------------------------------------


def test_quality_filter_broadcasts_thresholds(spark, sf_dir):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.textstats import quality_quantile_filter

    docs = load_table(spark, sf_dir, "documents")
    out = quality_quantile_filter(docs, quantile=0.5, group_col="lang")
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan  # corpus side never shuffles
    # keeps >= the per-group median: roughly half of each group, and
    # every kept score >= its group threshold by construction
    kept = out.groupBy("lang").count().collect()
    total = dict(
        (r["lang"], r["count"])
        for r in docs.groupBy("lang").count().collect()
    )
    for r in kept:
        assert r["count"] >= total[r["lang"]] // 2


def test_quality_filter_bad_quantile(spark):
    from dbqt_spark.operators.textstats import quality_quantile_filter

    df = _docs(spark, [(1, "x")]).withColumn("lang", F.lit("en"))
    with pytest.raises(ValueError):
        quality_quantile_filter(df, quantile=1.5)


# --- curate pipeline --------------------------------------------------------


def test_curate_chain_semantics(spark):
    from dbqt_spark.operators.pipeline import CurateConfig, curate

    rows = [
        # en group: two exact dups (one survives), one low-quality doc,
        # one doc with an email to redact
        (1, "the quick brown fox jumps over the lazy dog today", "en"),
        (2, "the quick brown fox jumps over the lazy dog today", "en"),
        (3, "zzzz!!!! ???? ....", "en"),
        (4, "write to the admin at root@host.example.org for help", "en"),
        (5, "el perro grande corre en la casa que es de madera", "es"),
        (6, "la casa de madera es grande y el perro corre alli", "es"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = curate(df, CurateConfig(quality_quantile=0.0))  # gate passes all
    got = {r["doc_id"]: r.asDict() for r in out.collect()}
    # dedup kept min-id of the identical pair, dropped 2
    assert 1 in got and 2 not in got
    assert set(got) == {1, 3, 4, 5, 6}
    # redaction applied
    assert "<EMAIL>" in got[4]["redacted_text"]
    # split matches hash_split exactly (pure function of (seed, id))
    from dbqt_spark.operators.sampling import hash_split

    expect = {
        r["doc_id"]: r["split"] for r in hash_split(df).collect()
    }
    for i, r in got.items():
        assert r["split"] == expect[i]
    # with a median gate, low-quality docs go first
    gated = curate(df, CurateConfig(quality_quantile=0.5))
    assert 3 not in {r["doc_id"] for r in gated.collect()}

    # Gopher structural pre-gate: with a word-count floor only doc
    # lengths decide — docs 1/2 have 10 words, 5/6 have 11, 3 has 3
    # and 4 has 8, so the floor selects exactly by length (and the
    # gate composes with dedup/redact/split unchanged)
    kept10 = curate(
        df,
        CurateConfig(quality_quantile=0.0, gopher={"min_words": 10}),
    )
    assert {r["doc_id"] for r in kept10.collect()} == {1, 5, 6}
    kept11 = curate(
        df,
        CurateConfig(quality_quantile=0.0, gopher={"min_words": 11}),
    )
    assert {r["doc_id"] for r in kept11.collect()} == {5, 6}


def test_curate_single_corpus_scan(spark, sf_dir):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.pipeline import curate

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(curate(docs))
    # quality thresholds and the gated-id set join back as broadcasts
    assert "BroadcastHashJoin" in plan
    # the ONLY shuffle join is the dedup keeper semi-join on the
    # fingerprint — required semantics (the keeper set is corpus-sized,
    # one row per distinct text, so broadcasting it would be wrong at
    # 100 TB); redaction and split add no joins or exchanges
    import re

    smj_nodes = re.findall(r"\(\d+\) SortMergeJoin", plan)
    assert len(smj_nodes) == 1


def test_curate_and_write_counts(spark, tmp_path):
    from dbqt_spark.operators.pipeline import (
        CurateConfig,
        curate_and_write,
    )

    rows = [(i, f"unique document number {i} with plain words", "en")
            for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out_dir = str(tmp_path / "curated")
    counts = curate_and_write(
        df, out_dir, CurateConfig(quality_quantile=0.0)
    )
    assert sum(counts.values()) == 40
    back = spark.read.parquet(out_dir)
    assert "split" in back.columns and back.count() == 40
    with pytest.raises(ValueError):
        curate_and_write(df, out_dir, CurateConfig(dedup="fuzzy"))


# --- tfidf keywords ---------------------------------------------------------


def test_tfidf_keywords_known_values(spark):
    import math

    from dbqt_spark.operators.textstats import tfidf_keywords

    docs = _docs(
        spark,
        [
            (1, "apple apple banana common common"),
            (2, "banana cherry common common"),
            (3, "common words only here"),
        ],
    )
    rows = tfidf_keywords(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 'apple' tf=2 df=1 -> 2*ln(3); beats 'banana' tf=1 df=2
    top1 = by_doc[1][0]
    assert top1["term"] == "apple"
    assert top1["tfidf"] == round(2 * math.log(3.0), 6)
    assert top1["tf"] == 2 and top1["df"] == 1
    # 'common' appears in every doc -> idf = ln(1) = 0
    common = [r for r in rows if r["term"] == "common"]
    for r in common:
        assert r["tfidf"] == 0.0
    # short tokens dropped
    assert all(len(r["term"]) >= 3 for r in rows)
    with pytest.raises(ValueError):
        tfidf_keywords(docs, k=0)


def test_tfidf_vocabulary_joins_broadcast(spark, sf_dir):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.textstats import tfidf_keywords

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(tfidf_keywords(docs))
    # the vocabulary-sized df frame joins back as a broadcast; the
    # corpus-sized term frame must never sort-merge against it
    assert "BroadcastHashJoin" in plan


# --- label centroids --------------------------------------------------------


def test_label_centroids_exact_means(spark):
    from dbqt_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0], 0),
            (2, [3.0, 6.0], 0),
            (3, [10.0, 20.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    rows = label_centroids(df).collect()
    got = {(r["label"], r["dim"]): (r["centroid"], r["n_vecs"]) for r in rows}
    assert got == {
        (0, 0): (2.0, 2),
        (0, 1): (4.0, 2),
        (1, 0): (10.0, 1),
        (1, 1): (20.0, 1),
    }


def test_label_centroids_partial_agg(spark, sf_dir):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.similarity import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    plan = formatted_plan(label_centroids(emb))
    # map-side partial sums run below the (label, dim) exchange
    assert "partial_sum" in plan and "partial_count" in plan


def test_curate_minhash_and_decontam_stages(spark):
    from dbqt_spark.operators.pipeline import CurateConfig, curate

    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    rows = [
        (1, base, "en"),
        # near-dup of 1 (one word changed) -> dropped (larger id)
        (2, base.replace("lazy", "sleepy"), "en"),
        (3, "completely different text about spark dataframes and scale", "en"),
        # contaminated: contains the eval 3-gram verbatim
        (4, "prefix secret eval answer suffix words to make it longer", "en"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    eval_df = spark.createDataFrame(
        [(100, "the secret eval answer")], ["doc_id", "text"]
    )
    out = curate(
        df,
        CurateConfig(
            quality_quantile=0.0,
            dedup="minhash",
            minhash_threshold=0.5,
            eval_df=eval_df,
            decontam_n=3,
        ),
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 3]  # 2 near-dup-dropped, 4 decontaminated


# --- connected components / near-dup clusters -------------------------------


def test_connected_components_chain_and_islands(spark):
    from dbqt_spark.operators.clusters import connected_components

    # chain 1-2-3-4 (diameter 3), island pair (10, 11), singleton edges
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_path_converges(spark):
    from dbqt_spark.operators.clusters import connected_components

    # a 30-node path labels in ~diameter rounds; must converge within
    # the default bound and label everything with the min id
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["id_a", "id_b"]
    )
    # localize_limit=0 forces the DISTRIBUTED propagation path
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            pairs, max_iterations=40, localize_limit=0
        ).collect()
    }
    assert set(got.values()) == {0} and len(got) == 31
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(pairs, max_iterations=2, localize_limit=0)


def test_connected_components_logarithmic_rounds(spark):
    """Star contraction must label a 1000-node PATH (the worst case for
    min-label propagation: diameter 999) in ~log2(n) rounds, not
    ~diameter rounds."""
    import math

    from dbqt_spark.operators.clusters import connected_components

    n = 1000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    st: dict = {}
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            pairs, max_iterations=25, localize_limit=0, stats=st
        ).collect()
    }
    assert set(got.values()) == {0} and len(got) == n
    # measured: 11 rounds (10 contraction + 1 fixpoint confirmation)
    assert st["rounds"] <= math.ceil(math.log2(n)) + 2


def test_near_dup_clusters_representatives(spark):
    from dbqt_spark.operators.clusters import near_dup_clusters

    pairs = spark.createDataFrame([(1, 2), (2, 5)], ["id_a", "id_b"])
    rows = {r["doc_id"]: r for r in near_dup_clusters(pairs).collect()}
    # only pair-involved docs appear; transitive cluster {1,2,5}
    assert set(rows) == {1, 2, 5}
    assert all(r["cluster_id"] == 1 and r["cluster_size"] == 3
               for r in rows.values())
    assert rows[1]["is_representative"] is True
    assert rows[2]["is_representative"] is False


def test_connected_components_localized_equals_distributed(
    spark, no_new_pinned_rdds
):
    from dbqt_spark.operators.clusters import connected_components

    # the ids-only probe cache is released on both paths; the
    # distributed rounds' lineage cuts are checkpoints
    no_new_pinned_rdds.ignore_checkpoints = True

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        ["id_a", "id_b"],
    )
    local = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()  # localized path
    }
    dist = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs, localize_limit=0).collect()
    }
    assert local == dist == {
        1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20,
    }


def test_curate_minhash_transitive_cluster_drop(spark):
    """Pairs (1,5),(2,5) and no (1,2) pair: transitive resolution keeps
    ONLY the cluster representative (1); the naive drop-larger rule
    would have kept 2 as well."""
    from dbqt_spark.operators.pipeline import CurateConfig, curate

    base = "the quick brown fox jumps over the lazy dog and runs very far away"
    rows = [
        (1, base + " alpha beta", "en"),
        (2, base + " gamma delta", "en"),
        (5, base + " alpha gamma", "en"),
        (9, "completely different text about spark plans and shuffles", "en"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = curate(
        df,
        CurateConfig(
            quality_quantile=0.0, dedup="minhash", minhash_threshold=0.5
        ),
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 9]


def test_quality_filter_approx_close_to_exact(spark, sf_dir):
    """The at-scale approx_percentile path keeps nearly the same set as
    the exact path (rank error <= 1/accuracy)."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.textstats import quality_quantile_filter

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        r["doc_id"]
        for r in quality_quantile_filter(docs, exact=True).collect()
    }
    approx = {
        r["doc_id"]
        for r in quality_quantile_filter(docs, exact=False).collect()
    }
    n = docs.count()
    sym_diff = len(exact ^ approx)
    assert sym_diff <= max(2, n // 100)


def test_quality_filter_null_group_thresholded(spark):
    """Rows with a NULL group form their own group and are thresholded,
    not silently dropped by an equi-join."""
    from dbqt_spark.operators.textstats import quality_quantile_filter

    good = "the quick brown fox jumps over the lazy dog in a field today"
    bad = "zzz!!! ??? ..."
    df = spark.createDataFrame(
        [(1, good, None), (2, bad, None), (3, good, "en")],
        "doc_id long, text string, lang string",
    )
    kept = {r["doc_id"] for r in quality_quantile_filter(df).collect()}
    # NULL group: median of {good, bad} keeps the good one; en keeps its
    # only member
    assert kept == {1, 3}


def test_zscore_outliers_known_values(spark):
    from dbqt_spark.operators.profile import zscore_outliers

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 10.0), (3, "a", 10.0), (4, "a", 100.0),
         (5, "b", 1.0), (6, "b", 2.0),
         (7, "c", 7.0)],  # n=1: no z
        ["event_id", "grp", "v"],
    )
    rows = zscore_outliers(
        df, value_col="v", group_col="grp", id_col="event_id", k=3
    ).collect()
    # group a: the 100 is the standout; its z = (100-32.5)/45 = 1.5
    top = rows[0]
    assert top["event_id"] == 4 and top["grp"] == "a"
    assert top["zscore"] == 1.5
    assert all(r["grp"] != "c" for r in rows)  # singleton group excluded


def test_zscore_outliers_plan(spark, sf_dir):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.profile import zscore_outliers

    events = load_table(spark, sf_dir, "events")
    plan = formatted_plan(
        zscore_outliers(events, "value", "event_type", "event_id")
    )
    assert "BroadcastHashJoin" in plan  # stats broadcast back
    assert "TakeOrderedAndProject" in plan  # no global sort


def test_curate_report_stage_accounting(spark):
    from dbqt_spark.operators.pipeline import CurateConfig, curate_report

    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    leak = "the secret eval answer"
    rows = [
        (1, base, "en"),
        (2, base, "en"),  # exact dup of 1
        (3, "zzzz!!!! ????", "en"),  # low quality
        (4, f"prefix {leak} suffix words to reach length", "en"),
        (5, "a perfectly ordinary different document here", "en"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    eval_df = spark.createDataFrame([(100, leak)], ["doc_id", "text"])
    rep = curate_report(
        df,
        CurateConfig(
            quality_quantile=0.4, eval_df=eval_df, decontam_n=3
        ),
    )
    assert rep["n_input"] == 5
    assert rep["n_dropped_quality"] >= 1  # doc 3 gated
    assert rep["n_dropped_dedup"] == 1  # doc 2
    assert rep["n_dropped_decontam"] == 1  # doc 4
    assert rep["n_output"] == (
        rep["n_input"]
        - rep["n_dropped_quality"]
        - rep["n_dropped_dedup"]
        - rep["n_dropped_decontam"]
    )


# --- token budget sample ----------------------------------------------------


def test_token_budget_sample_matches_naive(spark):
    """The bucketed prefix equals the naive global running-sum cut."""
    from dbqt_spark.operators.dedup import portable_token_hash
    from dbqt_spark.operators.sampling import token_budget_sample

    rows = [(i, " ".join(["w"] * (3 + i % 7))) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    budget = 300
    got = {
        r["doc_id"]: r["n_tokens"]
        for r in token_budget_sample(df, budget).collect()
    }
    # naive reference: sort by (hash, id), take while within budget
    hashed = df.select(
        "doc_id",
        F.size(F.split("text", r"\s+")).alias("n"),
        portable_token_hash(
            F.concat_ws(":", F.lit("42"), F.col("doc_id").cast("string"))
        ).alias("h"),
    ).collect()
    expect, cum = {}, 0
    for r in sorted(hashed, key=lambda r: (r["h"], r["doc_id"])):
        if cum + r["n"] > budget:
            break
        cum += r["n"]
        expect[r["doc_id"]] = r["n"]
    assert got == expect
    assert sum(got.values()) <= budget
    # deterministic across reruns
    again = {
        r["doc_id"]: r["n_tokens"]
        for r in token_budget_sample(df, budget).collect()
    }
    assert again == got


def test_token_budget_sample_edges(spark):
    from dbqt_spark.operators.sampling import token_budget_sample

    df = spark.createDataFrame(
        [(1, "a b c"), (2, None)], ["doc_id", "text"]
    )
    # zero budget keeps only zero-token docs that hash-sort first --
    # possibly none; huge budget keeps everything
    assert len(token_budget_sample(df, 10_000).collect()) == 2
    with pytest.raises(ValueError):
        token_budget_sample(df, -1)


def test_curate_incremental_appends_only_new(spark, tmp_path):
    from dbqt_spark.operators.pipeline import (
        CurateConfig,
        curate_incremental,
    )

    cfg = CurateConfig(quality_quantile=0.0)
    out_dir = str(tmp_path / "corpus")
    batch1 = spark.createDataFrame(
        [(i, f"unique document number {i} with plain words", "en")
         for i in range(10)],
        ["doc_id", "text", "lang"],
    )
    c1 = curate_incremental(batch1, out_dir, cfg)
    assert sum(c1.values()) == 10

    # batch 2: 5 genuinely new, 2 already-curated ids, 1 new id whose
    # text exactly duplicates a curated doc
    batch2 = spark.createDataFrame(
        [(i, f"unique document number {i} with plain words", "en")
         for i in range(10, 15)]
        + [(3, "unique document number 3 with plain words", "en"),
           (7, "unique document number 7 with plain words", "en"),
           (99, "unique document number 4 with plain words", "en")],
        ["doc_id", "text", "lang"],
    )
    c2 = curate_incremental(batch2, out_dir, cfg)
    assert sum(c2.values()) == 5  # 2 old ids + 1 cross-increment dup skipped

    final = spark.read.parquet(out_dir)
    ids = sorted(r["doc_id"] for r in final.collect())
    assert ids == sorted(range(15))
    # append-stable split: batch-1 docs keep their original assignment
    from dbqt_spark.operators.sampling import hash_split

    expect = {
        r["doc_id"]: r["split"] for r in hash_split(batch1).collect()
    }
    got = {
        r["doc_id"]: r["split"]
        for r in final.filter("doc_id < 10").collect()
    }
    assert got == expect


# --- cross-corpus near-dup --------------------------------------------------


def test_cross_near_duplicates_sides_only(spark):
    from dbqt_spark.operators.dedup import minhash_cross_near_duplicates

    base = "the quick brown fox jumps over the lazy dog and runs far away"
    query = _docs(
        spark,
        [
            (1, base + " tonight"),  # near-dups corpus doc 100
            (2, "totally different new crawl document about engines"),
            (3, base + " tonight"),  # near-dups 100 AND exactly = doc 1
        ],
    )
    corpus = _docs(
        spark,
        [
            (100, base + " today"),
            (101, "existing corpus document about something else entirely"),
        ],
    )
    got = sorted(
        (r["query_id"], r["corpus_id"])
        for r in minhash_cross_near_duplicates(
            query, corpus, threshold=0.5
        ).collect()
    )
    # within-side pairs (1,3) must NOT appear: only cross pairs
    assert got == [(1, 100), (3, 100)]


def test_cross_near_duplicates_overlapping_ids(spark):
    """Ids are independent keyspaces: the same id on both sides is a
    legitimate cross pair, not a self-pair to exclude."""
    from dbqt_spark.operators.dedup import minhash_cross_near_duplicates

    text = "one identical document text shared across the two corpora here"
    query = _docs(spark, [(7, text)])
    corpus = _docs(spark, [(7, text)])
    got = minhash_cross_near_duplicates(query, corpus, threshold=0.9).collect()
    assert [(r["query_id"], r["corpus_id"], r["jaccard"]) for r in got] == [
        (7, 7, 1.0)
    ]


# --- event funnel -----------------------------------------------------------


def test_funnel_ordered_attribution(spark):
    import datetime as dt

    from dbqt_spark.operators.funnel import funnel

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # u1 completes in order
        (1, "view", t(1)), (1, "click", t(2)), (1, "purchase", t(3)),
        # u2 clicks BEFORE viewing: click doesn't count, no purchase
        (2, "click", t(1)), (2, "view", t(2)),
        # u3 views only
        (3, "view", t(1)),
        # u4 same-timestamp view+click: >= lets the click bind
        (4, "view", t(5)), (4, "click", t(5)),
        # u5 never views; later steps can't start the funnel
        (5, "click", t(1)), (5, "purchase", t(2)),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    got = {
        r["step"]: (r["n_users"], r["pct_of_first"])
        for r in funnel(df, ["view", "click", "purchase"]).collect()
    }
    assert got == {
        "view": (4, 100.0),
        "click": (2, 50.0),  # u1 and u4
        "purchase": (1, 25.0),  # u1
    }
    with pytest.raises(ValueError):
        funnel(df, ["view"])
    with pytest.raises(ValueError):
        funnel(df, ["view", "view"])


def test_funnel_single_shuffle(spark, sf_dir):
    import re

    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.funnel import funnel

    events = load_table(spark, sf_dir, "events")
    plan = formatted_plan(funnel(events, ["view", "click", "purchase"]))
    # the event table is hash-partitioned by user ONCE; the stacked
    # window minimums and the per-user collapse reuse that partitioning
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1
    # one user-hash exchange + the final single-partition gather for
    # the 3-row result (+1 under AQE variations) — never per-step
    assert len(exchanges) <= 3


def test_retention_cohorts_known_values(spark):
    import datetime as dt

    from dbqt_spark.operators.funnel import retention_cohorts

    d = lambda day: dt.datetime(2026, 1, day, 12, 0)  # noqa: E731
    # week of Mon Jan 5 and week of Mon Jan 12, 2026
    rows = [
        (1, d(5)), (1, d(13)),   # cohort w1, active w2
        (2, d(6)),               # cohort w1 only
        (3, d(12)),              # cohort w2 only
        (1, d(5)),               # duplicate activity, same week
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["cohort_week"], r["week_offset"]): (
            r["n_active"], r["retention_pct"]
        )
        for r in retention_cohorts(df).collect()
    }
    assert got == {
        ("2026-01-05", 0): (2, 100.0),
        ("2026-01-05", 1): (1, 50.0),
        ("2026-01-12", 0): (1, 100.0),
    }
    capped = retention_cohorts(df, max_offset=0).collect()
    assert all(r["week_offset"] == 0 for r in capped)


def test_zscore_outliers_null_values_excluded(spark):
    from dbqt_spark.operators.profile import zscore_outliers

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 10.0), (3, "a", None), (4, "a", 100.0),
         # out of the DECIMAL(18,6) domain: under ANSI mode a plain cast
         # would abort the query; try_cast must NULL it out instead
         (5, "a", 1.0e15)],
        "event_id long, grp string, v double",
    )
    rows = zscore_outliers(
        df, value_col="v", group_col="grp", id_col="event_id", k=5
    ).collect()
    # NULL and overflow contribute nothing: stats over {10, 10, 100}
    assert all(r["value"] is not None and r["zscore"] is not None
               for r in rows)
    assert sorted(r["event_id"] for r in rows) == [1, 2, 4]


def test_numeric_histogram_known_buckets(spark):
    from dbqt_spark.operators.profile import numeric_histogram

    # values 0..9 with n_buckets=5 -> exactly 2 per bucket; scaled-int
    # arithmetic: bucket = ((v*1e6 - 0) * 5) div (9e6 - 0 + 1)
    df = spark.createDataFrame(
        [(float(i),) for i in range(10)], "x double"
    )
    rows = numeric_histogram(df, "t", n_buckets=5).collect()
    assert [(r["bucket"], r["n_rows"]) for r in rows] == [
        (0, 2), (1, 2), (2, 2), (3, 2), (4, 2)
    ]
    assert rows[0]["min_value"] == 0.0 and rows[0]["max_value"] == 9.0


def test_numeric_histogram_nulls_and_constant(spark):
    from dbqt_spark.operators.profile import numeric_histogram

    df = spark.createDataFrame(
        [(5.0, 1.0), (5.0, None), (5.0, 2.0)], "c double, v double"
    )
    rows = numeric_histogram(df, "t", n_buckets=4).collect()
    by_col = {}
    for r in rows:
        by_col.setdefault(r["col_name"], []).append(r)
    # constant column: everything lands in bucket 0 (range collapses)
    assert [(r["bucket"], r["n_rows"]) for r in by_col["c"]] == [(0, 3)]
    # NULLs excluded from counts and bounds
    assert sum(r["n_rows"] for r in by_col["v"]) == 2
    assert by_col["v"][0]["min_value"] == 1.0


def test_numeric_histogram_max_value_in_top_bucket(spark):
    from dbqt_spark.operators.profile import numeric_histogram

    # the maximum must clamp into bucket n-1, never fall off the end
    df = spark.createDataFrame([(0.0,), (100.0,)], "x double")
    rows = numeric_histogram(df, "t", n_buckets=3).collect()
    assert [(r["bucket"], r["n_rows"]) for r in rows] == [(0, 1), (2, 1)]


def test_correlation_matrix_known_values(spark):
    from dbqt_spark.operators.profile import correlation_matrix

    df = spark.createDataFrame(
        [(1.0, 2.0, -1.0, 7.0),
         (2.0, 4.0, -2.0, 7.0),
         (3.0, 6.0, -3.0, 7.0)],
        "a double, b double, c double, k double",
    )
    rows = correlation_matrix(df, "t").collect()
    got = {(r["col_x"], r["col_y"]): r["corr"] for r in rows}
    assert got[("a", "b")] == 1.0     # perfectly correlated
    assert got[("a", "c")] == -1.0    # perfectly anti-correlated
    assert got[("a", "k")] is None    # zero variance -> undefined
    assert all(r["n_pairs"] == 3 for r in rows)


def test_correlation_matrix_pairwise_null_semantics(spark):
    from dbqt_spark.operators.profile import correlation_matrix

    # the (a,b) pair must use only rows where BOTH are non-null
    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, None), (3.0, 6.0), (None, 8.0)],
        "a double, b double",
    )
    rows = correlation_matrix(df, "t").collect()
    assert rows[0]["n_pairs"] == 2
    assert rows[0]["corr"] == 1.0


def test_correlation_matrix_approx_mode(spark):
    """exact=False (the at-scale arm: built-in F.corr co-moments) must
    agree with the exact-decimal arm within tolerance, share its
    zero-variance -> NULL and pairwise-complete contracts, and survive
    values outside the DECIMAL(18,6) domain."""
    from dbqt_spark.operators.profile import correlation_matrix

    df = spark.createDataFrame(
        [(1.0, 2.1, 7.0, None),
         (2.0, 3.9, 7.0, 1.0e15),
         (3.0, 6.2, 7.0, 2.0e15),
         (4.0, 7.8, 7.0, 4.0e15),
         (None, 1.0, 7.0, 8.0e15)],
        "a double, b double, k double, big double",
    )
    exact = {
        (r["col_x"], r["col_y"]): (r["n_pairs"], r["corr"])
        for r in correlation_matrix(df, "t", columns=["a", "b", "k"])
        .collect()
    }
    approx = {
        (r["col_x"], r["col_y"]): (r["n_pairs"], r["corr"])
        for r in correlation_matrix(df, "t", exact=False).collect()
    }
    for pair, (n, c) in exact.items():
        an, ac = approx[pair]
        assert an == n
        if c is None:
            assert ac is None  # zero variance in both modes
        else:
            assert abs(ac - c) <= 1e-4 + 1e-9
    # out-of-decimal-domain column: exact mode NULLs it out (n_pairs
    # counts the try_cast survivors: none), approx mode correlates it
    assert approx[("a", "big")][0] == 3
    assert approx[("a", "big")][1] == 0.982  # doubling vs linear, r4


def test_correlation_matrix_approx_single_scan_plan(spark, sf_dir):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.profile import correlation_matrix

    li = load_table(spark, sf_dir, "lineitem")
    plan = formatted_plan(
        correlation_matrix(li, "lineitem",
                           columns=["l_quantity", "l_extendedprice"],
                           exact=False)
    )
    assert plan.count("Scan parquet") <= 2
    assert "SinglePartition" in plan
    assert "hashpartitioning" not in plan
    assert "Join" not in plan


def test_correlation_matrix_single_scan_plan(spark, sf_dir):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.profile import correlation_matrix

    li = load_table(spark, sf_dir, "lineitem")
    plan = formatted_plan(
        correlation_matrix(li, "lineitem",
                           columns=["l_quantity", "l_extendedprice"])
    )
    # ONE scan (formatted plans list each node twice: tree + detail),
    # no data shuffle — the only Exchange is the single-row final agg
    assert plan.count("Scan parquet") <= 2
    assert "SinglePartition" in plan
    assert "hashpartitioning" not in plan
    assert "Join" not in plan


def test_numeric_histogram_bounds_broadcast_plan(spark, sf_dir):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.profile import numeric_histogram

    li = load_table(spark, sf_dir, "lineitem")
    plan = formatted_plan(
        numeric_histogram(li, "lineitem",
                          columns=["l_quantity", "l_extendedprice"])
    )
    # one-row bounds joined via broadcast, never a shuffled join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the counting aggregate partial-aggregates before its Exchange
    assert "partial_count" in plan or "HashAggregate" in plan


def test_lm_score_known_values(spark):
    import math

    from dbqt_spark.operators.textstats import lm_score

    # corpus: T=5 tokens, V=3 terms; p(a)=p(b)=3/8, p(c)=2/8
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in lm_score(df).collect()}
    lp_ab = round(math.log(3 / 8), 6)
    lp_c = round(math.log(2 / 8), 6)
    assert rows[1]["n_tokens"] == 3
    assert rows[1]["avg_logprob"] == pytest.approx(lp_ab, abs=1e-6)
    assert rows[2]["n_tokens"] == 2
    assert rows[2]["avg_logprob"] == pytest.approx(
        (lp_ab + lp_c) / 2, abs=1e-6
    )
    # perplexity inverts the (rounded) mean log-prob
    assert rows[1]["perplexity"] == pytest.approx(
        math.exp(-rows[1]["avg_logprob"]), abs=1e-4
    )
    # the rarer-token doc is strictly more perplexing
    assert rows[2]["perplexity"] > rows[1]["perplexity"]


def test_lm_score_empty_and_null_text_dropped(spark):
    from dbqt_spark.operators.textstats import lm_score

    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, None)], "doc_id long, text string"
    )
    ids = [r["doc_id"] for r in lm_score(df).collect()]
    assert ids == [1]  # token-less docs emit no score row


def test_lm_score_vocab_broadcast_plan(spark, sf_dir):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.textstats import lm_score

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(lm_score(docs))
    # vocabulary log-probs join back broadcast; the corpus-sized frame
    # is never sort-merge joined
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_frequent_values_known_and_tie_cut(spark):
    from dbqt_spark.operators.profile import frequent_values

    df = spark.createDataFrame(
        [("x", 1), ("x", 2), ("y", 2), ("z", 2), (None, 2)],
        "s string, n int",
    )
    rows = frequent_values(df, "t", k=2).collect()
    got = {
        (r["col_name"], r["rank"]): (r["value"], r["n_rows"]) for r in rows
    }
    # column s: x twice, then the y/z tie cut by value asc; NULL excluded
    assert got[("s", 1)] == ("x", 2)
    assert got[("s", 2)] == ("y", 1)
    # column n: 2 appears 4x (including the NULL-s row), 1 once
    assert got[("n", 1)] == ("2", 4)
    assert got[("n", 2)] == ("1", 1)


def test_frequent_values_partial_agg_plan(spark, sf_dir):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.profile import frequent_values

    li = load_table(spark, sf_dir, "lineitem")
    plan = formatted_plan(
        frequent_values(li, "lineitem",
                        columns=["l_returnflag", "l_linestatus"])
    )
    # the count agg partial-aggregates BEFORE its Exchange: the shuffle
    # carries per-partition pre-counts, not exploded rows
    tree = plan.split("\n\n")[0].splitlines()
    first_exchange = next(
        i for i, l in enumerate(tree) if "Exchange" in l
    )
    below = "\n".join(tree[first_exchange:])
    assert "HashAggregate" in below
    assert "SortMergeJoin" not in plan


def test_histogram_and_corr_exclude_out_of_domain_values(spark):
    """Values beyond the DECIMAL(18,6) canon must be EXCLUDED, not raise
    under the session's ANSI mode (try_cast contract)."""
    from dbqt_spark.operators.profile import (
        correlation_matrix,
        numeric_histogram,
    )

    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (1e15, 3.0)], "a double, b double"
    )
    hist = numeric_histogram(df, "t", n_buckets=2).collect()
    a_rows = [r for r in hist if r["col_name"] == "a"]
    # the 1e15 row vanished: bounds and counts come from {1, 2}
    assert sum(r["n_rows"] for r in a_rows) == 2
    assert a_rows[0]["max_value"] == 2.0

    corr = correlation_matrix(df, "t").collect()
    assert corr[0]["n_pairs"] == 2  # pairwise-complete over {1, 2}


# -- mixture sampler ----------------------------------------------------------


def test_mixture_sample_nested_and_deterministic(spark):
    from dbqt_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "zh") for i in range(200)],
        ["doc_id", "lang"],
    )
    half = {r["doc_id"] for r in
            mixture_sample(df, "lang", {"en": 0.5, "zh": 0.5}).collect()}
    fifth = {r["doc_id"] for r in
             mixture_sample(df, "lang", {"en": 0.2, "zh": 0.2}).collect()}
    # nested-sample property: lowering a rate only REMOVES rows
    assert fifth <= half
    assert 0 < len(fifth) < len(half) < 200
    # pure function of (seed, id): re-run identical
    again = {r["doc_id"] for r in
             mixture_sample(df, "lang", {"en": 0.5, "zh": 0.5}).collect()}
    assert again == half
    # rate 1.0 keeps everything; rate 0.0 drops the group entirely
    all_en = mixture_sample(df, "lang", {"en": 1.0, "zh": 0.0}).collect()
    assert len(all_en) == 100 and all(r["lang"] == "en" for r in all_en)


def test_mixture_sample_null_group_and_default(spark):
    from dbqt_spark.operators.sampling import mixture_sample
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, None), (2, "x"), (3, "y")], ["doc_id", "lang"]
    )
    # None key targets the NULL group; unlisted groups use default_rate
    kept = mixture_sample(
        df, "lang", {None: 0.0, "x": 1.0}, default_rate=1.0
    ).collect()
    assert sorted(r["doc_id"] for r in kept) == [2, 3]
    with _pytest.raises(ValueError, match="rate"):
        mixture_sample(df, "lang", {"x": 1.5})


def test_mixture_sample_no_shuffle_plan(spark, sf_dir):
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(mixture_sample(docs, "lang", {"en": 0.5}))
    assert "Exchange" not in plan and "Join" not in plan


def test_wide_profile_bounded_plan(spark):
    """A 300-numeric-column table must profile with BOUNDED per-scan
    plan size: the aggregate expressions chunk at
    MAX_AGG_EXPRS_PER_SCAN per scan (plan-construction cost at m~500+
    columns otherwise dwarfs the query), values identical to the
    single-plan shape. 300 cols x 6 aggs = 1800 exprs -> 2 scans."""
    import re

    from pyspark.sql import functions as F

    from dbqt_spark.operators.profile import profile_numeric
    from dbqt_spark.plans import formatted_plan

    wide = spark.range(50).select(
        "id", *[((F.col("id") * (i + 3)) % 97).alias(f"c{i}") for i in range(299)]
    )
    prof = profile_numeric(wide, "wide")
    plan = formatted_plan(prof)
    n_scans = len(re.findall(r"Scan ", plan)) or plan.count("Range")
    # 300 numeric cols x 6 exprs / 1200 cap = 2 bounded scans
    assert plan.count("HashAggregate") >= 2 or "Union" in plan
    rows = {r["col_name"]: r for r in prof.collect()}
    assert len(rows) == 300
    assert rows["id"]["min_value"] == 0.0 and rows["id"]["max_value"] == 49.0
    # spot-check a chunk-2 column computes correctly too
    assert rows["c298"]["non_null_count"] == 50


def test_chunked_profile_matches_single_plan(spark, sf_dir):
    """Forcing tiny chunks must not change any profiler value — each
    chunk's arithmetic is independent, so the union equals the
    single-plan result bit-for-bit (exact decimal sums) on every
    operator that chunks."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators import profile as P

    li = load_table(spark, sf_dir, "lineitem")

    def snap():
        return (
            sorted(map(tuple, P.profile_columns(li, "t").collect())),
            sorted(map(tuple, P.profile_numeric(li, "t").collect())),
            sorted(map(tuple, P.correlation_matrix(li, "t").collect())),
            sorted(
                map(
                    tuple,
                    P.correlation_matrix(li, "t", exact=False).collect(),
                )
            ),
        )

    want = snap()
    orig = P.MAX_AGG_EXPRS_PER_SCAN
    P.MAX_AGG_EXPRS_PER_SCAN = 13  # forces many chunks everywhere
    try:
        got = snap()
    finally:
        P.MAX_AGG_EXPRS_PER_SCAN = orig
    assert got == want


def test_line_level_dedup_keep_first(spark):
    """MassiveText policy: each distinct line keeps exactly its first
    (doc, position) occurrence; empty-line runs are preserved; a fully
    deduplicated document survives as empty text."""
    from dbqt_spark.operators.linededup import line_level_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha\nboiler\n\nbeta", "a"),
            (2, "boiler\ngamma\nboiler", "b"),
            (3, "boiler", "c"),
        ],
        ["doc_id", "text", "src"],
    )
    rows = {
        r["doc_id"]: r
        for r in line_level_dedup(df, mode="keep_first").collect()
    }
    # doc1 untouched (all lines first occurrences, incl. the empty line)
    assert rows[1]["text"] == "alpha\nboiler\n\nbeta"
    assert rows[1]["n_removed_lines"] == 0
    # doc2: both boiler copies removed (first occurrence was doc1);
    # the doc-2-internal repeat is also a later occurrence
    assert rows[2]["text"] == "gamma" and rows[2]["n_removed_lines"] == 2
    # doc3 fully deduplicated -> empty text, row survives
    assert rows[3]["text"] == "" and rows[3]["n_removed_lines"] == 1
    # passthrough columns intact
    assert rows[2]["src"] == "b"


def test_line_level_dedup_drop_frequent(spark):
    """C4-style policy: every occurrence of a line reaching min_count
    goes, including the first."""
    from dbqt_spark.operators.linededup import line_level_dedup

    df = spark.createDataFrame(
        [
            (1, "boiler\nunique1"),
            (2, "boiler\nunique2"),
            (3, "boiler\ntwice"),
            (4, "twice"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in line_level_dedup(
            df, mode="drop_frequent", min_count=3
        ).collect()
    }
    # boiler occurs 3x -> removed everywhere; twice occurs 2x -> kept
    assert rows[1]["text"] == "unique1"
    assert rows[2]["text"] == "unique2"
    assert rows[3]["text"] == "twice"
    assert rows[4]["text"] == "twice"
    assert rows[1]["n_removed_lines"] == 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="mode"):
        line_level_dedup(df, mode="nope")


def test_sequence_pack_semantics(spark):
    """Known-answer packing: seq_len=10, sep=1. Doc token counts
    4, 12, 0, 3 -> starts 0, 5, 18, 19; doc 2 spans a boundary; the
    empty doc occupies no sequence but its separator advances the
    stream."""
    from dbqt_spark.operators.packing import sequence_pack

    df = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, " ".join(f"t{i}" for i in range(12))),
            (3, "   "),
            (4, "x y z"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in sequence_pack(df, seq_len=10, n_buckets=2).collect()
    }
    assert (rows[1]["global_start"], rows[1]["first_seq"],
            rows[1]["last_seq"], rows[1]["seq_offset"]) == (0, 0, 0, 0)
    # doc 2 starts at 5 (4 tokens + 1 sep), spans tokens 5..16 ->
    # sequences 0 and 1
    assert (rows[2]["global_start"], rows[2]["first_seq"],
            rows[2]["last_seq"]) == (5, 0, 1)
    # empty doc: no sequence, separator still advances (18 -> 19)
    assert rows[3]["n_tokens"] == 0 and rows[3]["first_seq"] is None
    assert rows[3]["global_start"] == 18
    assert rows[4]["global_start"] == 19


def test_sequence_pack_bucketing_invariant(spark, sf_dir):
    """The two-phase distributed prefix sum must give the same packing
    for ANY bucket count (bucketing = parallelism knob only)."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.packing import sequence_pack

    docs = load_table(spark, sf_dir, "documents")
    base = sorted(map(tuple, sequence_pack(docs, 128, n_buckets=1).collect()))
    for nb in (4, 64, 2048):
        got = sorted(
            map(tuple, sequence_pack(docs, 128, n_buckets=nb).collect())
        )
        assert got == base


def test_sequence_pack_plan_size_bounded(spark, sf_dir):
    """Thousands of buckets must NOT grow the expression TREE: bucket
    assignment is one lambda over one sorted-array literal and base
    offsets are one element_at over a dense array — never an
    n_buckets-deep chained CASE (which breaks codegen at the bucket
    counts a 100 TB corpus needs)."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.packing import sequence_pack
    from dbqt_spark.plans import formatted_plan

    docs = load_table(spark, sf_dir, "documents")
    small = formatted_plan(sequence_pack(docs, 128, n_buckets=4))
    big = formatted_plan(sequence_pack(docs, 128, n_buckets=2048))
    # CASE usage stays constant as buckets scale (the literal ARRAYS
    # grow, the expression tree does not)
    assert big.count("CASE WHEN") == small.count("CASE WHEN")
    assert big.count("aggregate(") == small.count("aggregate(")
    assert "element_at" in big


def test_packed_sequences_roundtrip(spark):
    """Materialized sequences re-concatenate to EXACTLY the packed
    token stream: tokens in doc order with one EOS after each doc,
    chunked at seq_len; every sequence but the last is full; a doc
    spanning a boundary is split at the right token."""
    from dbqt_spark.operators.packing import packed_sequences

    df = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, " ".join(f"t{i}" for i in range(12))),
            (3, "   "),
            (4, "x y z"),
        ],
        ["doc_id", "text"],
    )
    rows = packed_sequences(df, seq_len=10, n_buckets=2).orderBy(
        "seq_id"
    ).collect()
    stream = []
    for toks in (["a", "b", "c", "d"],
                 [f"t{i}" for i in range(12)], [], ["x", "y", "z"]):
        stream += toks + ["<|eos|>"]
    want = [
        " ".join(stream[i:i + 10]) for i in range(0, len(stream), 10)
    ]
    assert [r["seq_id"] for r in rows] == list(range(len(want)))
    assert [r["text"] for r in rows] == want
    assert [r["n_tokens"] for r in rows] == [
        len(w.split()) for w in want
    ]
    # full sequences everywhere except the tail
    assert all(n == 10 for n in [r["n_tokens"] for r in rows][:-1])


def test_packed_sequences_zero_span_guard(spark):
    """sep_tokens=0 + an empty doc -> span 0: the doc must occupy NO
    sequence (the unguarded explode would emit a descending
    F.sequence range and fabricate empty rows)."""
    from dbqt_spark.operators.packing import packed_sequences

    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "c d")], ["doc_id", "text"]
    )
    rows = packed_sequences(
        df, seq_len=3, sep_tokens=0, n_buckets=1
    ).orderBy("seq_id").collect()
    assert [(r["seq_id"], r["text"], r["n_tokens"]) for r in rows] == [
        (0, "a b c", 3), (1, "d", 1)
    ]


def test_quantile_histogram_equi_depth_and_ties(spark):
    """Quantile buckets split by rank (a skewed column spreads across
    buckets instead of collapsing into one fixed-width bucket), and a
    heavy repeated value collapses ties into the lower bucket."""
    from dbqt_spark.operators.profile import quantile_histogram

    rows = [(i, float(i)) for i in range(100)] + [
        (100 + i, 1e6) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "id long, v double")
    out = {
        r["bucket"]: r
        for r in quantile_histogram(
            df, "t", columns=["v"], n_buckets=4
        ).collect()
    }
    # 104 rows over 4 buckets: each bucket ~rank-quartile despite the
    # 1e6 outliers (a fixed-width histogram would put 100 rows in
    # bucket 0 and 4 in the last)
    assert set(out) == {0, 1, 2, 3}
    assert sum(r["n_rows"] for r in out.values()) == 104
    assert max(r["n_rows"] for r in out.values()) <= 30
    assert out[0]["lo"] == 0.0 and out[3]["hi"] == 1e6

    # all-equal column: every row lands in bucket 0, edges degenerate
    eq = spark.createDataFrame([(i, 7.0) for i in range(10)], "id long, v double")
    got = quantile_histogram(eq, "t", columns=["v"], n_buckets=4).collect()
    assert len(got) == 1 and got[0]["bucket"] == 0 and got[0]["n_rows"] == 10

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_buckets"):
        quantile_histogram(eq, "t", n_buckets=0)


def test_perplexity_buckets_tercile_split(spark):
    """Head/middle/tail are rank terciles of the LM perplexity: natural
    repeated-vocabulary docs land in head, rare-vocabulary docs in
    tail; bucket sizes are ~equal on distinct scores."""
    from dbqt_spark.operators.textstats import perplexity_buckets

    common = "the cat sat on the mat and the dog sat on the rug"
    # doc i appends i singleton (rare) words -> strictly increasing
    # perplexity with i. With 9 docs the discrete cuts land on the 3rd
    # (3/9 >= .33333333) and 7th (6/9 < .66666700 -> next value) ranks:
    # head=3, middle=4, tail=2 — the cume_dist >= q convention both
    # engines share.
    docs = [
        (i, common + "".join(f" rare{i}w{j}" for j in range(i)))
        for i in range(9)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = sorted(perplexity_buckets(df).collect(), key=lambda r: r["doc_id"])
    ppl = [r["perplexity"] for r in rows]
    assert ppl == sorted(ppl)  # monotone in rare-word count
    assert [r["ppl_bucket"] for r in rows] == (
        ["head"] * 3 + ["middle"] * 4 + ["tail"] * 2
    )

    import pytest as _pytest

    with _pytest.raises(ValueError, match="cuts"):
        perplexity_buckets(df, cuts=(0.7, 0.3))


def test_stats_store_merge_associativity_and_hll_bound(spark, sf_dir, tmp_path):
    """Per-batch segments merge to the same profile as a single-segment
    store (sketch union is associative), exact stats match a direct
    aggregate, and the HLL distinct estimate lands within 5% of exact."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.statstore import (
        stats_store_append,
        stats_store_profile,
    )

    li = load_table(spark, sf_dir, "lineitem")
    split_store = str(tmp_path / "split")
    one_store = str(tmp_path / "one")
    for k in range(4):
        stats_store_append(
            li.filter(f"l_orderkey % 4 = {k}"), split_store, "lineitem"
        )
    stats_store_append(li, one_store, "lineitem")

    merged = {
        r["col_name"]: r
        for r in stats_store_profile(spark, split_store).collect()
    }
    single = {
        r["col_name"]: r
        for r in stats_store_profile(spark, one_store).collect()
    }
    exact = li.selectExpr(
        "count(*) AS n",
        "count(distinct l_orderkey) AS d_ok",
        "count(distinct l_returnflag) AS d_rf",
        "CAST(min(l_quantity) AS DOUBLE) AS mn",
        "CAST(max(l_quantity) AS DOUBLE) AS mx",
    ).collect()[0]

    for col in merged:
        m, s = merged[col], single[col]
        # exact stats identical between groupings and vs direct
        assert (m["n_rows"], m["null_count"], m["min_value"],
                m["max_value"]) == (
            s["n_rows"], s["null_count"], s["min_value"], s["max_value"]
        )
        # sketch union: the 4-way merge and the single sketch agree
        # within sketch error (DataSketches unions are not bit-exact
        # vs a directly-built sketch, only error-bounded)
        hi = max(m["approx_distinct"], s["approx_distinct"], 1)
        assert abs(m["approx_distinct"] - s["approx_distinct"]) / hi <= 0.02
    assert merged["l_orderkey"]["n_rows"] == exact["n"]
    assert merged["l_quantity"]["min_value"] == exact["mn"]
    assert merged["l_quantity"]["max_value"] == exact["mx"]
    # HLL error bound: within 5% on the biggest-cardinality column,
    # exact at tiny cardinality
    est = merged["l_orderkey"]["approx_distinct"]
    assert abs(est - exact["d_ok"]) / exact["d_ok"] <= 0.05
    assert merged["l_returnflag"]["approx_distinct"] == exact["d_rf"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no columns"):
        stats_store_append(li, str(tmp_path / "x"), "t", columns=["nope"])


def test_quantile_cuts_approx_arm(spark, sf_dir):
    """The exact=False (at-scale) arms of quantile_histogram and
    perplexity_buckets keep the output contract; at this data size the
    GK sketch is rank-exact, so results match the exact arm."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.profile import quantile_histogram
    from dbqt_spark.operators.textstats import perplexity_buckets

    li = load_table(spark, sf_dir, "lineitem")
    ex = sorted(
        map(tuple, quantile_histogram(li, "t", columns=["l_quantity"]).collect())
    )
    ap = sorted(
        map(
            tuple,
            quantile_histogram(
                li, "t", columns=["l_quantity"], exact=False
            ).collect(),
        )
    )
    assert ap == ex

    docs = load_table(spark, sf_dir, "documents").limit(200)
    ex2 = sorted(map(tuple, perplexity_buckets(docs).collect()))
    ap2 = sorted(map(tuple, perplexity_buckets(docs, exact=False).collect()))
    assert ap2 == ex2


def test_corpus_card_dup_rate_and_grouping(spark):
    from dbqt_spark.operators.textstats import corpus_card

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox", "web", "en"),
            (2, "the quick brown fox", "web", "en"),   # exact dup
            (3, "something else entirely", "web", "en"),
            (4, "otra cosa distinta aqui", "books", "es"),
        ],
        ["doc_id", "text", "source", "lang"],
    )
    rows = {
        (r["source"], r["lang"]): r
        for r in corpus_card(df, group_cols=["source", "lang"]).collect()
    }
    web = rows[("web", "en")]
    assert web["n_docs"] == 3 and web["n_distinct_texts"] == 2
    # exact IEEE quotient — no display rounding (determinism contract)
    assert web["dup_rate"] == 1 - 2 / 3
    books = rows[("books", "es")]
    assert books["n_docs"] == 1 and books["dup_rate"] == 0.0
    assert books["total_tokens"] == 4


def test_normalize_text_unicode_semantics(spark):
    """NFC composes combining marks, NFKC folds compatibility forms
    (the fi ligature), case and whitespace normalize AFTER the Unicode
    step (NFKC can create both); NULLs pass through."""
    from dbqt_spark.operators.normalize import normalize_text

    df = spark.createDataFrame(
        [
            (1, "Café  X"),       # e + combining acute, double space
            (2, "ﬁne  STUFF"),      # fi ligature
            (3, None),
            (4, "  plain  "),
        ],
        ["doc_id", "text"],
    )
    nfc = {
        r["doc_id"]: r["text"]
        for r in normalize_text(df, form="NFC").collect()
    }
    assert nfc[1] == "café x"     # composed é, collapsed, lowered
    assert nfc[2] == "ﬁne stuff"  # NFC keeps the ligature
    assert nfc[3] is None
    assert nfc[4] == "plain"

    nfkc = {
        r["doc_id"]: r["text"]
        for r in normalize_text(df, form="NFKC").collect()
    }
    assert nfkc[2] == "fine stuff"     # NFKC folds the ligature

    # form=None skips the Arrow step entirely (pure-JVM plan)
    out = normalize_text(df, form=None)
    assert {r["doc_id"]: r["text"] for r in out.collect()}[4] == "plain"
    from dbqt_spark.plans import formatted_plan

    assert "ArrowEvalPython" not in formatted_plan(out)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="form"):
        normalize_text(df, form="NFX")


def test_line_level_dedup_random_reference(spark):
    """Randomized corpora vs a pure-python reference for BOTH policies
    (seeded): rebuilt texts and removal counts match exactly."""
    import random

    from dbqt_spark.operators.linededup import line_level_dedup

    rnd = random.Random(11)
    vocab = [f"line{i}" for i in range(12)] + ["", "shared"]
    docs = [
        (i, "\n".join(rnd.choice(vocab) for _ in range(rnd.randint(1, 6))))
        for i in range(25)
    ]

    def ref(mode, min_count):
        lines = [
            (i, p, ln)
            for i, t in docs
            for p, ln in enumerate(t.split("\n"))
        ]
        if mode == "keep_first":
            first = {}
            for i, p, ln in sorted(lines):
                first.setdefault(ln, (i, p))
            keep = lambda i, p, ln: first[ln] == (i, p)
        else:
            from collections import Counter

            cnt = Counter(ln for _, _, ln in lines)
            keep = lambda i, p, ln: cnt[ln] < min_count
        out = {}
        for i, t in docs:
            kept, removed = [], 0
            for p, ln in enumerate(t.split("\n")):
                if keep(i, p, ln):
                    kept.append(ln)
                else:
                    removed += 1
            out[i] = ("\n".join(kept), removed)
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    for mode, mc in (("keep_first", 3), ("drop_frequent", 3)):
        got = {
            r["doc_id"]: (r["text"], r["n_removed_lines"])
            for r in line_level_dedup(df, mode=mode, min_count=mc).collect()
        }
        assert got == ref(mode, mc), f"mode={mode}"


def test_group_cap_sample_matches_naive_window(spark):
    """The two-phase bucketed plan must equal the naive per-group rank
    for every cap, including caps landing inside a boundary bucket, a
    NULL group, and groups smaller than the cap."""
    from pyspark.sql import Window

    from dbqt_spark.operators.dedup import portable_token_hash
    from dbqt_spark.operators.sampling import stratified_sample

    rows = (
        [(i, "big") for i in range(200)]
        + [(1000 + i, "small") for i in range(3)]
        + [(2000 + i, None) for i in range(7)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    key = F.concat_ws(":", F.lit("42"), F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(
        portable_token_hash(key), "doc_id"
    )
    for cap in (1, 5, 50, 500):
        got = sorted(
            r["doc_id"]
            for r in stratified_sample(
                df, "source", cap, id_col="doc_id"
            ).collect()
        )
        want = sorted(
            r["doc_id"]
            for r in df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= cap)
            .collect()
        )
        assert got == want, f"cap={cap}"
    # determinism: same membership on re-run
    a = {r["doc_id"] for r in stratified_sample(df, "source", 5).collect()}
    b = {r["doc_id"] for r in stratified_sample(df, "source", 5).collect()}
    assert a == b
    # per-group counts respect the cap
    out = stratified_sample(df, "source", 5)
    counts = dict(
        (r["source"], r["n"])
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    )
    assert counts["big"] == 5 and counts["small"] == 3 and counts[None] == 5


def test_group_cap_sample_no_full_group_window(spark, sf_dir):
    """Plan guard: the only row-level window partitions by (group,
    bucket) — never by the bare group — so a hot domain's rank window
    shrinks 4096x. The bare-group window exists only over the
    aggregated (group, bucket) counts frame (<= 4096 rows/group)."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.sampling import stratified_sample
    from dbqt_spark.plans import formatted_plan

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(stratified_sample(docs, "source", 10))
    windows = [
        ln for ln in plan.splitlines()
        if "row_number() windowspecdefinition" in ln
    ]
    assert windows  # the rank window exists...
    # ...and every one is keyed by BOTH __g and __bucket
    assert all("__bucket" in ln for ln in windows)


def test_classifier_score_semantics(spark):
    """Known-weight scoring: mean token weight through the sigmoid,
    unknown tokens weigh 0, empty/null docs score sigmoid(bias)."""
    import math

    from dbqt_spark.operators.classifier import (
        classifier_filter,
        classifier_score,
    )

    w = {"good": 1.0, "bad": -1.0}
    df = spark.createDataFrame(
        [
            (1, "good good good"),       # mean 1.0
            (2, "bad bad"),              # mean -1.0
            (3, "good bad"),             # mean 0.0
            (4, "unknown words only"),   # mean 0.0
            (5, ""),                     # no tokens
            (6, None),                   # null text
            (7, "GOOD"),                 # lowercased before lookup
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["score"] for r in classifier_score(df, w).collect()}
    sig = lambda x: round(1.0 / (1.0 + math.exp(-x)), 6)
    assert got[1] == sig(1.0)
    assert got[2] == sig(-1.0)
    assert got[3] == sig(0.0) == got[4] == got[5] == got[6]
    assert got[7] == sig(1.0)
    assert len(got) == 7  # every doc scored, including empty/null

    # bias shifts every score; filter keeps the top band
    got_b = {
        r["doc_id"]: r["score"]
        for r in classifier_score(df, w, bias=2.0).collect()
    }
    assert got_b[2] == sig(1.0)  # -1 + 2
    kept = sorted(
        r["doc_id"] for r in classifier_filter(df, w, threshold=0.6).collect()
    )
    assert kept == [1, 7]
    # empty model: every doc scores sigmoid(bias)
    flat = {r["doc_id"]: r["score"] for r in classifier_score(df, {}).collect()}
    assert set(flat.values()) == {sig(0.0)}


def test_classifier_score_plan_broadcast_no_udf(spark, sf_dir):
    """The weight lookup must be a broadcast join (the corpus never
    shuffles for it) and the whole plan stays JVM-side."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.classifier import classifier_score
    from dbqt_spark.plans import formatted_plan

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(classifier_score(docs, {"the": 0.5, "and": 0.2}))
    assert "BroadcastHashJoin" in plan
    assert "ArrowEval" not in plan and "BatchEval" not in plan
    # the only KEYED non-broadcast exchange is the doc-keyed rollup
    # (the size-gated small-input RoundRobin spread — a no-op at
    # corpus scale — is exempt)
    import re

    shuffles = [
        blk
        for blk in re.split(r"\n(?=\(\d+\) )", plan)
        if blk.startswith("(")
        and ") Exchange" in blk.split("\n")[0]
        and "Broadcast" not in blk.split("\n")[0]
        and "RoundRobinPartitioning" not in blk
    ]
    assert len(shuffles) == 1, shuffles


def test_temperature_sample_rates(spark):
    """alpha=1 keeps everything; alpha=0 flattens toward the smallest
    group in expectation; the smallest group ALWAYS keeps rate 1; and
    kept sets nest as alpha falls (mixture_sample's threshold
    monotonicity)."""
    import pytest as _pytest

    from dbqt_spark.operators.sampling import temperature_sample

    rows = (
        [(i, "big") for i in range(400)]
        + [(1000 + i, "mid") for i in range(100)]
        + [(2000 + i, "small") for i in range(25)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    full = temperature_sample(df, "lang", alpha=1.0).count()
    assert full == 525  # natural distribution untouched

    half = temperature_sample(df, "lang", alpha=0.5)
    by_g = {
        r["lang"]: r["n"]
        for r in half.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert by_g["small"] == 25  # smallest group keeps rate 1
    # rate(big) = sqrt(25/400) = 0.25, rate(mid) = sqrt(25/100) = 0.5 —
    # hash-thresholded, so counts land near the expectation
    assert 60 <= by_g["big"] <= 140
    assert 30 <= by_g["mid"] <= 70

    flat = temperature_sample(df, "lang", alpha=0.0)
    flat_by_g = {
        r["lang"]: r["n"]
        for r in flat.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert flat_by_g["small"] == 25
    assert flat_by_g["big"] <= by_g["big"]  # nested as alpha falls
    kept_half = {r["doc_id"] for r in half.collect()}
    kept_flat = {r["doc_id"] for r in flat.collect()}
    assert kept_flat <= kept_half  # membership nests exactly

    with _pytest.raises(ValueError, match="alpha"):
        temperature_sample(df, "lang", alpha=1.5)


def test_duplicate_span_removal_semantics(spark):
    """ExactSubstr surgery: a 5-gram shared across docs (or repeated
    within one) is removed everywhere, covered tokens go with it,
    short/NULL docs pass through, a fully-covered doc empties."""
    import pytest as _pytest

    from dbqt_spark.operators.linededup import duplicate_span_removal

    rows = [
        (1, "aa bb cc dd ee ff unique1 tail1"),
        (2, "xx aa bb cc dd ee yy zz"),
        (3, "totally different words here now"),
        (4, "short"),
        (5, None),
        (6, "aa bb cc dd ee"),
        (7, "rr ss tt uu vv filler rr ss tt uu vv"),  # within-doc repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in duplicate_span_removal(df, k=5).collect()}
    assert out[1]["text"] == "ff unique1 tail1"
    assert out[1]["n_removed_tokens"] == 5
    assert out[2]["text"] == "xx yy zz"
    assert out[3]["n_removed_tokens"] == 0
    assert out[4]["text"] == "short"          # < k tokens: untouched
    assert out[5]["text"] is None             # NULL passthrough
    assert out[6]["text"] == "" and out[6]["n_removed_tokens"] == 5
    # within-doc repetition counts as duplication (Lee et al. semantics)
    assert out[7]["text"] == "filler"
    assert out[7]["n_removed_tokens"] == 10

    with _pytest.raises(ValueError, match="k must be"):
        duplicate_span_removal(df, k=0)
    with _pytest.raises(ValueError, match="min_count"):
        duplicate_span_removal(df, k=5, min_count=1)


def test_duplicate_span_removal_plan(spark, sf_dir):
    """The gram frequency must come from a partial-aggregated groupBy
    (hot grams collapse map-side), never a per-gram window over raw
    start rows."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.linededup import duplicate_span_removal
    from dbqt_spark.plans import formatted_plan

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(duplicate_span_removal(docs, k=5))
    # windows exist (per-doc gram build + cover), but none partitions
    # by the gram
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "__gram" not in ln
    # the dup-gram side partially aggregates before its exchange
    assert any(
        "partial_count" in blk and "__gram" in blk
        for blk in plan.split("\n\n")
    )


def test_curate_with_classifier_and_span_stages(spark):
    """The optional classifier-filter and span-surgery stages compose
    into the curation chain and equal the standalone operators applied
    in the same order; defaults-off leaves the classic chain
    unchanged."""
    from dbqt_spark.operators.classifier import classifier_filter
    from dbqt_spark.operators.linededup import duplicate_span_removal
    from dbqt_spark.operators.pipeline import CurateConfig, curate

    rows = [
        (1, "en", "the good data aa bb cc dd ee with the fine words"),
        (2, "en", "the good data xx aa bb cc dd ee yy more tokens"),
        (3, "en", "click buy free subscribe spam spam spam junk"),
        (4, "en", "the and of to a is in data with for clean prose"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    w = {"the": 1.0, "data": 0.8, "and": 0.6, "click": -2.0,
         "buy": -2.0, "free": -2.0, "subscribe": -2.0}
    cfg = CurateConfig(
        quality_quantile=0.0,      # heuristic gate keeps everything
        dedup="none", redact=False,
        classifier_weights=w, classifier_threshold=0.5,
        span_k=5,
    )
    got = {r["doc_id"]: r["text"] for r in curate(df, cfg).collect()}

    # expected = classifier filter then span surgery on the survivors
    kept = classifier_filter(df, w, threshold=0.5)
    want = {
        r["doc_id"]: r["text"]
        for r in duplicate_span_removal(kept, k=5).collect()
    }
    assert got == want
    assert 3 not in got                      # classifier dropped spam
    assert "aa bb cc dd ee" not in got[1]    # span removed from both
    assert "aa bb cc dd ee" not in got[2]

    # defaults off -> classic chain untouched (row set identical)
    base_cfg = CurateConfig(quality_quantile=0.0, dedup="none", redact=False)
    base = {r["doc_id"] for r in curate(df, base_cfg).collect()}
    assert base == {1, 2, 3, 4}


def test_chunk_documents_randomized_reference(spark):
    """Chunk boundaries over 120 random-length docs equal a driver-side
    reference implementation: full coverage, exact window texts, no
    chunk contained in its predecessor."""
    import random

    from dbqt_spark.operators.chunking import chunk_documents

    rnd = random.Random(11)
    docs = [
        (i, " ".join(f"w{i}_{j}" for j in range(rnd.randint(0, 40))))
        for i in range(120)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    C, s = 7, 5  # chunk_tokens=7, overlap=2
    got = {}
    for r in chunk_documents(df, chunk_tokens=C, overlap=C - s).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["text"], r["start_token"], r["n_tokens"])
        )

    for i, text in docs:
        toks = text.split()
        n = len(toks)
        if n == 0:
            assert i not in got
            continue
        starts = [0]
        while starts[-1] + C < n:
            starts.append(starts[-1] + s)
        want = [
            (c, " ".join(toks[st:st + C]), st, min(C, n - st))
            for c, st in enumerate(starts)
        ]
        assert sorted(got[i]) == want, f"doc {i}"
        # coverage: every token position inside some window
        covered = set()
        for _, _, st, ln in want:
            covered.update(range(st, st + ln))
        assert covered == set(range(n))


def test_chunk_documents_bpe_boundaries(spark):
    """VERDICT r10 ask #4: tokenizer-aware chunking. With a BPE
    segmenter, chunk boundaries fall on REAL token indices: each
    chunk's piece count matches the window, chunk text is the exact
    concatenation of its token pieces (lossless decode of that
    window), re-encoding a chunk yields exactly its n_tokens, and the
    whitespace default is untouched."""
    from dbqt_spark.functions.tokenize import (
        resolve_token_segmenter,
        simple_bpe,
        simple_bpe_segmenter,
    )
    from dbqt_spark.operators.chunking import chunk_documents

    merges = [("a", "b"), ("ab", "c"), ("l", "o"), ("lo", "w")]
    seg = simple_bpe_segmenter(merges)
    count = simple_bpe(merges)

    # segmenter contract on the driver first: lossless concatenation,
    # count parity with the counter arm
    for text in ("abc low lower abab", "  leading ws", "xyz", ""):
        pieces = seg(text)
        assert "".join(pieces) == text.rstrip() or (
            text.strip() == "" and pieces == []
        )
        assert len(pieces) == count(text)

    docs = [
        (1, "abc abc lower low abcab xyz"),   # multi-chunk under BPE
        (2, "ab"),                             # single piece
        (3, ""),                               # no chunks
        (4, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    C, ov = 4, 1
    got = {}
    for r in chunk_documents(
        df, chunk_tokens=C, overlap=ov, tokenizer=seg
    ).collect():
        got.setdefault(r["doc_id"], []).append(r)
    assert 3 not in got and 4 not in got

    for doc_id, text in docs[:2]:
        pieces = seg(text)
        n = len(pieces)
        stride = C - ov
        starts = [0]
        while starts[-1] + C < n:
            starts.append(starts[-1] + stride)
        rows = sorted(got[doc_id], key=lambda r: r["chunk_id"])
        assert [r["start_token"] for r in rows] == starts
        for r in rows:
            st = r["start_token"]
            window = pieces[st:st + C]
            # boundary correctness: the chunk IS its token window
            assert r["text"] == "".join(window)
            assert r["n_tokens"] == len(window)
            # re-encoding the chunk text gives back its token count
            # (boundaries never split a token)
            assert count(r["text"]) == len(window)

    # whitespace default unchanged: same call without tokenizer
    a = chunk_documents(df, chunk_tokens=C, overlap=ov).collect()
    b = chunk_documents(
        df, chunk_tokens=C, overlap=ov, tokenizer="whitespace"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    # hf: arm fails fast on the driver when the package is absent
    try:
        import tokenizers  # noqa: F401
    except ImportError:
        import pytest as _pytest

        with _pytest.raises(NotImplementedError, match="tokenizers"):
            resolve_token_segmenter("hf:gpt2")
    with pytest.raises(ValueError, match="tokenizer spec"):
        resolve_token_segmenter(123)


def test_statstore_trend_flags_anomalous_segment(spark, tmp_path):
    """A segment whose feed zeroed a column (null spike) and shrank
    must flag; steady segments must not. Unlabeled (legacy) segments
    merge into the profile but stay out of the trend."""
    from dbqt_spark.operators.statstore import (
        stats_store_append,
        stats_store_profile,
        stats_store_trend,
    )

    store = str(tmp_path / "store")
    steady = [(i, float(i)) for i in range(100)]
    for s in range(5):
        df = spark.createDataFrame(steady, "id long, v double")
        stats_store_append(df, store, "t", segment_id=f"d{s}")
    # broken batch: tiny and all-NULL v
    broken = spark.createDataFrame(
        [(i, None) for i in range(10)], "id long, v double"
    )
    stats_store_append(broken, store, "t", segment_id="d5")
    # legacy unlabeled segment
    stats_store_append(
        spark.createDataFrame(steady, "id long, v double"), store, "t"
    )

    chart = {
        (r["segment_id"], r["col_name"]): r
        for r in stats_store_trend(spark, store, "t").collect()
    }
    assert ("d5", "v") in chart
    bad = chart[("d5", "v")]
    assert bad["is_anomaly"] and bad["null_rate"] == 1.0
    assert all(
        not chart[(f"d{s}", "v")]["is_anomaly"] for s in range(5)
    )
    # unlabeled segment absent from the chart, present in the profile
    assert not any(k[0] is None for k in chart)
    prof = {
        r["col_name"]: r
        for r in stats_store_profile(spark, store).collect()
    }
    assert prof["v"]["n_rows"] == 5 * 100 + 10 + 100


def test_classifier_weight_key_normalization(spark):
    """Model keys are matched against LOWERCASED tokens: mixed-case
    exports still apply; genuinely colliding cased keys with different
    weights are refused."""
    import math

    import pytest as _pytest

    from dbqt_spark.operators.classifier import classifier_score

    df = spark.createDataFrame([(1, "The THE the")], ["doc_id", "text"])
    got = classifier_score(df, {"The": 1.0}).collect()[0]["score"]
    assert got == round(1.0 / (1.0 + math.exp(-1.0)), 6)
    # same weight under different cases is fine; different weights err
    assert classifier_score(df, {"The": 1.0, "the": 1.0}).count() == 1
    with _pytest.raises(ValueError, match="collide"):
        classifier_score(df, {"The": 1.0, "the": 0.5})


def test_best_quality_kept_argmax_and_ties(spark):
    from dbqt_spark.operators.clusters import best_quality_kept

    # cluster {1,2,5}: 5 has the top score; cluster {10,11}: tied
    # scores -> lowest id (10) wins
    pairs = spark.createDataFrame(
        [(1, 2), (2, 5), (10, 11)], ["id_a", "id_b"]
    )
    scores = spark.createDataFrame(
        [(1, 3.0), (2, 9.0), (5, 12.0), (10, 7.0), (11, 7.0)],
        ["doc_id", "score"],
    )
    rows = {r["doc_id"]: r for r in best_quality_kept(pairs, scores).collect()}
    assert set(rows) == {1, 2, 5, 10, 11}
    assert [rows[i]["is_kept"] for i in (1, 2, 5, 10, 11)] == [
        False, False, True, True, False,
    ]
    assert rows[5]["cluster_id"] == 1 and rows[10]["cluster_id"] == 10


def test_best_quality_kept_null_scores_lose_but_can_win_unscored(spark):
    from dbqt_spark.operators.clusters import best_quality_kept

    # 2 unscored (missing from scores): loses to scored 1.
    # cluster {20,21} entirely unscored: lowest id 20 still kept.
    pairs = spark.createDataFrame([(1, 2), (20, 21)], ["id_a", "id_b"])
    scores = spark.createDataFrame([(1, 0.5)], ["doc_id", "score"])
    rows = {r["doc_id"]: r for r in best_quality_kept(pairs, scores).collect()}
    assert rows[1]["is_kept"] is True and rows[2]["is_kept"] is False
    assert rows[20]["is_kept"] is True and rows[21]["is_kept"] is False


def test_cluster_size_report_histogram_and_singletons(spark):
    from dbqt_spark.operators.clusters import cluster_size_report

    # corpus of 8 docs: cluster {1,2,3}, cluster {4,5}, singletons 6,7,8
    corpus = spark.createDataFrame(
        [(i,) for i in range(1, 9)], ["doc_id"]
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"]
    )
    got = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"])
        for r in cluster_size_report(pairs, corpus).collect()
    }
    assert got == {1: (3, 3), 2: (1, 2), 3: (1, 3)}


def test_cluster_size_report_all_dup_corpus_has_no_singleton_row(spark):
    from dbqt_spark.operators.clusters import cluster_size_report

    corpus = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    got = cluster_size_report(pairs, corpus).collect()
    assert [(r["cluster_size"], r["n_clusters"], r["n_docs"])
            for r in got] == [(2, 1, 2)]


def test_contamination_overlap_fraction_and_clean_docs(spark):
    from dbqt_spark.operators.contamination import contamination_overlap

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # shares 'the quick brown'
            (2, "entirely disjoint words here"),
            (3, ""),                              # no grams
        ],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame(
        [(100, "the quick brown cat")], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r
        for r in contamination_overlap(corpus, eval_df, n=3).collect()
    }
    # doc 1: grams {the quick brown, quick brown fox, brown fox jumps};
    # eval grams {the quick brown, quick brown cat}; 1/3 hit
    assert rows[1]["n_ngrams"] == 3 and rows[1]["n_hit_ngrams"] == 1
    assert rows[1]["overlap_frac"] == round(1 / 3, 4)
    assert rows[2]["n_hit_ngrams"] == 0 and rows[2]["overlap_frac"] == 0.0
    # empty doc present with zeros, not dropped
    assert rows[3]["n_ngrams"] == 0 and rows[3]["overlap_frac"] == 0.0


def test_char_entropy_known_values(spark):
    import math

    from dbqt_spark.operators.textstats import char_entropy

    df = spark.createDataFrame(
        [
            (1, "aaaa"),      # one symbol -> 0
            (2, "ab"),        # uniform 2 -> ln 2
            (3, "aab"),       # 2/3, 1/3
            (4, ""),          # empty -> 0, n=0
            (5, None),        # NULL -> 0, n=0
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert rows[1]["n_chars"] == 4 and rows[1]["char_entropy"] == 0.0
    assert rows[2]["char_entropy"] == round(math.log(2), 4)
    expected3 = round(
        math.log(3) - (round(2 * math.log(2), 6) + 0.0) / 3, 4
    )
    assert rows[3]["char_entropy"] == expected3
    assert rows[4]["n_chars"] == 0 and rows[4]["char_entropy"] == 0.0
    assert rows[5]["n_chars"] == 0 and rows[5]["char_entropy"] == 0.0


def test_char_entropy_unicode_codepoints(spark):
    import math

    from dbqt_spark.operators.textstats import char_entropy

    # 'éé' is 2 codepoints of one symbol: n=2, H=0
    df = spark.createDataFrame([(1, "éé")], ["doc_id", "text"])
    r = char_entropy(df).collect()[0]
    assert r["n_chars"] == 2 and r["char_entropy"] == 0.0


def _naive_topk(df, k, seed=42):
    from pyspark.sql import Window

    from dbqt_spark.operators.dedup import portable_token_hash

    hkey = F.concat_ws(":", F.lit(str(seed)), F.col("doc_id").cast("string"))
    w = Window.partitionBy("g").orderBy(
        F.col("score").cast("double").desc(),
        portable_token_hash(hkey).asc(),
        F.col("doc_id").asc(),
    )
    sd = F.col("score").cast("double")
    return (
        df.filter(sd.isNotNull() & ~F.isnan(sd))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _topk_fixture(spark):
    import random

    random.seed(7)
    rows, i = [], 0
    for g, n in [("a", 30), ("b", 7), ("hot", 400), (None, 20)]:
        for _ in range(n):
            # heavy ties: integer scores; 'hot' is 80% one tied score —
            # the realistic classifier-bucket skew that forces the
            # hash-split path
            s = (
                3.0
                if (g == "hot" and random.random() < 0.8)
                else float(random.randint(0, 4))
            )
            if random.random() < 0.05:
                s = None
            rows.append((i, g, s))
            i += 1
    return spark.createDataFrame(rows, ["doc_id", "g", "score"])


def test_topk_per_group_matches_naive_window(spark):
    from dbqt_spark.operators.sampling import topk_per_group

    df = _topk_fixture(spark)
    for k, mwr, mr in [(5, 2, 8), (40, 3, 8), (13, 2, 0), (400, 2, 8)]:
        st: dict = {}
        got = sorted(
            r["doc_id"]
            for r in topk_per_group(
                df, "g", "score", k,
                max_window_rows=mwr, max_rounds=mr, stats=st,
            ).collect()
        )
        want = sorted(r["doc_id"] for r in _naive_topk(df, k).collect())
        assert got == want, (k, mwr, mr, st)
        assert "rounds" in st and "final_cells" in st
    # max_rounds=0 forces everything through the final-window path and
    # must still be exact
    # (covered by the (13, 2, 0) case above: final_cells > 0)


def test_topk_per_group_interval_resolution_no_giant_window(spark):
    """With a tiny max_window_rows the tied-score hot group must be
    resolved by interval refinement (hash splits), never by a window
    over the whole group: final cells stay under the bound."""
    from dbqt_spark.operators.sampling import topk_per_group

    df = _topk_fixture(spark)
    st: dict = {}
    got = topk_per_group(
        df, "g", "score", 40, max_window_rows=4, max_rounds=12, stats=st
    ).collect()
    want = {r["doc_id"] for r in _naive_topk(df, 40).collect()}
    assert {r["doc_id"] for r in got} == want
    assert st["rounds"] >= 2  # needed score AND hash rounds
    assert st["final_rows_max"] is None or st["final_rows_max"] <= 4


def test_topk_per_group_validation_and_null_scores(spark):
    from dbqt_spark.operators.sampling import topk_per_group

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 5.0)], ["doc_id", "g", "score"]
    )
    with pytest.raises(ValueError, match="k must be positive"):
        topk_per_group(df, "g", "score", 0)
    with pytest.raises(ValueError, match="max_rounds"):
        topk_per_group(df, "g", "score", 1, max_rounds=-1)
    # NULL scores are not eligible
    got = topk_per_group(df, "g", "score", 5).collect()
    assert [r["doc_id"] for r in got] == [2]


def test_hash_split_by_col_groups_stay_together(spark):
    from dbqt_spark.operators.sampling import hash_split

    df = spark.createDataFrame(
        [(i, f"domain{i % 7}") for i in range(200)] + [(999, None)],
        ["doc_id", "source"],
    )
    got = hash_split(df, by_col="source").collect()
    by_source: dict = {}
    for r in got:
        by_source.setdefault(r["source"], set()).add(r["split"])
    # every source maps to exactly ONE split — no leakage boundary
    assert all(len(v) == 1 for v in by_source.values())
    # and the NULL source got a deterministic assignment too
    assert len(by_source[None]) == 1
    # per-doc split would differ: same frame keyed by id has >1 split
    by_id = {r["split"] for r in hash_split(df).collect()}
    assert len(by_id) > 1


def test_blocklist_token_boundaries_and_drop(spark):
    from dbqt_spark.operators.redact import blocklist_drop, blocklist_scan

    df = spark.createDataFrame(
        [
            (1, "This CLASS is great"),  # 'ass' must NOT match 'class'
            (2, "what an ass move"),
            (3, "buy  now   please"),
            (4, "now buy later"),  # not adjacent -> no phrase hit
            (5, None),
            (6, "ass ass ass"),
        ],
        ["doc_id", "text"],
    )
    tok = {(r["doc_id"], r["n_blocked"])
           for r in blocklist_scan(df, ["ass"]).collect()}
    assert tok == {(2, 1), (6, 3)}
    ph = {(r["doc_id"], r["n_blocked"])
          for r in blocklist_scan(df, ["buy now"], mode="phrase").collect()}
    assert ph == {(3, 1)}
    kept = sorted(r["doc_id"] for r in blocklist_drop(df, ["ass"]).collect())
    assert kept == [1, 3, 4, 5]


def test_blocklist_validation(spark):
    from dbqt_spark.operators.redact import blocklist_scan

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="adjacency"):
        blocklist_scan(df, ["two words"])  # token mode rejects phrases
    with pytest.raises(ValueError, match="non-empty"):
        blocklist_scan(df, [])
    with pytest.raises(ValueError, match="blank"):
        blocklist_scan(df, ["  "])
    with pytest.raises(ValueError, match="mode"):
        blocklist_scan(df, ["x"], mode="regex")
    with pytest.raises(ValueError, match="expression bound"):
        blocklist_scan(df, [f"p {i}" for i in range(501)], mode="phrase")


def test_blocklist_token_plan_broadcasts_list(spark, sf_dir):
    from dbqt_spark.operators.redact import blocklist_scan
    from dbqt_spark.plans import plan_summary

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_summary(blocklist_scan(docs, ["spark"]))
    assert plan["broadcast_joins"] >= 1
    assert plan["sort_merge_joins"] == 0


def test_curate_blocklist_pregate(spark):
    from dbqt_spark.operators.pipeline import CurateConfig, curate
    from dbqt_spark.operators.redact import blocklist_drop

    rows = [
        (i, f"clean document number {i} with plenty of words here")
        for i in range(20)
    ] + [(100, "this document says badword loudly and often")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # quantile 0 keeps everything at the gate; per-doc groups
    cfg = CurateConfig(
        quality_quantile=0.0, group_col="doc_id",
        dedup="none", redact=False, blocklist=["badword"],
    )
    out = curate(df, cfg)
    ids = {r["doc_id"] for r in out.collect()}
    assert 100 not in ids and 0 in ids
    # equivalent to the standalone drop + the rest of the chain
    assert ids == {
        r["doc_id"] for r in blocklist_drop(df, ["badword"]).collect()
    }


def test_contamination_overlap_single_scan_broadcast_plan(spark, sf_dir):
    """overlap's at-scale contract: ONE corpus text scan (the mark join
    happens on the exploded rows before the per-doc agg — the naive
    totals-join-hits shape pays a second explode), eval side broadcast."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.contamination import contamination_overlap

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(
        contamination_overlap(
            docs.filter("doc_id % 97 != 0"),
            docs.filter("doc_id % 97 = 0"),
            n=3,
        )
    )
    assert "BroadcastHashJoin" in plan
    # exactly TWO parquet scans total: the exploded corpus pass and the
    # id-list join back (the eval side reuses one of them via its own
    # scan — count <= 3 keeps the assertion robust across reuse), and
    # critically only ONE scan feeds a Generate (the explode)
    n_generates = plan.count("Generate")
    assert n_generates >= 1
    tree = plan.split("\n\n")[0]
    assert tree.count("Generate explode") <= 2  # corpus + eval, never 3


def test_char_entropy_partial_agg_before_shuffle(spark, sf_dir):
    """The (doc, char) count must partial-aggregate map-side so the
    shuffle moves ~alphabet rows per doc, not n_chars rows."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.textstats import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(char_entropy(docs))
    tree = plan.split("\n\n")[0].splitlines()
    # find the first Exchange above the Generate (explode): a partial
    # HashAggregate must sit between them
    gen_idx = max(
        i for i, l in enumerate(tree) if "Generate" in l
    )
    between = tree[:gen_idx]
    exch_above = [i for i, l in enumerate(between) if "Exchange" in l]
    assert exch_above, "expected a shuffle above the explode"
    closest_exch = max(exch_above)
    assert any(
        "HashAggregate" in l for l in tree[closest_exch + 1 : gen_idx]
    ), "no map-side partial aggregate between explode and shuffle"


def test_weighted_sample_monotone_and_extremes(spark):
    from dbqt_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(
            [0.0, 1.0, 0.5, 0.25, None, -3.0, 7.0] * 30
        )],
        ["doc_id", "w"],
    )
    kept = {r["doc_id"] for r in weighted_sample(df, "w").collect()}
    rows = {r["doc_id"]: r["w"] for r in df.collect()}
    # weight 1 (and clamped >1) always kept; 0 / NULL / negative never
    for i, w in rows.items():
        if w is not None and w >= 1.0:
            assert i in kept
        if w is None or w <= 0.0:
            assert i not in kept
    # monotone nesting: survivors at half the weight are a subset
    half = df.withColumn("w", F.col("w") / 2)
    kept_half = {r["doc_id"] for r in weighted_sample(half, "w").collect()}
    assert kept_half <= kept
    # determinism
    again = {r["doc_id"] for r in weighted_sample(df, "w").collect()}
    assert again == kept


def test_robust_outliers_known_values_and_mad_zero(spark):
    from dbqt_spark.operators.profile import robust_outliers

    # group a: median 3, deviations {2,1,0,1,2} -> MAD 1
    # group b: >=half identical -> MAD 0 -> no rows
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "a", 3.0), (4, "a", 4.0),
         (5, "a", 5.0), (6, "b", 7.0), (7, "b", 7.0), (8, "b", 9.0),
         (9, None, None)],
        ["event_id", "g", "v"],
    )
    got = {r["event_id"]: r for r in robust_outliers(
        df, "v", "g", "event_id", k=10
    ).collect()}
    assert set(got) == {1, 2, 3, 4, 5}  # b's MAD=0 group excluded
    assert got[1]["robust_z"] == round((1 - 3) / 1.4826, 4)
    assert got[3]["robust_z"] == 0.0
    # robust to a wild outlier: the mean-z would drag sigma, the
    # robust z still flags it at a huge score
    df2 = spark.createDataFrame(
        [(i, "a", float(i % 7)) for i in range(50)] + [(99, "a", 1e9)],
        ["event_id", "g", "v"],
    )
    top = robust_outliers(df2, "v", "g", "event_id", k=1).collect()[0]
    assert top["event_id"] == 99 and abs(top["robust_z"]) > 1e6


def test_robust_outliers_approx_mode_close(spark):
    from dbqt_spark.operators.profile import robust_outliers

    df = spark.createDataFrame(
        [(i, "a", float(i)) for i in range(1000)], ["event_id", "g", "v"]
    )
    exact = {r["event_id"] for r in robust_outliers(
        df, "v", "g", "event_id", k=20
    ).collect()}
    approx = {r["event_id"] for r in robust_outliers(
        df, "v", "g", "event_id", k=20, exact=False
    ).collect()}
    # approx medians land near exact on a uniform ramp: the extreme
    # tail ids should coincide almost entirely
    assert len(exact & approx) >= 16


def test_readability_known_values(spark):
    from dbqt_spark.operators.textstats import readability

    df = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran!"),   # 6 words, 2 sentences
            (2, "xyzzy brr"),                    # no vowels -> min-1 rule
            (3, ""),                              # empty -> NULL scores
            (4, None),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in readability(df).collect()}
    r1 = rows[1]
    assert r1["n_words"] == 6 and r1["n_sentences"] == 2
    # syllables: the(1) cat(1) sat(1) the(1) dog(1) ran(1) = 6
    assert r1["n_syllables"] == 6
    wps, spw = 6 / 2, 6 / 6
    assert r1["flesch_ease"] == round(206.835 - 1.015 * wps - 84.6 * spw, 4)
    assert r1["fk_grade"] == round(0.39 * wps + 11.8 * spw - 15.59, 4)
    # 'xyzzy' has two y-runs (2 syllables); vowel-less 'brr' floors at
    # 1; no sentence marks but words exist -> 1 sentence floor
    r2 = rows[2]
    assert r2["n_syllables"] == 3 and r2["n_sentences"] == 1
    assert rows[3]["flesch_ease"] is None and rows[3]["n_words"] == 0
    assert rows[4]["fk_grade"] is None


def test_scalable_percentiles_equals_buffering_percentile(spark):
    from dbqt_spark.operators.profile import scalable_percentiles

    import random

    random.seed(11)
    # heavy ties + a wild tail to stress bucket walking
    vals = [float(random.randint(0, 9)) for _ in range(3000)] + [
        1e9, -1e9, 0.123456789,
    ]
    df = spark.createDataFrame([(v,) for v in vals], ["value"])
    st: dict = {}
    got = {
        r["q"]: r["value"]
        for r in scalable_percentiles(
            df, "value", qs=(0.0, 0.25, 0.5, 0.9, 1.0),
            max_collect=16, stats=st,
        ).collect()
    }
    want = {
        q: df.selectExpr(f"percentile(value, {q}) AS p").collect()[0]["p"]
        for q in (0.0, 0.25, 0.5, 0.9, 1.0)
    }
    for q in want:
        # BIT-identical, not merely close: the engine uses Spark
        # Percentile's exact interpolation arithmetic (lo*(1-f)+hi*f),
        # which is what lets size-gated routing swap arms silently
        assert got[q] == want[q], (q, got[q], want[q], st)
    # the tiny max_collect forces real range-refinement rounds
    assert st["rounds"] >= 2 and st["collected_rows"] <= 16 * 10


def test_scalable_percentiles_edges(spark):
    from dbqt_spark.operators.profile import scalable_percentiles

    # all-NULL column
    df = spark.createDataFrame([(None,), (None,)], "value double")
    got = scalable_percentiles(df, "value", qs=(0.5,)).collect()
    assert got[0]["value"] is None
    # constant column: every quantile is the constant
    df2 = spark.createDataFrame([(7.0,)] * 100, ["value"])
    got2 = scalable_percentiles(df2, "value", qs=(0.1, 0.9),
                                max_collect=5).collect()
    assert all(r["value"] == 7.0 for r in got2)
    with pytest.raises(ValueError, match="quantile"):
        scalable_percentiles(df2, "value", qs=(1.5,))


def test_scalable_group_percentiles_equals_buffering(spark):
    """The grouped refinement engine must return BIT-identical values
    to `percentile(...) GROUP BY` — forced through real multi-round
    refinement, with a NULL group and an all-NULL group in play."""
    from pyspark.sql import functions as F

    from dbqt_spark.operators.profile import scalable_group_percentiles

    import random

    random.seed(17)
    rows = []
    for g in ("a", "b", None):
        rows += [
            (g, float(random.randint(0, 999)) / 7.0) for _ in range(900)
        ]
    rows += [("empty", None)] * 10  # all-NULL group: no output rows
    df = spark.createDataFrame(rows, "g string, v double")
    st: dict = {}
    got = {
        (r["g"], r["q"]): r["value"]
        for r in scalable_group_percentiles(
            df, "v", "g", qs=(0.25, 0.5, 0.75),
            max_collect=20, n_buckets=16, stats=st,
        ).collect()
    }
    assert st["rounds"] >= 2
    want = {}
    for r in (
        df.filter("v IS NOT NULL")
        .groupBy("g")
        .agg(
            F.percentile(
                "v", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
            ).alias("p")
        )
        .collect()
    ):
        for q, val in zip((0.25, 0.5, 0.75), r["p"]):
            want[(r["g"], q)] = val
    assert got == want  # includes the NULL group; 'empty' absent
    assert not any(g == "empty" for g, _ in got)
    # guards
    with pytest.raises(ValueError, match="quantile"):
        scalable_group_percentiles(df, "v", "g", qs=(-0.1,))
    with pytest.raises(ValueError, match="max_groups"):
        scalable_group_percentiles(df, "v", "g", qs=(0.5,), max_groups=2)


def test_percentile_size_gated_routing(spark, sf_dir):
    """VERDICT r10 ask #1: the exact-percentile default must not buffer
    whole columns at scale. Forced-scalable plans carry NO buffering
    `percentile` aggregate; auto-routing trips on the plan-size bound;
    and both arms agree bit-for-bit on every operator."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.profile import (
        profile_numeric,
        robust_outliers,
        route_percentiles_scalable,
    )
    from dbqt_spark.operators.repair import clip_outliers, impute_nulls
    from dbqt_spark.plans import formatted_plan

    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    # routing decision: zero-cost plan-size estimate, forced by bound
    assert route_percentiles_scalable(li, "auto", bytes_bound=1) is True
    assert route_percentiles_scalable(li, "auto") is False  # tiny sf
    assert route_percentiles_scalable(li, "buffer", bytes_bound=1) is False
    assert route_percentiles_scalable(li, "scalable") is True
    with pytest.raises(ValueError, match="percentile_mode"):
        route_percentiles_scalable(li, "exact")

    # the big arm's PLAN contains no buffering percentile anywhere
    cols = ["l_quantity", "l_extendedprice"]
    big = profile_numeric(li, "lineitem", columns=cols,
                          percentile_mode="scalable")
    assert "percentile" not in formatted_plan(big).lower()
    small = profile_numeric(li, "lineitem", columns=cols,
                            percentile_mode="buffer")
    assert "percentile" in formatted_plan(small).lower()
    assert sorted(map(tuple, big.collect())) == sorted(
        map(tuple, small.collect())
    )

    pairs = [
        robust_outliers(ev, "value", "event_type", "event_id", k=20,
                        percentile_mode=m)
        for m in ("buffer", "scalable")
    ]
    assert "percentile" not in formatted_plan(pairs[1]).lower()
    assert [tuple(r) for r in pairs[0].collect()] == [
        tuple(r) for r in pairs[1].collect()
    ]

    for kwargs in ({}, {"group_col": "event_type"}):
        a, b = [
            impute_nulls(ev, ["value"], strategy="median",
                         percentile_mode=m, **kwargs)
            .orderBy("event_id").collect()
            for m in ("buffer", "scalable")
        ]
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        a, b = [
            clip_outliers(ev, ["value"], 0.05, 0.95,
                          percentile_mode=m, **kwargs)
            .orderBy("event_id").collect()
            for m in ("buffer", "scalable")
        ]
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_strip_markup_tags_entities_and_double_escape(spark):
    from dbqt_spark.operators.normalize import strip_markup

    df = spark.createDataFrame(
        [
            (1, "<p>Hello <b>world</b></p>"),
            (2, "a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;x"),
            (3, "<br/><div class='x'>y</div>"),
            (4, "&amp;lt; stays escaped-once"),  # the double-escape trap
            (5, None),
            # a literal sentinel-lookalike string in INPUT must survive
            # verbatim (ADVICE r10: the old ASCII sentinel corrupted it)
            (6, "the token &REF_AMP; is ordinary text"),
            # a stray U+FFFF noncharacter is dropped, never turned into &
            (7, "pre￿mid &amp; post"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["text"] for r in strip_markup(df).collect()}
    assert got[1] == "Hello world"
    assert got[2] == 'a & b <tag> "q" \'s\' x'
    assert got[3] == "y"
    # &amp;lt; must decode to the literal text '&lt;', never to '<'
    assert got[4] == "&lt; stays escaped-once"
    assert got[5] == ""
    assert got[6] == "the token &REF_AMP; is ordinary text"
    assert got[7] == "premid & post"


def test_group_token_budget_matches_naive_per_group(spark):
    from pyspark.sql import Window

    from dbqt_spark.operators.dedup import portable_token_hash
    from dbqt_spark.operators.sampling import group_token_budget_sample
    from dbqt_spark.operators.textstats import tokens_col

    import random

    random.seed(5)
    rows = [
        (i, f"s{i % 3}", " ".join(["w"] * random.randint(0, 30)))
        for i in range(300)
    ] + [(900, None, "a b c")]  # NULL group forms its own budget
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = sorted(
        r["doc_id"]
        for r in group_token_budget_sample(df, "source", 400).collect()
    )
    key = F.concat_ws(":", F.lit("42"), F.col("doc_id").cast("string"))
    naive = (
        df.select(
            "doc_id",
            "source",
            F.size(tokens_col(F.coalesce("text", F.lit("")))).alias("n"),
            portable_token_hash(key).alias("h"),
        )
        .withColumn(
            "cum",
            F.sum("n").over(
                Window.partitionBy("source").orderBy("h", "doc_id")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .filter(F.col("cum") <= 400)
    )
    want = sorted(r["doc_id"] for r in naive.collect())
    assert got == want and len(got) > 0
    with pytest.raises(ValueError, match="budget_tokens"):
        group_token_budget_sample(df, "source", -1)


def test_lm_score_bigram_known_values_and_order_sensitivity(spark):
    import math

    from dbqt_spark.operators.textstats import lm_score_bigram

    df = spark.createDataFrame(
        [
            (1, "a b a b"),      # bigrams: (a,b) x2, (b,a) x1
            (2, "b a b a"),      # same tokens, different order
            (3, "one"),          # < 2 tokens -> no row
            (4, None),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in lm_score_bigram(df).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_bigrams"] == 3 and rows[2]["n_bigrams"] == 3
    # corpus model: c(a,b)=3, c(b,a)=3, c(a)=3 prev-total... compute:
    # bv: (a,b)->3, (b,a)->3; pt: a->3, b->3; V=2 (distinct t)
    lp_ab = round(math.log(4 / 5), 6)  # (3+1)/(3+2)
    lp_ba = lp_ab
    s1 = 2 * lp_ab + 1 * lp_ba
    avg = round(s1 / 3, 6)
    assert rows[1]["avg_logprob"] == avg
    assert rows[1]["perplexity"] == round(math.exp(-avg), 4)
    # a doc with an UNSEEN-order bigram scores lower than natural order
    df2 = spark.createDataFrame(
        [(i, "the cat sat") for i in range(9)] + [(100, "sat cat the")],
        ["doc_id", "text"],
    )
    r2 = {r["doc_id"]: r["avg_logprob"]
          for r in lm_score_bigram(df2).collect()}
    assert r2[100] < r2[0]  # unigram LM could never separate these


def test_topk_per_group_bottom_k(spark):
    from dbqt_spark.operators.sampling import topk_per_group

    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(50)], ["doc_id", "g", "score"]
    )
    worst = {r["doc_id"] for r in topk_per_group(
        df, "g", "score", 5, descending=False, max_window_rows=2
    ).collect()}
    assert worst == {0, 1, 2, 3, 4}
    best = {r["doc_id"] for r in topk_per_group(
        df, "g", "score", 5, max_window_rows=2
    ).collect()}
    assert best == {45, 46, 47, 48, 49}


def test_lm_score_frozen_vocab_and_unseen_floor(spark):
    import math

    from dbqt_spark.operators.textstats import lm_score, lm_vocabulary

    ref = spark.createDataFrame(
        [(1, "a a a b")], ["doc_id", "text"]
    )  # T=4, V=2; p(a)=(3+1)/6, p(b)=(1+1)/6, floor=1/6
    vocab = lm_vocabulary(ref)
    assert {(r["term"], r["count"]) for r in vocab.collect()} == {
        ("a", 3), ("b", 1),
    }
    new = spark.createDataFrame([(10, "a zzz")], ["doc_id", "text"])
    r = lm_score(new, vocab=vocab).collect()[0]
    lp_a = round(math.log(4 / 6), 6)
    lp_floor = round(math.log(1 / 6), 6)
    want_avg = round((lp_a + lp_floor) / 2, 6)
    assert r["n_tokens"] == 2 and r["avg_logprob"] == want_avg
    # self-fit arm unchanged: frozen-vocab scoring of the reference
    # against itself == self-fit scoring
    self_fit = lm_score(ref).collect()[0]
    frozen = lm_score(ref, vocab=vocab).collect()[0]
    assert self_fit == frozen


def test_avg_exact_rounding_half_boundaries(spark):
    """The exact integer avg rounding: .5 boundaries round HALF AWAY
    FROM ZERO identically in both engines (a double round() would be
    at the mercy of the engine's boundary behavior)."""
    import duckdb

    from dbqt_spark.queries import _avg_exact_spark, _avg_exact_sql

    # s/n in micro units: 1/2 micro = exactly .0000005 -> rounds to
    # 1e-6; negative twin rounds to -1e-6 (away from zero)
    df = spark.createDataFrame(
        [(1, 0.000001, 2), (2, -0.000001, 2), (3, 0.000003, 2)],
        "id long, s double, n long",
    ).select("id", F.col("s").cast("decimal(18,6)").alias("s"), "n")
    got = {
        r["id"]: r["v"]
        for r in df.select(
            "id", _avg_exact_spark("s", "n", 6).alias("v")
        ).collect()
    }
    assert got == {1: 1e-06, 2: -1e-06, 3: 2e-06}
    o = duckdb.sql(
        "SELECT " + _avg_exact_sql("CAST(0.000001 AS DECIMAL(18,6))", "2", 6)
        + " AS v, "
        + _avg_exact_sql("CAST(-0.000001 AS DECIMAL(18,6))", "2", 6)
        + " AS w, "
        + _avg_exact_sql("CAST(0.000003 AS DECIMAL(18,6))", "2", 6)
        + " AS x"
    ).fetchone()
    assert o == (1e-06, -1e-06, 2e-06)


def test_bm25_search_known_values(spark):
    """BM25 scores against a hand-replicated reference on a tiny
    corpus: formula arithmetic (Lucene idf, k1/b saturation), doc
    matching, tie-break, guards."""
    import math
    from decimal import Decimal, ROUND_HALF_UP

    from dbqt_spark.operators.textstats import bm25_search

    docs = [
        (1, "spark data spark engine"),
        (2, "data pipeline"),
        (3, "nothing relevant here"),
        (4, None),
        (5, "spark"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["score"] for r in bm25_search(
        df, ["Spark", "data"], k=10, k1=1.2, b=0.75
    ).collect()}
    assert 3 not in got and 4 not in got

    # reference implementation (python floats mirror the JVM doubles)
    n = 5
    lens = {1: 4, 2: 2, 3: 3, 4: 0, 5: 1}
    avgdl = sum(lens.values()) / n
    tfs = {1: {"spark": 2, "data": 1}, 2: {"data": 1}, 5: {"spark": 1}}
    dfreq = {"spark": 2, "data": 2}
    want = {}
    for d, terms in tfs.items():
        s = Decimal(0)
        for t, tf in sorted(terms.items()):
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            c = idf * (tf * 2.2) / (
                tf + 1.2 * (0.25 + 0.75 * lens[d] / avgdl)
            )
            s += Decimal(repr(round(c, 7)))
        want[d] = float(
            Decimal(repr(float(s))).quantize(
                Decimal("0.0001"), ROUND_HALF_UP
            )
        )
    assert got == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        bm25_search(df, ["spark"], k=0)
    with _pytest.raises(ValueError, match="at least one term"):
        bm25_search(df, [])
    # empty corpus -> empty result, stable schema
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bm25_search(empty, ["spark"]).collect() == []


def test_cluster_safe_split_no_straddle(spark):
    """The leakage invariant: every near-dup pair (and every chained
    cluster) lands wholly inside ONE split; singletons match plain
    hash_split; appending singletons never moves existing rows."""
    from dbqt_spark.operators.sampling import cluster_safe_split, hash_split

    docs = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    )
    # chain 0-1-2 (no 0-2 pair), pair 10-11, and everything else single
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["split"]
        for r in cluster_safe_split(docs, pairs).collect()
    }
    assert len(got) == 40
    assert got[0] == got[1] == got[2]       # transitive chain together
    assert got[10] == got[11]
    # singletons == hash_split keyed on their own id (string key)
    base = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            docs.withColumn(
                "k", docs["doc_id"].cast("string")
            ),
            by_col="k",
        ).collect()
    }
    clustered = {0, 1, 2, 10, 11}
    assert all(
        got[i] == base[i] for i in range(40) if i not in clustered
    )
    # the cluster's shared split is the REPRESENTATIVE's own split
    assert got[0] == base[0] and got[10] == base[10]
    # append-stability: a bigger frame with extra singletons keeps
    # every existing assignment
    docs2 = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    got2 = {
        r["doc_id"]: r["split"]
        for r in cluster_safe_split(docs2, pairs).collect()
    }
    assert all(got2[i] == got[i] for i in range(40))


def test_gopher_rules_known_values(spark):
    """Each Gopher gate fires on a purpose-built doc; signals match
    hand computation; empty/NULL docs fail closed with zeroed
    ratios."""
    from dbqt_spark.operators.textstats import gopher_rules

    good = " ".join(["word"] * 60)  # 60 words, mwl 4, all-alpha
    docs = [
        (1, good),
        (2, "short doc"),                          # too few words
        (3, " ".join(["a"] * 60)),                 # mwl 1 < 3
        (4, " ".join(["####word"] * 60)),          # symbol ratio 4.0
        # 3 DISTINCT bullets (identical ones would trip the dup-line
        # gate) -> 3/4 bullet lines, under the 0.9 cap
        (5, "- b1\n- b2\n- b3\n" + good),
        (6, good + "\nline\nline\nline"),          # dup lines
        (7, " ".join(["123"] * 60)),               # no alpha words
        (8, ""),
        (9, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r["doc_id"]: r for r in gopher_rules(df).collect()}

    r1 = rows[1]
    assert r1["n_words"] == 60 and r1["mean_word_len"] == 4.0
    assert r1["alpha_word_frac"] == 1.0 and r1["passes"] is True
    assert rows[2]["passes"] is False
    assert rows[3]["mean_word_len"] == 1.0 and not rows[3]["passes"]
    assert rows[4]["symbol_word_ratio"] == 4.0 and not rows[4]["passes"]
    r5 = rows[5]
    assert r5["bullet_line_frac"] == 0.75 and r5["passes"] is True
    r6 = rows[6]
    # 4 lines, 'line' repeated 3x -> 2 non-first occurrences / 4
    assert r6["dup_line_frac"] == 0.5 and not r6["passes"]
    # dup chars: 2 * len('line') = 8 over total line chars
    total = len(good) + 3 * 4
    assert r6["dup_line_char_frac"] == round(8 / total, 4)
    assert rows[7]["alpha_word_frac"] == 0.0 and not rows[7]["passes"]
    for i in (8, 9):
        assert rows[i]["n_words"] == 0 and rows[i]["passes"] is False
        assert rows[i]["dup_line_frac"] == 0.0

    # threshold parameters are live
    relaxed = {
        r["doc_id"]: r["passes"]
        for r in gopher_rules(df, min_words=2).collect()
    }
    assert relaxed[2] is True


def test_script_stats_known_values(spark):
    from dbqt_spark.operators.textstats import script_stats

    df = spark.createDataFrame(
        [
            (1, "hello мир"),       # 5 latin letters, 3 cyrillic
            (2, "你好"),             # pure han
            (3, "12345 !!"),        # no letters
            (4, None),
            (5, "αα яя"),           # greek/cyrillic tie -> 'greek'
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in script_stats(df).collect()}
    r1 = rows[1]
    assert r1["latin_frac"] == 0.625 and r1["cyrillic_frac"] == 0.375
    assert r1["dominant_script"] == "latin"
    assert r1["whitespace_frac"] == round(1 / 9, 4)
    assert rows[2]["han_frac"] == 1.0
    assert rows[2]["dominant_script"] == "han"
    r3 = rows[3]
    assert r3["latin_frac"] == 0.0 and r3["dominant_script"] is None
    assert r3["digit_frac"] == round(5 / 8, 4)
    assert rows[4]["n_chars"] == 0 and rows[4]["dominant_script"] is None
    # equal counts: lexicographically-last script wins (documented)
    assert rows[5]["dominant_script"] == "greek"


def test_shuffle_shards_permutation_contract(spark):
    """(shard, pos) is a total, gap-free permutation: every shard's
    positions are 0..n_s-1; assignment is a pure function of
    (seed, id) — re-runs and row-order changes reproduce it; a
    different seed yields a different permutation."""
    from dbqt_spark.operators.sampling import shuffle_shards

    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(200)], ["doc_id", "text"]
    )
    out = shuffle_shards(df, n_shards=4).collect()
    assert len(out) == 200
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= {0, 1, 2, 3}
    for positions in by_shard.values():
        assert sorted(positions) == list(range(len(positions)))
    # determinism across input order
    again = shuffle_shards(
        df.orderBy(F.col("doc_id").desc()), n_shards=4
    ).collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in again} == {
        (r["doc_id"], r["shard"], r["pos"]) for r in out
    }
    other = shuffle_shards(df, n_shards=4, seed=7).collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in other} != {
        (r["doc_id"], r["shard"], r["pos"]) for r in out
    }
    # n_shards=1 degenerates to one global reproducible order
    one = shuffle_shards(df, n_shards=1).collect()
    assert sorted(r["pos"] for r in one) == list(range(200))


def test_vocab_coverage_known_answer(spark):
    """Hand-checkable corpus: counts a:5 b:3 c:1 d:1 (total 10,
    4 types); ranking ties break term-asc, so V=3 covers a+b+c=9."""
    from dbqt_spark.operators.textstats import vocab_coverage

    df = spark.createDataFrame(
        [(1, "a A b a"), (2, "b a c b"), (3, "a d")],
        ["doc_id", "text"],
    )
    rows = {
        r["vocab_size"]: r
        for r in vocab_coverage(df, cutoffs=(1, 3, 10)).collect()
    }
    assert rows[1]["n_types"] == 1
    assert rows[1]["covered_tokens"] == 5
    assert rows[1]["total_tokens"] == 10
    assert rows[1]["total_types"] == 4
    assert rows[1]["coverage"] == 0.5
    assert rows[1]["oov_rate"] == 0.5
    assert rows[3]["covered_tokens"] == 9  # a + b + c (tie c<d)
    # cutoff beyond the vocab covers everything with all 4 types
    assert rows[10]["n_types"] == 4
    assert rows[10]["coverage"] == 1.0 and rows[10]["oov_rate"] == 0.0

    import pytest

    with pytest.raises(ValueError):
        vocab_coverage(df, cutoffs=())
    with pytest.raises(ValueError):
        vocab_coverage(df, cutoffs=(0, 5))


def test_vocab_drift_semantics(spark):
    """Identical corpora -> zero PSI everywhere; a term present only
    in the target shows a negative frac_diff on __other__ or its own
    row depending on the top-k cut; output is O(top_k + 1)."""
    from dbqt_spark.operators.textstats import vocab_drift

    a = spark.createDataFrame(
        [(1, "x x y"), (2, "x z")], ["doc_id", "text"]
    )
    same = vocab_drift(a, a, top_k=10).collect()
    assert all(r["psi_contrib"] == 0.0 for r in same)
    assert {r["term"] for r in same} == {"x", "y", "z"}

    b = spark.createDataFrame(
        [(3, "x q q q")], ["doc_id", "text"]
    )
    rows = {r["term"]: r for r in vocab_drift(a, b, top_k=2).collect()}
    # source top-2 = x (3), y (1; tie y<z) -> z folds into __other__
    assert set(rows) == {"x", "y", "__other__"}
    assert rows["__other__"]["n_source"] == 1  # z
    assert rows["__other__"]["n_target"] == 3  # q q q
    assert rows["x"]["psi_contrib"] > 0  # x rarer in target


def test_nb_fit_predict_separable(spark):
    """A clearly separable two-class corpus classifies correctly;
    zero-token docs fall back to the (log) prior argmax; NULL labels
    are refused."""
    from dbqt_spark.operators.classifier import nb_fit, nb_predict

    train = spark.createDataFrame(
        [
            ("spam", "buy cheap pills now buy"),
            ("spam", "cheap pills cheap offer"),
            ("ham", "meeting notes for the team"),
            ("ham", "team lunch notes tomorrow"),
            ("ham", "quarterly team meeting"),
        ],
        ["label", "text"],
    )
    model, stats = nb_fit(train)
    # model log-probs are finite decimals; floors below every log_prob
    assert model.filter(F.col("log_prob") >= 0).count() == 0
    s = {r["label"]: r for r in stats.collect()}
    assert set(s) == {"spam", "ham"}
    # ham has 3 of 5 docs -> larger prior
    assert s["ham"]["log_prior"] > s["spam"]["log_prior"]

    test = spark.createDataFrame(
        [
            (1, "cheap pills offer"),
            (2, "team meeting notes"),
            (3, ""),  # prior-only -> ham (the larger prior)
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["label"]
        for r in nb_predict(test, model, stats).collect()
    }
    assert got == {1: "spam", 2: "ham", 3: "ham"}

    import pytest

    bad = spark.createDataFrame(
        [(None, "x"), ("a", "y")], "label string, text string"
    )
    with pytest.raises(ValueError, match="NULL"):
        nb_fit(bad)


def test_embedding_dim_stats_semantics(spark):
    """Known moments per dim; a ragged vector surfaces as a dim with a
    smaller n (the upstream-bug signal); dead dims report std 0."""
    from dbqt_spark.operators.chunking import embedding_dim_stats

    df = spark.createDataFrame(
        [
            (1, [1.0, 5.0, 2.0]),
            (2, [3.0, 5.0, 4.0]),
            (3, [5.0, 5.0]),  # ragged: missing dim 2
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {r["dim"]: r for r in embedding_dim_stats(df).collect()}
    assert [rows[d]["n"] for d in (0, 1, 2)] == [3, 3, 2]
    assert rows[0]["mean"] == 3.0
    assert rows[0]["min_val"] == 1.0 and rows[0]["max_val"] == 5.0
    # population std of (1,3,5) = sqrt(8/3)
    import math

    assert abs(rows[0]["std"] - round(math.sqrt(8 / 3), 6)) < 1e-9
    assert rows[1]["std"] == 0.0  # dead dim
    assert rows[2]["n"] == 2 and rows[2]["mean"] == 3.0


def test_pair_tier_eval_set_algebra(spark):
    """Canonical-edge comparison: orientation and duplicates never
    count; known precision/recall; empty sides follow the 0/0 -> 0
    rule."""
    from dbqt_spark.operators.dedup import pair_tier_eval

    truth = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"]
    )
    # (2,1) duplicates (1,2) after canonicalization; (9,8) is noise
    cand = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 2), (9, 8)], ["id_a", "id_b"]
    )
    r = pair_tier_eval(truth, cand).collect()[0]
    assert (r["n_truth"], r["n_candidates"], r["n_common"]) == (3, 3, 2)
    assert r["precision"] == round(2 / 3, 6)
    assert r["recall"] == round(2 / 3, 6)
    assert r["f1"] == round(2 / 3, 6)

    empty = spark.createDataFrame([], "id_a long, id_b long")
    z = pair_tier_eval(empty, empty).collect()[0]
    assert (z["precision"], z["recall"], z["f1"]) == (0.0, 0.0, 0.0)


def test_clean_embeddings_four_way_filter(spark):
    """Each corruption class drops for its own reason with per-reason
    accounting; survivors are unit-normalized; majority-dim inference
    resists a truncated batch."""
    import math

    from dbqt_spark.operators.chunking import clean_embeddings

    df = spark.createDataFrame(
        [
            (1, [3.0, 4.0]),
            (2, [1.0, 0.0]),
            (3, None),
            (4, [1.0, 2.0, 3.0]),      # wrong dim (majority is 2)
            (5, [float("nan"), 1.0]),  # non-finite
            (6, [0.0, 0.0]),           # zero norm
        ],
        "vec_id long, embedding array<float>",
    )
    stats: dict = {}
    rows = {
        r["vec_id"]: r
        for r in clean_embeddings(df, drop_stats=stats).collect()
    }
    assert set(rows) == {1, 2}
    assert stats == {
        "n_null": 1, "n_wrong_dim": 1, "n_nonfinite": 1,
        "n_zero_norm": 1, "dim": 2,
    }
    assert rows[1]["norm"] == 5.0
    assert rows[1]["unit"] == [0.6, 0.8]
    assert rows[2]["unit"] == [1.0, 0.0]
    assert all(
        abs(math.hypot(*r["unit"]) - 1.0) < 1e-5 for r in rows.values()
    )

    # normalize=False keeps raw (double-cast) components, zero-norm
    # rows survive
    kept = clean_embeddings(df, normalize=False).collect()
    assert {r["vec_id"] for r in kept} == {1, 2, 6}


def test_packed_sequences_tokenizer_consistency(spark):
    """VERDICT r11 ask #5: packed_sequences materializes in the SAME
    denomination sequence_pack places in when a tokenizer is passed —
    BPE pieces chunked at seq_len match a driver-side replay, joined
    with '' (pieces carry their separators), and every doc's tokens
    land exactly where its placement says. The whitespace default is
    untouched."""
    from dbqt_spark.functions.tokenize import simple_bpe_segmenter
    from dbqt_spark.operators.packing import (
        packed_sequences,
        sequence_pack,
    )

    merges = [("a", "b"), ("ab", "c"), ("l", "o"), ("lo", "w")]
    seg = simple_bpe_segmenter(merges)
    docs = [
        (1, "abc abc lower low"),
        (2, "ab"),
        (3, ""),
        (4, "low lower abcab xyz abc"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    L, SEP = 5, "<|eos|>"

    # driver-side replay: segment each doc, append the EOS piece,
    # concatenate in id order, chunk at L, join with ''
    stream: list = []
    starts = {}
    for did, text in docs:
        starts[did] = len(stream)
        stream += seg(text) + [SEP]
    want = [
        "".join(stream[i:i + L]) for i in range(0, len(stream), L)
    ]

    rows = packed_sequences(
        df, seq_len=L, tokenizer=seg, n_buckets=2
    ).orderBy("seq_id").collect()
    assert [r["seq_id"] for r in rows] == list(range(len(want)))
    assert [r["text"] for r in rows] == want
    assert all(r["n_tokens"] == L for r in rows[:-1])

    # placement == materialization: sequence_pack's global_start /
    # first_seq agree with where the replay put each doc
    placed = {
        r["doc_id"]: r
        for r in sequence_pack(
            df, seq_len=L, tokenizer=seg, n_buckets=2
        ).collect()
    }
    for did, text in docs:
        assert placed[did]["global_start"] == starts[did]
        n = len(seg(text))
        assert placed[did]["n_tokens"] == n
        if n > 0:
            assert placed[did]["first_seq"] == starts[did] // L


def test_extract_main_content_density_classifier(spark):
    """VERDICT r11 ask #3: boilerplate removal between raw HTML and
    the quality gates — script/style content vanishes, link-dense
    blocks (nav, related-links lists, footers) drop, prose paragraphs
    survive with entities decoded, inline tags never split a
    paragraph, and drop accounting reports total vs kept blocks."""
    from dbqt_spark.operators.normalize import extract_main_content

    page = (
        '<html><head><title>T</title><style>p{color:red}</style>'
        '<script>var boilerplate = "menu";</script></head><body>'
        '<nav><a href="/">Home</a> | <a href="/a">About page</a> | '
        '<a href="/c">Contact us here</a></nav>'
        "<p>This paragraph is the real article content and easily "
        "clears the minimum length gate.</p>"
        '<p>Inline <b>bold</b> and a <a href="x">tiny link</a> do '
        "not split or sink this second real paragraph.</p>"
        '<ul><li><a href="1">Related link one</a></li>'
        '<li><a href="2">Related link two</a></li></ul>'
        "<!-- hidden comment longer than the gate would pass -->"
        '<footer><a href="/p">Privacy policy</a> '
        '<a href="/t">Terms of service</a></footer></body></html>'
    )
    df = spark.createDataFrame(
        [(1, page), (2, None), (3, "short"), (4, "a" * 30)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in extract_main_content(df, with_stats=True).collect()
    }
    lines = out[1]["text"].split("\n")
    assert lines == [
        "This paragraph is the real article content and easily "
        "clears the minimum length gate.",
        "Inline bold and a tiny link do not split or sink this "
        "second real paragraph.",
    ]
    assert "menu" not in out[1]["text"]          # script content gone
    assert "color" not in out[1]["text"]         # style content gone
    assert "hidden comment" not in out[1]["text"]
    assert out[1]["n_blocks_kept"] == 2
    assert out[1]["n_blocks_total"] > 2          # dropped blocks counted
    assert out[2]["text"] == "" and out[2]["n_blocks_total"] == 0
    assert out[3]["text"] == ""                  # under min_text_chars
    assert out[4]["text"] == "a" * 30            # plain text passes

    # threshold knobs: a half-link block keeps at density 0.9,
    # drops at 0.3 (integer-arithmetic boundary, no float compare)
    half = (
        '<p><a href="x">linked half of this block</a> and plain '
        "other half of it</p>"
    )
    hdf = spark.createDataFrame([(1, half)], "doc_id long, text string")
    keep = extract_main_content(hdf, max_link_density=0.9).collect()[0]
    drop = extract_main_content(hdf, max_link_density=0.3).collect()[0]
    assert "linked half" in keep["text"]
    assert drop["text"] == ""

    # entity decode on the survivors (ordered chain: double-escape
    # stays literal)
    ent = "<p>Tom &amp; Jerry &lt;3 the &amp;lt; literal escapes</p>"
    edf = spark.createDataFrame([(1, ent)], "doc_id long, text string")
    got = extract_main_content(edf).collect()[0]["text"]
    assert got == "Tom & Jerry <3 the &lt; literal escapes"


def test_curate_extract_main_pre_stage(spark):
    """extract_main runs FIRST: nav/footer boilerplate never reaches
    the quality gate, dedup, or the output text."""
    from dbqt_spark.operators.pipeline import CurateConfig, curate

    nav = (
        '<nav><a href="/">Home</a> | <a href="/a">About page</a> | '
        '<a href="/c">Contact us now</a></nav>'
    )
    body = (
        "<p>Genuine prose content long enough to clear every heuristic "
        "gate in the curation chain without trouble.</p>"
    )
    df = spark.createDataFrame(
        [(1, nav + body, "en"), (2, nav + body + body, "en")],
        "doc_id long, text string, lang string",
    )
    out = curate(
        df,
        CurateConfig(
            quality_quantile=0.0, dedup="none", redact=False,
            extract_main={},
        ),
    ).collect()
    assert len(out) == 2
    for r in out:
        assert "Home" not in r["text"]
        assert "Genuine prose content" in r["text"]


def test_url_canonicalization_table(spark):
    """VERDICT r11 ask #7: the canonicalization table — scheme/host
    lowering, userinfo and default-port drop, non-default port kept,
    fragment drop, tracking-param strip (utm_* prefix + click ids),
    param sort, trailing-slash strip, non-URL passthrough."""
    from dbqt_spark.operators.urltools import (
        url_canonicalize,
        url_dedup,
    )

    table = [
        ("HTTP://WWW.Example.com:80/a/b/?utm_source=x&z=1&a=2#f",
         "http://www.example.com/a/b?a=2&z=1"),
        ("http://www.example.com/a/b?a=2&z=1",
         "http://www.example.com/a/b?a=2&z=1"),
        ("https://Example.com:443/", "https://example.com"),
        ("https://example.com", "https://example.com"),
        ("https://u:p@example.com:8443/Path/?fbclid=a&GCLID=b",
         "https://example.com:8443/Path"),
        ("  not a url  ", "not a url"),
        ("ftp://Files.example.com:21/x//", "ftp://files.example.com:21/x"),
        # ref/ref_src are often SEMANTIC (?ref=<branch> on code hosts)
        # — kept by default, stripped only with strip_ref=True below
        # (r12 ADVICE)
        ("https://e.com/s?q=Hello%20World&UTM_CAMPAIGN=y&ref=tw&Ref_Src=z",
         "https://e.com/s?Ref_Src=z&q=Hello%20World&ref=tw"),
        ("https://e.com/?", "https://e.com"),
        ("http://e.com:8080/p#only-frag", "http://e.com:8080/p"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(table)],
        "doc_id long, url string",
    )
    got = {
        r["doc_id"]: r["canon"]
        for r in url_canonicalize(df, out_col="canon").collect()
    }
    for i, (u, want) in enumerate(table):
        assert got[i] == want, (u, got[i], want)
    # canonicalization is idempotent (url_dedup relies on it)
    cdf = spark.createDataFrame(
        [(i, c) for i, c in got.items()], "doc_id long, url string"
    )
    got2 = {
        r["doc_id"]: r["canon"]
        for r in url_canonicalize(cdf, out_col="canon").collect()
    }
    assert got2 == got

    # strip_www option
    w = url_canonicalize(
        spark.createDataFrame(
            [(1, "https://WWW.example.com/x/")], "doc_id long, url string"
        ),
        out_col="canon",
        strip_www=True,
    ).collect()[0]["canon"]
    assert w == "https://example.com/x"

    # strip_ref option (the aggressive arm): ref/ref_src drop
    sr = url_canonicalize(
        spark.createDataFrame(
            [(1, "https://e.com/s?q=a&ref=tw&Ref_Src=z")],
            "doc_id long, url string",
        ),
        out_col="canon",
        strip_ref=True,
    ).collect()[0]["canon"]
    assert sr == "https://e.com/s?q=a"

    # dedup: rows 0/1 and 2/3 collapse to min-id survivors
    out = {r["doc_id"]: r["n_dups"] for r in url_dedup(df).collect()}
    assert 1 not in out and 3 not in out
    assert out[0] == 2 and out[2] == 2
    assert out[5] == 1


def test_url_dedup_null_urls_survive(spark):
    """r12 ADVICE: NULL-url rows are NOT duplicates of each other —
    every one survives url_dedup with n_dups=1 (the plain equi-join
    used to silently drop them all)."""
    from dbqt_spark.operators.urltools import url_dedup

    df = spark.createDataFrame(
        [
            (1, "https://e.com/a"),
            (2, "https://e.com/a/"),
            (3, None),
            (4, None),
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r["n_dups"] for r in url_dedup(df).collect()}
    assert out == {1: 2, 3: 1, 4: 1}
    # same contract on the pre-canonicalized fast path (raw strings
    # pass through: 1 and 2 differ byte-wise, so no collapse — the
    # NULLs still survive individually)
    out2 = {
        r["doc_id"]: r["n_dups"]
        for r in url_dedup(df, pre_canonicalized=True).collect()
    }
    assert out2 == {1: 1, 2: 1, 3: 1, 4: 1}


def test_packing_efficiency_known_answer(spark):
    """Fill rate and boundary-split accounting against hand-computed
    values; empty docs advance the stream but never count as split."""
    import pytest as _pytest

    from dbqt_spark.operators.packing import packing_efficiency

    # tokens+sep per doc: 5, 1, 9 -> stream 15; starts 0, 5, 6
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, ""), (3, "t1 t2 t3 t4 t5 t6 t7 t8")],
        ["doc_id", "text"],
    )
    out = {
        r["seq_len"]: r
        for r in packing_efficiency(df, seq_lens=[4, 10]).collect()
    }
    # L=4: n_seq = ceil(15/4) = 4, fill 15/16; doc1 spans tokens 0-3
    # (seqs 0-0, not split... 4 tokens at start 0 -> last own token 3,
    # 0//4 == 3//4 -> unsplit); doc3 tokens 6..13 -> 6//4=1, 13//4=3
    # -> split. Empty doc2 never splits.
    assert out[4]["n_sequences"] == 4
    assert out[4]["fill_rate"] == round(15 / 16, 6)
    assert out[4]["n_split_docs"] == 1
    assert out[4]["split_frac"] == 0.5
    # L=10: n_seq=2, fill 15/20; doc3 tokens 6..13 crosses 10 -> split
    assert out[10]["n_sequences"] == 2
    assert out[10]["fill_rate"] == 0.75
    assert out[10]["n_split_docs"] == 1

    with _pytest.raises(ValueError, match="seq_lens"):
        packing_efficiency(df, seq_lens=[])
    with _pytest.raises(ValueError, match="seq_lens"):
        packing_efficiency(df, seq_lens=[0])


def test_domain_stats_composition(spark):
    """Doc counts vs distinct canonical URLs per host (the URL-dup
    gap), exact char totals, share; non-URLs group under ''."""
    from dbqt_spark.operators.urltools import domain_stats

    rows = [
        (1, "aaaa", "https://A.com/x?utm_source=1"),
        (2, "bbbb", "https://a.com/x/"),           # same canonical
        (3, "cccccc", "https://a.com/y"),
        (4, "dd", "http://b.org/only"),
        (5, "e", "not a url"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, url string")
    out = {r["host"]: r for r in domain_stats(df, text_col="text").collect()}
    assert out["a.com"]["n_docs"] == 3
    assert out["a.com"]["n_urls"] == 2        # the dup gap
    assert out["a.com"]["n_chars_total"] == 14
    assert out["a.com"]["avg_chars"] == round(14 / 3, 6)
    assert out["a.com"]["doc_share"] == 0.6
    assert out["b.org"]["n_docs"] == 1
    assert out[""]["n_docs"] == 1             # non-URL bucket
    # ordering: biggest domain first
    first = domain_stats(df).collect()[0]
    assert first["host"] == "a.com"


def test_calibration_report_bins(spark):
    """Known-answer reliability bins: clamping of out-of-range scores,
    NULL exclusion, integer micro-unit rounding at a .5e-6 boundary
    (the sf0.1 divergence class), and a calibrated-vs-not signal."""
    import pytest as _pytest

    from dbqt_spark.operators.classifier import calibration_report

    rows = [
        (0.05, 0), (0.08, 0),           # bin 0: pos_rate 0
        (0.55, 1), (0.52, 0),           # bin 5: pos_rate 0.5
        (0.95, 1), (0.97, 1),           # bin 9: pos_rate 1
        (1.0, 1),                       # clamps into bin 9
        (-0.2, 0),                      # clamps into bin 0
        (None, 1), (0.4, None),         # excluded
        (float("nan"), 1),              # excluded too (r12 ADVICE:
        # NaN passed isNotNull, floor(NaN)->NULL, greatest/least skip
        # NULLs -> it used to inflate bin 9's n with a NULL sum)
    ]
    df = spark.createDataFrame(rows, "score double, label int")
    out = {r["bin"]: r for r in calibration_report(df).collect()}
    assert set(out) == {0, 5, 9}
    assert out[0]["n"] == 3 and out[0]["pos_rate"] == 0.0
    assert out[5]["n"] == 2 and out[5]["pos_rate"] == 0.5
    assert out[9]["n"] == 3 and out[9]["pos_rate"] == 1.0
    assert out[5]["mean_score"] == 0.535

    # .5e-6 quotient boundary: mean of 0.505498 and 0.505499 is
    # 0.5054985 -> must round HALF AWAY to 0.505499 (not float-round
    # to whatever the nearest double is)
    tie = spark.createDataFrame(
        [(0.505498, 1), (0.505499, 0)], "score double, label int"
    )
    got = calibration_report(tie).collect()[0]
    assert got["mean_score"] == 0.505499
    assert got["pos_rate"] == 0.5

    with _pytest.raises(ValueError, match="n_bins"):
        calibration_report(df, n_bins=0)


def test_url_canonicalization_fuzz_idempotent(spark):
    """Property sweep in ONE Spark pass: over 400 adversarial
    URL-shaped strings, canonicalization never throws and is
    IDEMPOTENT (canon(canon(x)) == canon(x)) — the invariant
    url_dedup's pre_canonicalized fast path rests on."""
    import random

    from pyspark.sql import functions as F

    from dbqt_spark.operators.urltools import canonical_url_col

    rng = random.Random(17)
    pieces = [
        "http://", "HTTPS://", "ftp://", "", "user:p@", "WWW.", "",
        "ex-AMPLE", ".com", ".ORG", ":80", ":443", ":8080", ":",
        "/", "/a/B/", "//x//", "/a b", "?", "?a=1", "&", "&&",
        "?utm_source=x", "&UTM_x=1&z=9&a", "#frag", "#", "=v", "a=",
        "%20", "??", "://", "@", "\t", " ", "....", "?ref=1&REF=2",
    ]
    strs = [
        "".join(rng.choice(pieces) for _ in range(rng.randrange(1, 8)))
        for _ in range(400)
    ] + ["", " ", "http://", "https://:443", "x://y"]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strs)], "i long, u string"
    )
    once = canonical_url_col(F.col("u"))
    out = df.select(
        "i",
        once.alias("c1"),
        canonical_url_col(once).alias("c2"),
    ).collect()
    assert len(out) == len(strs)
    bad = [(strs[r["i"]], r["c1"], r["c2"]) for r in out if r["c1"] != r["c2"]]
    assert not bad, bad[:5]


def test_extract_main_anchor_regex_not_greedy_on_a_tags(spark):
    """Regression (r12 self-review): tags that merely START with 'a'
    (<address>, <abbr>) are NOT anchors — their prose must not count
    as link text and sink the block."""
    from dbqt_spark.operators.normalize import extract_main_content

    page = (
        "<p><abbr>HTML</abbr> is what this mostly-prose paragraph "
        'explains at length, with one real <a href="/x">link</a> '
        "inside it somewhere.</p>"
        "<address>123 Main Street, Springfield, Countryland, with "
        'contact <a href="/c">email us</a> appended</address>'
    )
    df = spark.createDataFrame([(1, page)], "doc_id long, text string")
    out = extract_main_content(df).collect()[0]["text"]
    assert "mostly-prose paragraph" in out
    assert "123 Main Street" in out


def test_kmeanspar_null_and_empty_inputs(spark):
    """Regression (r12 self-review): NULL/empty vectors must not crash
    k-means|| init (they carry NULL clusters like the lowest-id arm),
    and an empty input raises the documented ValueError."""
    import pytest as _pytest

    from dbqt_spark.operators.kmeans import kmeans_assign

    rows = [
        (1, [1.0, 0.0]), (2, [0.9, 0.1]),
        (3, [0.0, 1.0]), (4, [0.1, 0.9]),
        (5, None), (6, []),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(
            df, k=2, iters=1, init="kmeanspar"
        ).collect()
    }
    assert out[5] is None and out[6] is None
    assert out[1] == out[2] and out[3] == out[4] and out[1] != out[3]

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="non-empty"):
        kmeans_assign(empty, k=2, init="kmeanspar")


def test_nearest_centroid_arrow_empty_centroids(spark):
    import pytest as _pytest

    from dbqt_spark.operators.similarity import nearest_centroid_assign

    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    cents = spark.createDataFrame(
        [], "label int, dim long, centroid double"
    )
    with _pytest.raises(ValueError, match="EMPTY centroid frame"):
        nearest_centroid_assign(df, cents, assign_mode="arrow")


def test_segmenter_rejects_count_callable_on_driver(spark):
    """Regression (r12 self-review): a count-style callable
    (simple_bpe) passed where a segmenter is needed fails FAST on the
    driver with the fix named, not executor-side with a Py4J
    TypeError."""
    import pytest as _pytest

    from dbqt_spark.functions.tokenize import (
        resolve_token_segmenter,
        simple_bpe,
    )
    from dbqt_spark.operators.packing import packed_sequences

    count = simple_bpe([("l", "o")])
    with _pytest.raises(ValueError, match="SEGMENTER"):
        resolve_token_segmenter(count)
    df = spark.createDataFrame([(1, "low lo")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="SEGMENTER"):
        packed_sequences(df, seq_len=4, tokenizer=count)


def test_semgate_bootstrap_arm_drop_keys(spark):
    """Regression (r12 self-review): the FIRST-batch big-backfill arm
    (SemDeDup fallback) reports drops under the gate's own
    n_dropped_cells/n_dropped_rows keys, not the inner operator's
    cluster keys."""
    from dbqt_spark.streaming.semgate import _cell_blocked_pairs

    rows = [(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(12)]
    vecs = spark.createDataFrame(rows, "__id long, __v array<double>")
    stats: dict = {}
    pairs = _cell_blocked_pairs(
        vecs, None, threshold=0.999, max_cell_size=4, k=2,
        drop_stats=stats,
    )
    pairs.collect()
    assert "n_dropped_cells" in stats and "n_dropped_rows" in stats


def test_pair_source_matrix_attribution(spark):
    """Unordered group-pair rollup; diagonal = within-slice dup;
    unplaceable ids keep a visible NULL side instead of vanishing
    or duplicating the known group."""
    from dbqt_spark.operators.dedup import pair_source_matrix

    docs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 1), (1, 4), (5, 99), (98, 97)],
        "id_a long, id_b long",
    )
    out = {
        (r["source_a"], r["source_b"]): r["n_pairs"]
        for r in pair_source_matrix(pairs, docs).collect()
    }
    assert out[("a", "a")] == 1          # diagonal
    assert out[("a", "b")] == 2          # orientation-normalized
    assert out[("c", None)] == 1         # one side unplaceable
    assert out[(None, None)] == 1        # both unplaceable
    # biggest pair count first
    first = pair_source_matrix(pairs, docs).collect()[0]
    assert (first["source_a"], first["source_b"]) == ("a", "b")


def test_pair_source_matrix_no_corpus_shuffle(spark, sf_dir):
    """VERDICT r12 #7: with a tier-capped pair frame, attribution
    must cost O(pairs) — the corpus projection semi-joins to the
    BROADCAST pair-id set and the shrunken projection broadcasts
    into the pair joins, so the plan has no shuffle join anywhere
    (the only Exchanges are pairs-sized: the id distinct and the
    <= n_groups^2 rollup). broadcast_pairs=False keeps the shuffle
    arm available and agreeing."""
    from dbqt_spark.catalog import load_table
    from dbqt_spark.operators.dedup import pair_source_matrix
    from dbqt_spark.plans import formatted_plan
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("source")
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 999999)], "id_a long, id_b long"
    )
    fast = pair_source_matrix(pairs, docs)
    plan = formatted_plan(fast)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    def rows(df):
        return sorted(
            (
                (r["source_a"], r["source_b"], r["n_pairs"])
                for r in df.collect()
            ),
            key=lambda t: (t[0] or "", t[1] or "", t[2]),
        )

    got = rows(fast)
    slow = rows(pair_source_matrix(pairs, docs, broadcast_pairs=False))
    assert got == slow and len(got) >= 1


def test_c4_rules_known_values(spark):
    """Every C4 line rule and page rule fires on a purpose-built doc;
    counts match hand computation; empty/NULL fail closed."""
    from dbqt_spark.operators.textstats import c4_rules

    prose = (
        "The quick brown fox jumps over the lazy dog today.\n"
        "A second full sentence keeps the page alive here.\n"
        "And a third sentence closes out the page nicely now."
    )
    docs = [
        (1, prose),                                   # clean: passes
        (2, prose + "\nBuy now"),                     # short line drops
        (3, prose + "\nNo terminal punctuation on this line at all"),
        (4, prose + "\nPlease enable javascript to continue reading."),
        (5, prose + "\nSome lorem ipsum filler appears in this text."),
        (6, prose + "\nif (x) { return; }"),          # brace page-kill
        (7, prose + "\nThis line mentions badword1 in running prose."),
        (8, "Only one sentence lives on this page."),  # < 3 sentences
        (9, ""),
        (10, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {
        r["doc_id"]: r
        for r in c4_rules(df, badwords=["badword1"]).collect()
    }

    r1 = rows[1]
    assert r1["n_lines"] == 3 and r1["n_kept_lines"] == 3
    assert r1["n_sentences"] == 3 and r1["passes"] is True
    assert r1["kept_text"] == prose
    # line rules drop the offending line but the page still passes
    for i in (2, 3, 4):
        assert rows[i]["n_lines"] == 4
        assert rows[i]["n_kept_lines"] == 3, i
        assert rows[i]["passes"] is True, i
    # page rules kill the whole doc even though lines were kept
    assert rows[5]["has_lorem_ipsum"] and rows[5]["passes"] is False
    assert rows[6]["has_brace"] and rows[6]["passes"] is False
    assert rows[7]["has_badword"] and rows[7]["passes"] is False
    assert rows[7]["n_kept_lines"] == 4  # the badword line IS kept
    assert rows[8]["n_sentences"] == 1 and rows[8]["passes"] is False
    for i in (9, 10):
        assert rows[i]["n_lines"] == 0
        assert rows[i]["kept_text"] == ""
        assert rows[i]["passes"] is False

    # badword matching is whole-word: 'badword1x' must not trip it
    df2 = spark.createDataFrame(
        [(1, prose + "\nNothing matches badword1x in this line here.")],
        "doc_id long, text string",
    )
    (r,) = c4_rules(df2, badwords=["badword1"]).collect()
    assert r["has_badword"] is False and r["passes"] is True

    # threshold parameters are live
    strict = {
        r["doc_id"]: r["passes"]
        for r in c4_rules(df, min_sentences=4).collect()
    }
    assert strict[1] is False


def test_curate_c4_pre_gate(spark):
    """curate(c4=): line rules rewrite text, page rules drop docs, and
    the surviving frame keeps its original columns."""
    from dbqt_spark.operators.pipeline import CurateConfig, curate

    prose = (
        "The quick brown fox jumps over the lazy dog today.\n"
        "A second full sentence keeps the page alive here.\n"
        "And a third sentence closes out the page nicely now."
    )
    docs = [
        (1, prose + "\nBuy now", "en"),          # short line drops
        (2, prose + "\nif (x) { return; }", "en"),  # brace kill
        (3, prose, "en"),
        (4, prose, "en"),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string"
    )
    out = curate(
        df,
        CurateConfig(
            c4={}, dedup="none", quality_quantile=0.0, redact=False
        ),
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert 2 not in rows            # page rule dropped it
    assert rows[1]["text"] == prose  # 'Buy now' line rewritten away
    assert rows[1]["lang"] == "en"   # original columns survive
    assert "kept_text" not in out.columns
    assert "passes" not in out.columns


def test_domain_blocklist_known_values(spark):
    """Label-boundary suffix matching: parents block subdomains,
    lookalike substrings never match, longest match wins, and the two
    arms (literal list vs domain frame) agree row-for-row."""
    from dbqt_spark.operators.urltools import domain_blocklist

    rows = [
        (1, "https://ads.tracker.example/x"),     # via parent
        (2, "https://tracker.example/y"),         # exact
        (3, "https://nottracker.example/z"),      # lookalike: clean
        (4, "https://deep.a.bad.example/w"),      # via middle suffix
        (5, "https://clean.example/ok"),
        (6, "not a url"),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    blist = ["tracker.example", "a.bad.example", "bad.example"]
    out = {
        r.id: r
        for r in domain_blocklist(df, blist).collect()
    }
    assert out[1].blocked and out[1].blocked_domain == "tracker.example"
    assert out[2].blocked and out[2].blocked_domain == "tracker.example"
    assert not out[3].blocked and out[3].blocked_domain is None
    # deep.a.bad.example matches both a.bad.example and bad.example —
    # the LONGEST wins
    assert out[4].blocked_domain == "a.bad.example"
    for i in (5, 6, 7):
        assert not out[i].blocked

    # drop mode removes rows and the accounting columns
    kept = domain_blocklist(df, blist, drop=True)
    assert sorted(r.id for r in kept.collect()) == [3, 5, 6, 7]
    assert "blocked" not in kept.columns

    # the frame arm agrees with the literal arm on every row
    dom = spark.createDataFrame(
        [(d,) for d in blist], "domain string"
    )
    framed = {
        r.id: r for r in domain_blocklist(df, dom).collect()
    }
    for i in out:
        assert framed[i].blocked == out[i].blocked, i
        assert framed[i].blocked_domain == out[i].blocked_domain, i

    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty"):
        domain_blocklist(df, [])
    with _pytest.raises(ValueError, match="domain"):
        domain_blocklist(df, dom.withColumnRenamed("domain", "d"))
