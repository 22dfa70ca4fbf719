"""Self-test of the generators and the planted-truth checks (no Spark).

    python3 -m pytest perfbench/test_check.py -q

Every check must accept the output the truth describes and reject that
output with one planted fact corrupted.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os

import pytest

import check
import gen
import run


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), root).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.fixture(scope="module")
def truths(tmp_path_factory):
    root = tmp_path_factory.mktemp("inputs")
    return {
        name: g(str(root / name), 7) for name, g in gen.GENERATORS.items()
    } | {"root": str(root)}


@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_same_seed_same_inputs_and_truth(truths, tmp_path, name):
    again = gen.GENERATORS[name](str(tmp_path), 7)
    assert json.dumps(again, sort_keys=True) == json.dumps(
        truths[name], sort_keys=True
    )
    assert _digest(str(tmp_path)) == _digest(os.path.join(truths["root"], name))


def test_other_seed_other_inputs(truths, tmp_path):
    other = gen.gen_llm_dedup(str(tmp_path), 8)
    assert other["near_pairs"] != truths["llm_dedup"]["near_pairs"]


def test_planted_shares(truths):
    dq = truths["dq_catalog"]
    statuses = [
        m["status"] for t in dq["tables"].values() for m in t["columns"].values()
    ]
    assert {"NULL column", "Low distinct", "OK"} <= set(statuses)
    compares = [
        m["compare"] for t in dq["tables"].values() for m in t["columns"].values()
    ]
    assert "Different Types" in compares
    assert len(dq["keys"]) == gen.DQ_KEY_TABLES
    llm = truths["llm_dedup"]
    above = [j for j in llm["near_pairs"].values()
             if j >= gen.JACCARD_THRESHOLD + gen.JACCARD_MARGIN]
    below = [j for j in llm["near_pairs"].values() if j < gen.JACCARD_THRESHOLD]
    assert above and below
    assert len(llm["exact_keep"]) < llm["docs"]
    assert all(c >= 0.98 for c in llm["emb_pairs"].values())
    assert all(c < gen.COSINE_THRESHOLD for c in llm["emb_misses"].values())
    keep = truths["stream_ingest"]["keep"]
    assert len(keep) == gen.STREAM_BATCHES
    assert all(len(k) < gen.STREAM_BATCH_DOCS for k in keep[1:])


# --- outputs exactly as the truth describes them ---------------------------


def _dq_outputs(t):
    counts = [
        {"table_name": n, "source_row_count": m["rows"],
         "target_row_count": m["target_rows"],
         "difference": m["target_rows"] - m["rows"]}
        for n, m in t["tables"].items()
    ]
    compared = [
        {"table_name": n.upper(), "col_name": c.upper(), "status": m["compare"]}
        for n, tm in t["tables"].items() for c, m in tm["columns"].items()
    ]
    profiled = [
        {"table_name": n, "col_name": c, "total_rows": tm["rows"],
         "null_count": m["nulls"], "distinct_count": m["distinct"],
         "status": m["status"]}
        for n, tm in t["tables"].items() for c, m in tm["columns"].items()
    ]
    return counts, compared, profiled


def _markdown(profiled) -> str:
    n_null = sum(r["status"] == "NULL column" for r in profiled)
    return f"# Summary\nTotal NULL columns: {n_null}\n"


def _llm_outputs(t):
    def planted(pairs, floor):
        return [
            (*map(int, k.split(",")), round(v, 4))
            for k, v in pairs.items() if v >= floor
        ]

    return {
        "exact": list(t["exact_keep"]),
        "near": planted(t["near_pairs"], gen.JACCARD_THRESHOLD),
        "emb": planted(t["emb_pairs"], gen.COSINE_THRESHOLD),
        "tokens": [(d, t["n_chars"][d], n) for d, n in t["n_tokens"].items()],
        "quality": [(d, n, 0.5) for d, n in t["n_tokens"].items()],
    }


def test_dq_checks_accept_truth_and_reject_corruption(truths):
    t = truths["dq_catalog"]
    counts, compared, profiled = _dq_outputs(t)
    assert check.row_counts(t, counts) == []
    assert check.column_compare(t, compared) == []
    assert check.profile(t, profiled) == []
    for table, keys in t["keys"].items():
        assert check.composite_keys(t, table, [tuple(k) for k in keys]) == []
    html = " ".join(t["tables"])
    assert check.reports(t, html, _markdown(profiled)) == []

    bad = copy.deepcopy(counts)
    bad[0]["target_row_count"] += 1  # one row count off by one
    assert check.row_counts(t, bad)
    assert check.row_counts(t, counts[1:])  # one table missing

    bad = copy.deepcopy(profiled)
    null_col = next(r for r in bad if r["status"] == "NULL column")
    null_col["status"] = "OK"  # one NULL column reported as OK
    assert check.profile(t, bad)
    bad = copy.deepcopy(profiled)
    bad[0]["distinct_count"] += 1
    assert check.profile(t, bad)

    bad = copy.deepcopy(compared)
    drifted = next(r for r in bad if r["status"] == "Different Types")
    drifted["status"] = "Matching"  # incompatible drift missed
    assert check.column_compare(t, bad)

    table = next(iter(t["keys"]))
    assert check.composite_keys(t, table, [("order_id",)])
    assert check.composite_keys(t, table, [])

    assert check.reports(t, html, "Total NULL columns: 0\n")  # NULLs missed
    assert check.reports(t, "", _markdown(profiled))


def test_llm_checks_accept_truth_and_reject_corruption(truths):
    t = truths["llm_dedup"]
    out = _llm_outputs(t)
    assert check.exact_dedup(t, out["exact"]) == []
    assert check.near_duplicates(t, out["near"]) == []
    assert check.embedding_pairs(t, out["emb"]) == []
    assert check.token_stats(t, out["tokens"]) == []
    assert check.quality_scores(t, out["quality"]) == []

    assert check.exact_dedup(t, out["exact"][1:])  # one survivor dropped
    dup = next(
        int(k.split(",")[1]) for k, j in t["near_pairs"].items() if j == 1.0
    )
    assert check.exact_dedup(t, out["exact"] + [dup])  # a duplicate kept

    must = next(
        i for i, p in enumerate(out["near"])
        if p[2] >= gen.JACCARD_THRESHOLD + gen.JACCARD_MARGIN
    )
    assert check.near_duplicates(t, out["near"][:must] + out["near"][must + 1:])
    assert check.near_duplicates(t, out["near"] + [(0, 10**6, 0.9)])  # unplanted
    low = next(k for k, j in t["near_pairs"].items() if j < gen.JACCARD_THRESHOLD)
    a, b = map(int, low.split(","))
    assert check.near_duplicates(t, out["near"] + [(a, b, 0.9)])
    wrong = list(out["near"])
    wrong[0] = (wrong[0][0], wrong[0][1], wrong[0][2] - 0.01)  # wrong Jaccard
    assert check.near_duplicates(t, wrong)
    assert check.near_duplicates(t, out["near"] + out["near"][:1])  # twice

    assert check.embedding_pairs(t, out["emb"][1:])  # planted pair missed
    miss = next(iter(t["emb_misses"]))
    a, b = map(int, miss.split(","))
    assert check.embedding_pairs(t, out["emb"] + [(a, b, 0.97)])  # near-miss

    bad = list(out["tokens"])
    d, c, n = bad[0]
    bad[0] = (d, c, n + 1)
    assert check.token_stats(t, bad)
    bad = list(out["quality"])
    bad[0] = (bad[0][0], bad[0][1], 1.5)
    assert check.quality_scores(t, bad)


def test_stream_check_accepts_truth_and_rejects_corruption(truths):
    t = truths["stream_ingest"]
    kept = [i for batch in t["keep"][:3] for i in batch]
    assert check.stream_kept(t, 3, kept) == []
    assert check.stream_kept(t, 3, kept[1:])  # a survivor lost
    dropped = next(
        i for i in range(kept[-1]) if i not in set(kept)
    )
    assert check.stream_kept(t, 3, kept + [dropped])  # a near-dup let through
    assert check.stream_kept(t, 4, kept)  # a batch never published


def test_traced_run_prints_the_benchmark_per_layer_metrics():
    path = os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")
    with open(path) as f:
        per_layer = json.load(f)["per_layer"]
    assert run.layer_metric_units() == {m["name"]: m["unit"] for m in per_layer}
