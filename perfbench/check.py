"""Planted-truth output checks.

Each check takes the truth record from ``gen.py`` and the rows a layer
call returned (plain Python values, already collected) and returns a list
of failure messages; an empty list means the output is correct. A layer
call whose check fails counts as a failed operation in ``error_rate``.
"""

from __future__ import annotations

from gen import COSINE_THRESHOLD, JACCARD_MARGIN, JACCARD_THRESHOLD

_TOL = 1e-4  # the engine rounds similarities to 4 decimals


def _diff(label: str, got: dict, want: dict) -> list[str]:
    out = [f"{label}: unexpected {k}={got[k]!r}" for k in got.keys() - want.keys()]
    out += [f"{label}: missing {k}" for k in want.keys() - got.keys()]
    out += [
        f"{label}: {k} is {got[k]!r}, planted {want[k]!r}"
        for k in got.keys() & want.keys()
        if got[k] != want[k]
    ]
    return sorted(out)


# ---------------------------------------------------------------------------
# dq_catalog
# ---------------------------------------------------------------------------


def row_counts(truth: dict, rows: list[dict]) -> list[str]:
    """``count_compare`` rows: source, target and difference per table."""
    got = {
        r["table_name"]: (
            r["source_row_count"], r["target_row_count"], r["difference"]
        )
        for r in rows
    }
    want = {
        t: (m["rows"], m["target_rows"], m["target_rows"] - m["rows"])
        for t, m in truth["tables"].items()
    }
    return _diff("row counts", got, want)


def column_compare(truth: dict, rows: list[dict]) -> list[str]:
    """``compare_columns`` rows: one status per (table, column)."""
    got = {(r["table_name"], r["col_name"]): r["status"] for r in rows}
    want = {
        (t.upper(), c.upper()): m["compare"]
        for t, tm in truth["tables"].items()
        for c, m in tm["columns"].items()
    }
    return _diff("column compare", got, want)


def profile(truth: dict, rows: list[dict]) -> list[str]:
    """``profile_tables`` rows: totals, null and distinct counts, status."""
    got = {
        (r["table_name"], r["col_name"]): (
            r["total_rows"], r["null_count"], r["distinct_count"], r["status"]
        )
        for r in rows
    }
    want = {
        (t, c): (tm["rows"], m["nulls"], m["distinct"], m["status"])
        for t, tm in truth["tables"].items()
        for c, m in tm["columns"].items()
    }
    return _diff("profile", got, want)


def composite_keys(truth: dict, table: str, keys: list) -> list[str]:
    """``find_composite_keys`` result: exactly the planted minimal keys."""
    got = sorted(sorted(k) for k in keys)
    want = sorted(sorted(k) for k in truth["keys"][table])
    return [] if got == want else [f"keys of {table}: {got}, planted {want}"]


def reports(truth: dict, html: str, markdown: str) -> list[str]:
    """Rendered reports name every table and count the planted NULL
    columns."""
    out = [f"html report lacks {t}" for t in truth["tables"] if t not in html]
    n_null = sum(
        m["status"] == "NULL column"
        for tm in truth["tables"].values()
        for m in tm["columns"].values()
    )
    if f"Total NULL columns: {n_null}\n" not in markdown:
        out.append(f"markdown report does not count {n_null} NULL columns")
    return out


# ---------------------------------------------------------------------------
# llm_dedup
# ---------------------------------------------------------------------------


def exact_dedup(truth: dict, kept_ids: list[int]) -> list[str]:
    """``dedup_exact`` keeps the smallest id of each normalized text."""
    got, want = sorted(kept_ids), truth["exact_keep"]
    if got == want:
        return []
    extra = sorted(set(got) - set(want))[:5]
    missing = sorted(set(want) - set(got))[:5]
    return [f"exact dedup: {len(got)} kept, planted {len(want)}; "
            f"extra {extra}, missing {missing}"]


def _pairs(
    label: str,
    rows: list[tuple[int, int, float]],
    planted: dict[str, float],
    threshold: float,
    margin: float,
) -> list[str]:
    """A reported pair must be planted with a similarity at or above the
    threshold, and report it to 4 decimals; every planted pair at least
    ``margin`` above the threshold must be reported."""
    out = []
    seen = set()
    for a, b, sim in rows:
        key = f"{min(a, b)},{max(a, b)}"
        if key in seen:
            out.append(f"{label}: pair {key} reported twice")
        seen.add(key)
        want = planted.get(key)
        if want is None or want < threshold:
            out.append(f"{label}: pair {key} ({sim}) was not planted above "
                       f"{threshold}")
        elif abs(sim - want) > _TOL:
            out.append(f"{label}: pair {key} reported {sim}, planted {want:.6f}")
    out += [
        f"{label}: planted pair {k} ({s:.4f}) not reported"
        for k, s in planted.items()
        if s >= threshold + margin and k not in seen
    ]
    return out


def near_duplicates(truth: dict, rows: list[tuple[int, int, float]]) -> list[str]:
    """``minhash_near_duplicates`` rows (id_a, id_b, jaccard)."""
    return _pairs(
        "minhash", rows, truth["near_pairs"], JACCARD_THRESHOLD, JACCARD_MARGIN
    )


def embedding_pairs(truth: dict, rows: list[tuple[int, int, float]]) -> list[str]:
    """``embedding_near_dup_pairs`` rows (id_a, id_b, cosine): the planted
    near-miss pairs sit below the threshold and must stay unreported."""
    planted = {**truth["emb_misses"], **truth["emb_pairs"]}
    return _pairs("embedding", rows, planted, COSINE_THRESHOLD, 0.0)


def token_stats(truth: dict, rows: list[tuple[int, int, int]]) -> list[str]:
    """``token_stats`` rows (doc_id, n_chars, n_tokens)."""
    got = {d: (c, t) for d, c, t in rows}
    want = {
        d: (truth["n_chars"][d], n) for d, n in truth["n_tokens"].items()
    }
    return _diff("token stats", got, want)[:5]


def quality_scores(truth: dict, rows: list[tuple[int, int, float]]) -> list[str]:
    """``quality_scores`` rows (doc_id, n_tokens, quality_score): token
    counts match and every score lies in [0, 1]."""
    out = _diff("quality", {d: t for d, t, _ in rows}, truth["n_tokens"])[:5]
    bad = [d for d, _, s in rows if s is None or not 0.0 <= s <= 1.0]
    if bad:
        out.append(f"quality: {len(bad)} scores outside [0, 1], e.g. doc {bad[0]}")
    return out


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


def stream_kept(truth: dict, n_batches: int, kept_ids: list[int]) -> list[str]:
    """The published output of the first ``n_batches`` micro-batches holds
    exactly the planted survivors."""
    want = sorted(i for batch in truth["keep"][:n_batches] for i in batch)
    got = sorted(kept_ids)
    if got == want:
        return []
    extra = sorted(set(got) - set(want))[:5]
    missing = sorted(set(want) - set(got))[:5]
    return [f"stream: {len(got)} kept after {n_batches} batches, planted "
            f"{len(want)}; extra {extra}, missing {missing}"]
