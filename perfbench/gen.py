"""Seeded input generators with planted truth for the three workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files (pyarrow embeds no timestamps) and returns an
identical truth record. The truth is what the generator planted, so the
checks in ``check.py`` compare engine output against it without
re-running any engine logic:

- ``dq_catalog``: per table row counts, per column null counts, distinct
  counts and NULL/low-distinct/OK status, per column type drift status
  and the one minimal composite key of each key table.
- ``llm_dedup``: exact-duplicate groups, near-duplicate families with
  their exact shingle Jaccard, planted embedding pairs with their cosine.
- ``stream_ingest``: the doc ids the near-dup gate must keep per batch.

Documents of different families never share a word 3-shingle (checked
while generating), so no pair outside a family can verify as a near-dup.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Sizes and planted shares. BENCHMARK.json's workload reasons quote them.
# ---------------------------------------------------------------------------

# (rows, columns) of each plain source table; the target side is a drifted
# copy of each. Shapes are fixed so every seed costs the same work.
DQ_SHAPES = [(5_000, 8), (3_000, 6), (2_000, 4)]
DQ_KEY_TABLES = 1  # tables with one planted minimal 2-column key
DQ_KEY_GRID = (60, 40)  # a key table holds every (order_id, line_no) pair
DQ_KEY_COLS = 6  # columns of a key table (2 key + 4 duplicated)
DQ_NULL_SHARE = 0.15  # columns that are entirely NULL (at least 1 a table)
DQ_LOW_SHARE = 0.2  # columns with 1..5 distinct values
DQ_ROW_DRIFT_TABLES = 1  # tables whose target copy lost rows
DQ_TYPE_DRIFT_SHARE = 0.2  # columns whose target type changed

CORPUS_DOCS = 1_500
DOC_TOKENS = (60, 120)
EXACT_DUP_SHARE = 0.05  # docs that are case/whitespace copies of another
NEAR_DUP_SHARE = 0.10  # docs that are token-substitution variants
EMB_VECTORS = 1_200
EMB_DIM = 64
EMB_PAIR_SHARE = 0.02  # vectors in a planted cosine >= 0.98 pair
EMB_MISS_SHARE = 0.02  # vectors in a planted 0.90..0.94 near-miss pair

STREAM_BATCHES = 12  # generated; a run consumes as many as time allows
STREAM_BATCH_DOCS = 200
STREAM_CROSS_DUP_SHARE = 0.20  # near-dups of docs accepted in earlier batches
STREAM_WITHIN_DUP_SHARE = 0.05  # near-dups of an earlier doc of the same batch
STREAM_NEAR_MISS_SHARE = 0.05  # low-overlap variants that must be kept

JACCARD_THRESHOLD = 0.8  # the engine's default near-dup threshold
JACCARD_MARGIN = 0.05  # planted overlaps stay this far from the threshold
COSINE_THRESHOLD = 0.97
SHINGLE_N = 3

_VOCAB = 40_000
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# dq_catalog
# ---------------------------------------------------------------------------

_KINDS = ("int", "bigint", "float", "double", "string", "ts")
_ARROW = {
    "int": pa.int32(),
    "bigint": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "string": pa.string(),
    "ts": pa.timestamp("us", tz="UTC"),
}
# planted type drift: target type and whether dbqt's groups call it compatible
_COMPATIBLE_DRIFT = {"int": "bigint", "float": "double"}
_INCOMPATIBLE_DRIFT = {"bigint": "string", "double": "string", "ts": "bigint"}


def _values(kind: str, codes: np.ndarray, mask: np.ndarray) -> pa.Array:
    """Distinct integer codes -> distinct values of ``kind`` (injective,
    so the column's distinct count equals that of the unmasked codes)."""
    if kind == "string":
        return pa.array(
            [None if m else f"v{c:07d}" for c, m in zip(codes.tolist(), mask.tolist())],
            type=pa.string(),
        )
    if kind in ("float", "double"):
        vals = codes * 0.5 + 0.25
    elif kind == "ts":
        vals = codes.astype(np.int64) * 1_000_000 + 1_600_000_000_000_000
    else:
        vals = codes * 7 + 3
    return pa.array(vals, mask=mask, type=_ARROW[kind])


def _column(
    rng: np.random.Generator, kind: str, role: str, n: int
) -> tuple[pa.Array, int, int]:
    """(array, null_count, distinct_count) for one planted column."""
    if role == "null":
        return pa.nulls(n, type=_ARROW[kind]), n, 0
    distinct_cap = int(rng.integers(1, 6)) if role == "low" else n
    codes = rng.integers(0, distinct_cap, n)
    mask = rng.random(n) < (0.0 if role == "low" else 0.05)
    arr = _values(kind, codes, mask)
    return arr, int(mask.sum()), int(np.unique(codes[~mask]).size)


def _key_table(rng: np.random.Generator, n_cols: int) -> tuple[dict, int]:
    """A table whose only minimal unique key is (order_id, line_no).

    Rows are the full grid a x b, so the pair is unique while each column
    alone repeats. Every other column takes fewer than min(a, b) values,
    so by counting no other single column or pair can be unique."""
    a, b = DQ_KEY_GRID
    grid = np.array([(i, j) for i in range(a) for j in range(b)])
    grid = grid[rng.permutation(len(grid))]
    n = len(grid)
    cols = {
        "order_id": pa.array(grid[:, 0], type=pa.int64()),
        "line_no": pa.array(grid[:, 1], type=pa.int64()),
    }
    for i in range(n_cols - 2):
        card = int(rng.integers(3, min(a, b) - 1))
        cols[f"attr_{i}"] = pa.array(
            [f"a{c}" for c in rng.integers(0, card, n).tolist()], type=pa.string()
        )
    return cols, n


def gen_dq_catalog(root: str, seed: int) -> dict:
    """Write ``root/src/*.parquet`` and the drifted ``root/tgt/*.parquet``;
    return the truth record."""
    rng = np.random.default_rng([seed, 1])
    truth: dict = {"tables": {}, "keys": {}}
    n_tables = len(DQ_SHAPES) + DQ_KEY_TABLES
    row_drift = set(
        rng.choice(len(DQ_SHAPES), DQ_ROW_DRIFT_TABLES, replace=False).tolist()
    )
    for t in range(n_tables):
        name = f"t{t:02d}"
        if t >= len(DQ_SHAPES):
            cols, n = _key_table(rng, DQ_KEY_COLS)
            truth["keys"][name] = [["line_no", "order_id"]]
            meta = {
                c: {"kind": "bigint" if c in ("order_id", "line_no") else "string",
                    "role": "key"}
                for c in cols
            }
        else:
            n, n_cols = DQ_SHAPES[t]
            n_null = max(1, round(n_cols * DQ_NULL_SHARE))
            n_low = round(n_cols * DQ_LOW_SHARE)
            roles = ["null"] * n_null + ["low"] * n_low
            roles += ["ok"] * (n_cols - len(roles))
            roles = [roles[i] for i in rng.permutation(n_cols)]
            cols, meta = {}, {}
            for i, role in enumerate(roles):
                kind = _KINDS[(t + i) % len(_KINDS)]
                cname = f"c{i:02d}_{kind}"
                cols[cname], nulls, distinct = _column(rng, kind, role, n)
                meta[cname] = {"kind": kind, "role": role,
                               "nulls": nulls, "distinct": distinct}
        src = pa.table(cols)
        for cname, m in meta.items():
            if m["role"] == "key":
                arr = src.column(cname)
                m["nulls"] = arr.null_count
                m["distinct"] = len(set(arr.to_pylist()))
            m["status"] = (
                "NULL column" if m["distinct"] == 0
                else "Low distinct" if m["distinct"] <= 5
                else "OK"
            )
            m["compare"] = "Matching"
        truth["tables"][name] = {"rows": n, "target_rows": n, "columns": meta}
        if t in row_drift:
            truth["tables"][name]["target_rows"] = n - int(rng.integers(1, n // 10))
        _write(src, os.path.join(root, "src", f"{name}.parquet"))
    # type drift: a fixed share of the retypable columns, chosen by seed
    retypable = [
        (t, c) for t, tm in truth["tables"].items()
        for c, m in tm["columns"].items()
        if m["role"] in ("low", "ok")
        and (m["kind"] in _COMPATIBLE_DRIFT or m["kind"] in _INCOMPATIBLE_DRIFT)
    ]
    n_cols = sum(len(tm["columns"]) for tm in truth["tables"].values())
    k = min(len(retypable), round(n_cols * DQ_TYPE_DRIFT_SHARE))
    drift = {retypable[i] for i in rng.choice(len(retypable), k, replace=False)}
    for name, tm in truth["tables"].items():
        src = pq.read_table(os.path.join(root, "src", f"{name}.parquet"))
        tgt_cols = {}
        for cname, m in tm["columns"].items():
            arr = src.column(cname).slice(0, tm["target_rows"])
            if (name, cname) in drift:
                if m["kind"] in _COMPATIBLE_DRIFT:
                    arr = arr.cast(_ARROW[_COMPATIBLE_DRIFT[m["kind"]]])
                else:
                    arr = arr.cast(_ARROW[_INCOMPATIBLE_DRIFT[m["kind"]]])
                    m["compare"] = "Different Types"
            tgt_cols[cname] = arr
        _write(pa.table(tgt_cols), os.path.join(root, "tgt", f"{name}.parquet"))
    return truth


# ---------------------------------------------------------------------------
# Text corpora (llm_dedup, stream_ingest)
# ---------------------------------------------------------------------------


def _vocab(rng: np.random.Generator) -> list[str]:
    """``_VOCAB`` distinct random lowercase words of 3 to 9 letters."""
    words: set[str] = set()
    while len(words) < _VOCAB:
        lengths = rng.integers(3, 10, _VOCAB)
        letters = _LETTERS[rng.integers(0, 26, (_VOCAB, 9))]
        words.update("".join(row[:n]) for row, n in zip(letters, lengths))
    return sorted(words)[:_VOCAB]


def _shingles(tokens: list[str]) -> set[str]:
    if len(tokens) < SHINGLE_N:
        return {" ".join(tokens)}
    return {
        " ".join(tokens[i : i + SHINGLE_N])
        for i in range(len(tokens) - SHINGLE_N + 1)
    }


def _jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


class _Families:
    """Token documents grouped in families; no 3-shingle is shared by two
    families, so every cross-family Jaccard is exactly 0."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.vocab = _vocab(rng)
        self.owner: dict[str, int] = {}

    def _claim(self, tokens: list[str], family: int) -> bool:
        sh = _shingles(tokens)
        if any(self.owner.get(s, family) != family for s in sh):
            return False
        for s in sh:
            self.owner[s] = family
        return True

    def fresh(self, family: int) -> list[str]:
        while True:
            n = int(self.rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
            toks = [self.vocab[i] for i in self.rng.integers(0, _VOCAB, n)]
            if self._claim(toks, family):
                return toks

    def variant(
        self, base: list[str], family: int, lo: float, hi: float
    ) -> list[str]:
        """A token-substitution variant of ``base`` with Jaccard in [lo, hi]."""
        # k interior substitutions remove 3k of the S shingles and add 3k
        s, j = len(base) - SHINGLE_N + 1, (lo + hi) / 2
        k = max(1, round(s * (1 - j) / (3 * (1 + j))))
        while True:
            toks = list(base)
            for pos in self.rng.choice(len(base), k, replace=False):
                toks[int(pos)] = self.vocab[int(self.rng.integers(0, _VOCAB))]
            got = _jaccard(base, toks)
            if got > hi:
                k += 1
            elif got < lo:
                k = max(1, k - 1)
            elif self._claim(toks, family):
                return toks


def _case_copy(rng: np.random.Generator, tokens: list[str]) -> str:
    """An exact duplicate after ``normalize_text``: changed case and
    whitespace only."""
    style = int(rng.integers(0, 3))
    if style == 0:
        return " ".join(tokens).upper()
    if style == 1:
        return "  " + "   ".join(tokens) + " "
    return "\t".join(t.capitalize() for t in tokens)


def gen_llm_dedup(root: str, seed: int) -> dict:
    """Write ``root/docs.parquet`` (doc_id, text) and
    ``root/embeddings.parquet`` (vec_id, embedding); return the truth."""
    rng = np.random.default_rng([seed, 2])
    fam = _Families(rng)
    texts: list[str] = []
    tokens: list[list[str]] = []
    family_of: list[int] = []
    n_exact = int(CORPUS_DOCS * EXACT_DUP_SHARE)
    n_near = int(CORPUS_DOCS * NEAR_DUP_SHARE)
    f = 0
    pairs: dict[tuple[int, int], float] = {}

    def add(toks: list[str], text: str | None = None) -> None:
        texts.append(text if text is not None else " ".join(toks))
        tokens.append(toks)
        family_of.append(f)

    # exact-duplicate groups: a base doc plus case/whitespace copies
    while n_exact > 0:
        base = fam.fresh(f)
        add(base)
        for _ in range(min(n_exact, int(rng.integers(1, 3)))):
            add(base, _case_copy(rng, base))
            n_exact -= 1
        f += 1
    # near-duplicate families: high-overlap variants (must be reported)
    # and low-overlap variants (must not be)
    while n_near > 0:
        base = fam.fresh(f)
        add(base)
        for _ in range(min(n_near, int(rng.integers(1, 4)))):
            hi_overlap = rng.random() < 0.6
            lo, hi = (
                (JACCARD_THRESHOLD + JACCARD_MARGIN, 0.97) if hi_overlap
                else (0.3, JACCARD_THRESHOLD - JACCARD_MARGIN)
            )
            add(fam.variant(base, f, lo, hi))
            n_near -= 1
        f += 1
    while len(texts) < CORPUS_DOCS:
        add(fam.fresh(f))
        f += 1
    # shuffle doc ids so families do not sit in adjacent rows
    order = rng.permutation(len(texts))
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[order] = np.arange(len(texts))
    by_family: dict[int, list[int]] = {}
    for i, fm in enumerate(family_of):
        by_family.setdefault(fm, []).append(i)
    for members in by_family.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                i, j = members[x], members[y]
                a, b = sorted((int(doc_id[i]), int(doc_id[j])))
                pairs[(a, b)] = _jaccard(tokens[i], tokens[j])
    rows = sorted(zip(doc_id.tolist(), texts))
    _write(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "text": pa.array([r[1] for r in rows], type=pa.string()),
        }),
        os.path.join(root, "docs.parquet"),
    )
    first: dict[str, int] = {}  # normalized text -> smallest doc id
    for i, toks in enumerate(tokens):
        norm = " ".join(toks)
        first[norm] = min(first.get(norm, int(doc_id[i])), int(doc_id[i]))
    n_tokens = {int(doc_id[i]): len(t) for i, t in enumerate(tokens)}
    n_chars = {int(doc_id[i]): len(t) for i, t in enumerate(texts)}

    # embeddings: random unit vectors (pairwise cosine ~ N(0, 1/64)) plus
    # planted pairs at an exact cosine
    E = rng.standard_normal((EMB_VECTORS, EMB_DIM))
    E /= np.linalg.norm(E, axis=1, keepdims=True)
    emb_pairs: dict[tuple[int, int], float] = {}
    emb_misses: dict[tuple[int, int], float] = {}
    slots = rng.permutation(EMB_VECTORS)
    n_pair = int(EMB_VECTORS * EMB_PAIR_SHARE) // 2
    n_miss = int(EMB_VECTORS * EMB_MISS_SHARE) // 2
    for k in range(n_pair + n_miss):
        a, b = int(slots[2 * k]), int(slots[2 * k + 1])
        cos = rng.uniform(0.98, 0.995) if k < n_pair else rng.uniform(0.90, 0.94)
        u = E[b] - E[b].dot(E[a]) * E[a]
        u /= np.linalg.norm(u)
        E[b] = cos * E[a] + np.sqrt(1 - cos * cos) * u
        got = float(E[a].dot(E[b]) / (np.linalg.norm(E[a]) * np.linalg.norm(E[b])))
        (emb_pairs if k < n_pair else emb_misses)[(min(a, b), max(a, b))] = got
    _write(
        pa.table({
            "vec_id": pa.array(np.arange(EMB_VECTORS), type=pa.int64()),
            "embedding": pa.array(E.tolist(), type=pa.list_(pa.float64())),
        }),
        os.path.join(root, "embeddings.parquet"),
    )
    return {
        "docs": len(texts),
        "exact_keep": sorted(first.values()),
        "near_pairs": {f"{a},{b}": j for (a, b), j in sorted(pairs.items())},
        "n_tokens": n_tokens,
        "n_chars": n_chars,
        "emb_pairs": {f"{a},{b}": c for (a, b), c in sorted(emb_pairs.items())},
        "emb_misses": {f"{a},{b}": c for (a, b), c in sorted(emb_misses.items())},
    }


def gen_stream_ingest(root: str, seed: int) -> dict:
    """Write ``root/batches/b0000.parquet``... (doc_id, text), one file per
    micro-batch, doc ids increasing across batches; return the ids the
    gate must keep per batch."""
    rng = np.random.default_rng([seed, 3])
    fam = _Families(rng)
    accepted: list[tuple[int, list[str]]] = []  # (family, tokens) of bases
    keep: list[list[int]] = []
    next_id = 0
    n_cross = int(STREAM_BATCH_DOCS * STREAM_CROSS_DUP_SHARE)
    n_within = int(STREAM_BATCH_DOCS * STREAM_WITHIN_DUP_SHARE)
    n_miss = int(STREAM_BATCH_DOCS * STREAM_NEAR_MISS_SHARE)
    n_family = 0
    for b in range(STREAM_BATCHES):
        kinds = (
            ["cross"] * (n_cross if accepted else 0)
            + ["within"] * n_within
            + ["miss"] * (n_miss if accepted else 0)
        )
        kinds += ["fresh"] * (STREAM_BATCH_DOCS - len(kinds))
        kinds = [kinds[i] for i in rng.permutation(len(kinds))]
        # a within-batch near-dup needs an earlier fresh doc of this batch
        batch_fresh: list[tuple[int, list[str]]] = []
        ids, texts, kept = [], [], []
        for kind in kinds:
            if kind == "within" and not batch_fresh:
                kind = "fresh"
            if kind == "fresh":
                toks = fam.fresh(n_family)
                batch_fresh.append((n_family, toks))
                n_family += 1
                kept.append(next_id)
            elif kind == "within":
                fm, base = batch_fresh[int(rng.integers(0, len(batch_fresh)))]
                toks = fam.variant(
                    base, fm, JACCARD_THRESHOLD + JACCARD_MARGIN, 0.97
                )
            else:
                fm, base = accepted[int(rng.integers(0, len(accepted)))]
                lo, hi = (
                    (JACCARD_THRESHOLD + JACCARD_MARGIN, 0.97) if kind == "cross"
                    else (0.2, 0.45)
                )
                toks = fam.variant(base, fm, lo, hi)
                if kind == "miss":
                    kept.append(next_id)
            ids.append(next_id)
            texts.append(" ".join(toks))
            next_id += 1
        accepted.extend(batch_fresh)
        keep.append(kept)
        _write(
            pa.table({
                "doc_id": pa.array(ids, type=pa.int64()),
                "text": pa.array(texts, type=pa.string()),
            }),
            os.path.join(root, "batches", f"b{b:04d}.parquet"),
        )
    return {"keep": keep}


GENERATORS = {
    "dq_catalog": gen_dq_catalog,
    "llm_dedup": gen_llm_dedup,
    "stream_ingest": gen_stream_ingest,
}
