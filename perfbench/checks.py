"""Output checks. Each returns a list of problems (empty = correct), so
a run can count failed operations instead of stopping at the first.

The reference answer for retrieval is a numpy exact top-k over the
index parquet itself, ranked by cosine with ties broken by
``(doc_id, chunk_id)``, the order the engine promises."""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow.parquet as pq

# scores computed in a different summation order may differ in the
# last bits; rows whose scores lie this close count as tied
SCORE_EPS = 1e-9
# the IVF route rounds scores to 6 decimals
SCORE_ABS_TOL = 1e-6


class IndexSnapshot:
    """The chunk index as numpy arrays, read from its parquet files."""

    def __init__(self, path: str):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        table = pq.read_table(files, columns=["doc_id", "chunk_id", "text", "embedding"])
        self.doc_id = table.column("doc_id").to_numpy()
        self.chunk_id = table.column("chunk_id").to_numpy()
        self.text = table.column("text").to_pylist()
        emb = table.column("embedding").combine_chunks()
        dim = len(emb[0]) if len(emb) else 0
        self.emb = np.asarray(emb.values, dtype=np.float64).reshape(-1, dim)
        self.norm = np.linalg.norm(self.emb, axis=1)

    def __len__(self) -> int:
        return len(self.doc_id)

    def scores(self, qvec) -> np.ndarray:
        q = np.asarray(qvec, dtype=np.float64)
        qn = float(np.linalg.norm(q))
        denom = self.norm * qn
        out = np.zeros(len(self), dtype=np.float64)
        ok = denom > 0
        out[ok] = (self.emb[ok] @ q) / denom[ok]
        return out

    def exact_topk(self, qvec, k: int, mask: np.ndarray | None = None):
        """[(doc_id, chunk_id, score)] best first, ties by id."""
        s = self.scores(qvec)
        idx = np.arange(len(self)) if mask is None else np.flatnonzero(mask)
        order = np.lexsort((self.chunk_id[idx], self.doc_id[idx], -s[idx]))[:k]
        return [
            (int(self.doc_id[i]), int(self.chunk_id[i]), float(s[i]))
            for i in idx[order]
        ]

    def key_score(self, qvec) -> dict[tuple[int, int], float]:
        s = self.scores(qvec)
        return {
            (int(d), int(c)): float(x)
            for d, c, x in zip(self.doc_id, self.chunk_id, s)
        }


def check_exact_topk(got: list[tuple[int, int, float]], expected, all_scores) -> list[str]:
    """``got`` must be ``expected`` position by position, except that
    rows whose reference scores tie within SCORE_EPS may trade places;
    every returned score must match the reference score of its row."""
    problems = []
    if len(got) != len(expected):
        return [f"returned {len(got)} rows, expected {len(expected)}"]
    if len({(d, c) for d, c, _ in got}) != len(got):
        problems.append("duplicate rows in top-k")
    for i, ((d, c, s), (_, _, es)) in enumerate(zip(got, expected)):
        ref = all_scores.get((d, c))
        if ref is None:
            problems.append(f"rank {i}: ({d},{c}) is not in the index")
            continue
        if abs(ref - es) > SCORE_EPS:
            problems.append(f"rank {i}: ({d},{c}) scores {ref:.9f}, expected {es:.9f}")
        if abs(ref - s) > SCORE_ABS_TOL:
            problems.append(f"rank {i}: engine score {s} != reference {ref}")
    return problems


def recall(got: list[tuple[int, int, float]], expected) -> float:
    want = {(d, c) for d, c, _ in expected}
    return len(want & {(d, c) for d, c, _ in got}) / max(len(want), 1)


def check_count(returned: int, expected: int) -> list[str]:
    """An index call's new-chunk count against the chunks it really
    added (0 for an unchanged re-index)."""
    return [] if returned == expected else [f"returned {returned}, expected {expected}"]


def first_line(text: str) -> str:
    return text.split("\n")[0]


def check_chunks(
    snap: IndexSnapshot, texts_by_doc: dict[int, str], chunk_size: int
) -> list[str]:
    """Every chunk fits ``chunk_size``; no ``(doc_id, chunk_id)``
    repeats; each document's chunks in ``chunk_id`` order rebuild its
    text up to whitespace; every document is present."""
    problems = []
    keys = list(zip(snap.doc_id.tolist(), snap.chunk_id.tolist()))
    if len(set(keys)) != len(keys):
        problems.append(f"{len(keys) - len(set(keys))} repeated (doc_id, chunk_id)")
    long = sum(len(t) > chunk_size for t in snap.text)
    if long:
        problems.append(f"{long} chunks longer than {chunk_size}")
    parts: dict[int, list[tuple[int, str]]] = {}
    for (d, c), t in zip(keys, snap.text):
        parts.setdefault(d, []).append((c, t))
    missing = set(texts_by_doc) - set(parts)
    if missing:
        problems.append(f"{len(missing)} documents have no chunks")
    extra = set(parts) - set(texts_by_doc)
    if extra:
        problems.append(f"{len(extra)} unexpected documents in the index")
    bad = 0
    for d, text in texts_by_doc.items():
        if d not in parts:
            continue
        rebuilt = "".join(t for _, t in sorted(parts[d]))
        if "".join(rebuilt.split()) != "".join(text.split()):
            bad += 1
    if bad:
        problems.append(f"{bad} documents do not rebuild from their chunks")
    return problems
