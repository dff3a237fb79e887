"""Output checks, computed without the package.

The top-k check re-derives every score from scratch: the stub encoder's
documented byte stream (sha256 chained over hex digests, big-endian
uint32 -> [-1, 1), L2-normalised, rounded to float32) is re-implemented
here, cosine is taken in float64 with numpy, and ranks are ordered by
score DESC then CT_ID ASC. The package's answer must agree to 1e-6.
"""

from __future__ import annotations

import hashlib

import numpy as np

TOL = 1e-6


def stub_vector(text: str, dim: int) -> np.ndarray:
    nbytes = dim * 4
    h = hashlib.sha256(text.encode("utf-8")).hexdigest()
    stream = h
    while len(stream) < nbytes * 2:
        h = hashlib.sha256(h.encode("ascii")).hexdigest()
        stream += h
    raw = np.frombuffer(bytes.fromhex(stream[: nbytes * 2]), dtype=">u4")
    v = raw.astype(np.float64) / 2**31 - 1.0
    n = np.linalg.norm(v)
    return (v / (n if n else 1.0)).astype(np.float32)


class Reference:
    """The built reference as numpy arrays, for recomputing top-k and the
    exact-overwrite choice."""

    def __init__(self, ids, names, cleaned, vectors):
        self.ids = np.asarray(ids, dtype=object)
        mat = np.asarray(vectors, dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        self.unit = mat / norms[:, None]
        # exact overwrite: min CT_ID per cleaned name
        self.exact: dict[str, str] = {}
        for cid, cn in zip(ids, cleaned):
            if cn is not None and (cn not in self.exact or cid < self.exact[cn]):
                self.exact[cn] = cid
        self.cleaned_of_name: dict[str, str] = dict(zip(names, cleaned))

    def topk(self, query: np.ndarray, k: int) -> tuple[list, np.ndarray]:
        q = query.astype(np.float64)
        q = q / (np.linalg.norm(q) or 1.0)
        sims = self.unit @ q
        order = np.lexsort((self.ids, -sims))[:k]
        return list(self.ids[order]), sims[order]

    def score(self, query: np.ndarray, ct_id) -> float:
        q = query.astype(np.float64)
        q = q / (np.linalg.norm(q) or 1.0)
        return float((self.unit[self.ids == ct_id] @ q).max())


def check_report_rows(rows, expected_keys: set, ref: Reference, sample_keys,
                      planted: dict, k: int, dim: int) -> list[str]:
    """Problems found in one mapping report (an empty list means it passed).

    ``rows``: dicts with the report columns; ``expected_keys``: the distinct
    (source, raw label) pairs sent; ``sample_keys``: pairs to recompute
    top-k for; ``planted``: pair -> CT_NAME for labels that must hit an
    exact match."""
    errs: list[str] = []
    by_key: dict = {}
    for r in rows:
        key = (r["source"], r["raw_input_label"])
        if key in by_key:
            errs.append(f"duplicate report row {key}")
        by_key[key] = r
    if set(by_key) != expected_keys:
        errs.append(
            f"report keys differ: {len(by_key)} rows for {len(expected_keys)} labels"
        )
    for key, ct_name in planted.items():
        r = by_key.get(key)
        if r is None:
            continue
        want = ref.exact.get(ref.cleaned_of_name.get(ct_name))
        if r["match_score_1"] != 1.0 or r["matched_asctb_id_1"] != want:
            errs.append(
                f"exact {key}: got ({r['match_score_1']}, {r['matched_asctb_id_1']}) want (1.0, {want})"
            )
        elif any(r[f"matched_asctb_id_{i}"] is not None for i in range(2, k + 1)):
            errs.append(f"exact {key}: ranks >= 2 not nulled")
    for key in sample_keys:
        r = by_key.get(key)
        if r is None or key in planted or r["cleaned_input_label"] in ref.exact:
            continue
        q = stub_vector(r["cleaned_input_label"], dim)
        want_ids, want_scores = ref.topk(q, k)
        for i in range(k):
            got_id, got = r[f"matched_asctb_id_{i + 1}"], r[f"match_score_{i + 1}"]
            if got is None or abs(got - want_scores[i]) > TOL:
                errs.append(f"top-k {key} rank {i + 1}: score {got} want {want_scores[i]:.9f}")
                break
            # a different id is only right when it ties the expected score
            if got_id != want_ids[i] and abs(ref.score(q, got_id) - want_scores[i]) > 1e-9:
                errs.append(f"top-k {key} rank {i + 1}: id {got_id} want {want_ids[i]}")
                break
    return errs


def report_digest(rows, k: int) -> str:
    """Order-independent digest of a report: ids and 6-dp scores."""
    items = sorted(
        "|".join(
            [str(r["source"]), str(r["raw_input_label"])]
            + [f"{r[f'matched_asctb_id_{i}']}:{_round(r[f'match_score_{i}'])}" for i in range(1, k + 1)]
        )
        for r in rows
    )
    return hashlib.sha256("\n".join(items).encode("utf-8")).hexdigest()[:16]


def _round(x):
    return None if x is None else round(float(x), 6)


def pair_recall(groups: list[list[int]], doc_group: dict) -> float:
    """Share of planted within-group pairs that ended in one output group."""
    hit = total = 0
    for g in groups:
        for i in range(len(g)):
            for j in range(i + 1, len(g)):
                total += 1
                hit += doc_group.get(g[i]) is not None and doc_group.get(g[i]) == doc_group.get(g[j])
    return hit / total if total else 1.0
