"""Reference answers and comparisons for the output checks."""

from __future__ import annotations

import numpy as np
import pandas as pd


# -- result-set comparison ----------------------------------------------------


def same_result(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason. Compares column names, row
    count and the order-insensitive canonical rows of the repository's own
    oracle gate (``tools/selfcheck.py``), so both judge a result alike."""
    from tools.selfcheck import canon_df

    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns {sorted(spark_df.columns)} != {sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"rows {len(spark_df)} != {len(oracle_df)}"
    a, b = canon_df(spark_df), canon_df(oracle_df)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, first: {diff}"
    return None


# -- curation references ------------------------------------------------------


def exact_groups(ids: np.ndarray, texts: list[str]) -> set[tuple[int, int]]:
    """(min id, group size) for every distinct text."""
    groups: dict[str, list[int]] = {}
    for i, t in zip(ids.tolist(), texts):
        groups.setdefault(t, []).append(i)
    return {(min(v), len(v)) for v in groups.values()}


def cosine_topk(
    ids: np.ndarray, emb: np.ndarray, query_ids: np.ndarray, k: int
) -> tuple[dict[int, list[int]], dict[int, dict[int, float]]]:
    """Exact cosine top-k per query (self excluded, ties by id ascending),
    plus every candidate's similarity for tie-tolerant comparison."""
    v = emb.astype(np.float64)
    v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-300)
    pos = {int(x): i for i, x in enumerate(ids.tolist())}
    top: dict[int, list[int]] = {}
    sims: dict[int, dict[int, float]] = {}
    for q in query_ids.tolist():
        s = v @ v[pos[q]]
        mask = ids != q
        idx = np.nonzero(mask)[0]
        order = np.lexsort((ids[idx], -s[idx]))[: 4 * k]
        sel = idx[order]
        top[q] = [int(x) for x in ids[sel[:k]]]
        sims[q] = {int(ids[j]): float(s[j]) for j in sel}
    return top, sims


def topk_mismatches(
    got: dict[int, list[int]],
    want: dict[int, list[int]],
    sims: dict[int, dict[int, float]],
    tol: float = 1e-9,
) -> int:
    """Queries whose neighbour list differs from the reference by more
    than a reordering of candidates tied within ``tol``."""
    bad = 0
    for q, ref in want.items():
        out = got.get(q, [])
        if out == ref:
            continue
        if len(out) != len(ref):
            bad += 1
            continue
        s = sims[q]
        if any(n not in s or abs(s[n] - s[r]) > tol for n, r in zip(out, ref)):
            bad += 1
    return bad


def pair_recall(pairs: list[tuple[int, int]], cluster: dict[int, int]) -> float:
    """Share of planted pairs whose two ids share a component label."""
    if not pairs:
        return 1.0
    hit = sum(
        1 for a, b in pairs if a in cluster and cluster.get(a) == cluster.get(b)
    )
    return hit / len(pairs)
