"""Independent numpy / pure-Python oracles for every checked output.

None of these import the engine. Each returns a list of failure
messages (empty when the output agrees), so the caller can count
checks attempted against checks failed.

Lloyd semantics replayed here are the reference's: strict ``<`` on the
distance with the lowest centroid id winning ties, per-cluster
arithmetic mean, and K shrinking when a cluster receives no point.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

import numpy as np

def assign3(pts: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Index into ``cents`` of each point's nearest centroid.

    Distances are formed as sqrt((dx*dx + dy*dy) + dz*dz), the engine's
    evaluation order, and a centroid replaces the running best only on
    a strictly smaller distance, so exact ties go to the lowest index."""
    x, y, z = pts[:, 0], pts[:, 1], pts[:, 2]
    best = np.full(len(pts), np.inf)
    out = np.zeros(len(pts), dtype=np.int64)
    for j, (cx, cy, cz) in enumerate(cents):
        dx, dy, dz = x - cx, y - cy, z - cz
        d = np.sqrt(dx * dx + dy * dy + dz * dz)
        np.copyto(out, j, where=d < best)
        np.minimum(best, d, out=best)
    return out


def lloyd3_step(
    pts: np.ndarray, ids: Sequence[int], cents: np.ndarray
) -> tuple[list[int], np.ndarray]:
    """One Lloyd step over id-sorted centroids; empty clusters drop."""
    a = assign3(pts, cents)
    counts = np.bincount(a, minlength=len(cents))
    keep = np.flatnonzero(counts)
    sums = np.stack(
        [np.bincount(a, weights=pts[:, j], minlength=len(cents)) for j in range(3)],
        axis=1,
    )
    return [int(ids[i]) for i in keep], sums[keep] / counts[keep, None]


def lloyd3(
    pts: np.ndarray, seeds: np.ndarray, iters: int
) -> tuple[list[int], np.ndarray]:
    """Fixed-iteration Lloyd replay from seeds whose ids are 0..K-1."""
    ids: list[int] = list(range(len(seeds)))
    cents = np.asarray(seeds, dtype=np.float64)
    for _ in range(iters):
        ids, cents = lloyd3_step(pts, ids, cents)
    return ids, cents


def check_centroids3(
    got: Iterable[tuple[int, float, float, float]],
    ids: Sequence[int],
    cents: np.ndarray,
    rtol: float = 1e-9,
) -> list[str]:
    got = sorted(got)
    if [g[0] for g in got] != list(ids):
        return [f"centroid ids {[g[0] for g in got]} != oracle {list(ids)}"]
    g = np.array([g[1:] for g in got], dtype=np.float64)
    if not np.allclose(g, cents, rtol=rtol, atol=1e-9):
        return [f"centroids differ by up to {np.abs(g - cents).max():.3g}"]
    return []


def check_counts(got: dict[int, int], ids: Sequence[int], pts: np.ndarray, cents: np.ndarray) -> list[str]:
    """Cluster sizes of a labelled relation against the oracle's."""
    counts = np.bincount(assign3(pts, cents), minlength=len(cents))
    want = {int(ids[i]): int(c) for i, c in enumerate(counts) if c}
    if got != want:
        return [f"label counts {got} != oracle {want}"]
    return []


def silhouette_ref(pts: np.ndarray, cluster: np.ndarray) -> dict[int, tuple[float, float, float]]:
    """The reference's cluster-level silhouette, O(n^2) over all pairs:
    avg_intra = intra_sum / (n (n-1)), avg_inter = inter_sum / (n (k-1)),
    silhouette = (inter - intra) / max(intra, inter); NaN intra for a
    singleton cluster."""
    labels = sorted(set(int(c) for c in cluster))
    k = len(labels)
    intra = dict.fromkeys(labels, 0.0)
    inter = dict.fromkeys(labels, 0.0)
    step = 512
    for s in range(0, len(pts), step):
        p = pts[s : s + step]
        d = np.sqrt(((p[:, None, :] - pts[None, :, :]) ** 2).sum(axis=2))
        same = cluster[s : s + step, None] == cluster[None, :]
        row_intra = np.where(same, d, 0.0).sum(axis=1)
        row_inter = np.where(same, 0.0, d).sum(axis=1)
        for c, ri, re in zip(cluster[s : s + step], row_intra, row_inter):
            intra[int(c)] += ri
            inter[int(c)] += re
    out = {}
    for c in labels:
        n = int((cluster == c).sum())
        a = intra[c] / (n * (n - 1)) if n > 1 else math.nan
        b = inter[c] / (n * (k - 1)) if k > 1 else math.nan
        out[c] = (a, b, (b - a) / max(a, b))
    return out


def check_silhouette(
    got: Iterable[tuple[int, float, float, float]], pts: np.ndarray, cluster: np.ndarray
) -> list[str]:
    want = silhouette_ref(pts, cluster)
    got = {int(r[0]): tuple(float(v) for v in r[1:]) for r in got}
    if sorted(got) != sorted(want):
        return [f"silhouette clusters {sorted(got)} != oracle {sorted(want)}"]
    for c, w in want.items():
        for g, e in zip(got[c], w):
            if not (math.isnan(g) and math.isnan(e)) and not math.isclose(
                g, e, rel_tol=1e-9, abs_tol=1e-9
            ):
                return [f"silhouette of cluster {c}: {got[c]} != oracle {w}"]
    return []


def lloyd_nd(vecs: np.ndarray, seeds: np.ndarray, iters: int) -> np.ndarray:
    """Fixed-iteration n-dimensional Lloyd replay. Surviving clusters are
    renumbered 0..K'-1 in id order after each step, as the engine does."""
    cents = np.asarray(seeds, dtype=np.float64)
    for _ in range(iters):
        d = np.empty((len(vecs), len(cents)))
        for s in range(0, len(vecs), 4096):
            v = vecs[s : s + 4096]
            d[s : s + 4096] = ((v[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        counts = np.bincount(a, minlength=len(cents))
        keep = np.flatnonzero(counts)
        onehot = np.zeros((len(cents), len(vecs)))
        onehot[a, np.arange(len(vecs))] = 1.0
        sums = onehot @ vecs
        cents = sums[keep] / counts[keep, None]
    return cents


def check_centroids_nd(got: Sequence[Sequence[float]], want: np.ndarray) -> list[str]:
    g = np.asarray(got, dtype=np.float64)
    if g.shape != want.shape:
        return [f"fit_nd returned {g.shape} centroids, oracle {want.shape}"]
    if not np.allclose(g, want, rtol=1e-9, atol=1e-9):
        return [f"fit_nd centroids differ by up to {np.abs(g - want).max():.3g}"]
    return []


def exact_dups(ids: np.ndarray, texts: Sequence[str]) -> set[int]:
    """Every id whose text also belongs to a lower id."""
    first: dict[str, int] = {}
    for i in np.argsort(ids):
        first.setdefault(texts[i], int(ids[i]))
    return {int(i) for i, t in zip(ids, texts) if first[t] != int(i)}


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def check_dedup(
    status: dict[int, str],
    ids: np.ndarray,
    texts: Sequence[str],
    planted_near: set[int],
    threshold: float,
) -> list[str]:
    """Exact-dup ids equal the planted set; every near-dup id has a
    lower-id, non-exact-dup source with Jaccard >= threshold; most
    planted near copies are found (LSH recall is probabilistic, so the
    floor is loose)."""
    fails = []
    if set(status) != {int(i) for i in ids}:
        fails.append("dedup status does not cover every document exactly once")
        return fails
    exact = exact_dups(ids, texts)
    got_exact = {i for i, s in status.items() if s == "exact_dup"}
    if got_exact != exact:
        fails.append(
            f"exact_dup ids differ from planted: {len(got_exact ^ exact)} mismatches"
        )
    text_of = {int(i): t for i, t in zip(ids, texts)}
    sets = {i: shingles(t) for i, t in text_of.items() if i not in exact}
    index: dict[str, list[int]] = {}
    for i, sh in sets.items():
        for s in sh:
            index.setdefault(s, []).append(i)
    near = [i for i, s in status.items() if s == "near_dup"]
    bad = 0
    for i in near:
        if i in exact:
            bad += 1
            continue
        cands = {j for s in sets[i] for j in index[s] if j < i}
        if not any(jaccard(sets[i], sets[j]) >= threshold for j in cands):
            bad += 1
    if bad:
        fails.append(f"{bad} near_dup ids have no lower-id source with Jaccard >= {threshold}")
    findable = planted_near - exact
    found = findable & set(near)
    if findable and len(found) < 0.5 * len(findable):
        fails.append(f"near-dup recall {len(found)}/{len(findable)} below 0.5")
    return fails


def components(pairs: np.ndarray) -> dict[int, int]:
    """Union-find over undirected pairs: node -> minimum id of its component."""
    parent: dict[int, int] = {}

    def find(u: int) -> int:
        root = u
        while parent[root] != root:
            root = parent[root]
        while parent[u] != root:
            parent[u], u = root, parent[u]
        return root

    for a, b in pairs:
        a, b = int(a), int(b)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {u: find(u) for u in parent}


def check_groups(got: dict[int, int], pairs: np.ndarray) -> list[str]:
    want = components(pairs)
    if got != want:
        diff = sum(1 for u in set(got) | set(want) if got.get(u) != want.get(u))
        return [f"dup_groups disagree with union-find on {diff} nodes"]
    return []
