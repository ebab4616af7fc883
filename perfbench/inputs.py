"""Seeded input generators for the three benchmark workloads.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical files. Inputs are cached on disk under
``<work>/inputs/<workload>-<size tag>-s<seed>/`` and written by a child
process (``python3 perfbench/inputs.py <workload> <seed> <dir>``), so
generation is outside every timed region and its memory never shows in
the benchmark's peak-RSS figure. A ``DONE`` marker is written last; a
directory without it is regenerated.

Sizes are module constants so that the oracles, the workloads and
``BENCHMARK.json`` agree on one set of numbers.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np

# Reserved for gain claims: never used while the benchmark or a change
# under test is tuned, so a claim can be re-checked on unseen inputs.
HELD_OUT_SEED = 7919

# lloyd3d_floor: reference-shaped points, Task2-shaped fits.
FLOOR_N = 20_000
FLOOR_K = 5
FLOOR_SUBSET = 2_000
FLOOR_SEED_SETS = 64

# lloyd3d_scan: one large cached relation, K=16.
SCAN_N = 1_000_000
SCAN_K = 16
SCAN_FILES = 4

# curation_nd: documents with planted duplicates plus embeddings.
CUR_ORIGINALS = 4_000
CUR_EXACT = 400
CUR_NEAR = 600
CUR_DIM = 64
CUR_K = 16
CUR_CHAINS = 40
CUR_CHAIN_LEN = 3
CUR_VOCAB = 6_000

WORKLOADS = ("lloyd3d_floor", "lloyd3d_scan", "curation_nd")

# Keep at most this many seeds per workload on disk.
CACHE_KEEP = 3


def size_tag(workload: str) -> str:
    return {
        "lloyd3d_floor": f"n{FLOOR_N}-k{FLOOR_K}",
        "lloyd3d_scan": f"n{SCAN_N}-k{SCAN_K}",
        "curation_nd": f"d{CUR_ORIGINALS + CUR_EXACT + CUR_NEAR}-e{CUR_DIM}",
    }[workload]


def _rng(workload: str, seed: int) -> np.random.Generator:
    salt = WORKLOADS.index(workload)
    return np.random.default_rng([seed, salt])


def reference_points(rng: np.random.Generator, n: int) -> np.ndarray:
    """Integer x in [0, 9999], y and z in [0, 1000], as float64.

    Integer coordinates keep every per-cluster sum exact in float64,
    so a numpy replay of the engine's means is bit-identical."""
    return np.column_stack(
        [
            rng.integers(0, 10_000, n),
            rng.integers(0, 1_001, n),
            rng.integers(0, 1_001, n),
        ]
    ).astype(np.float64)


def distinct_rows(rng: np.random.Generator, pts: np.ndarray, k: int) -> np.ndarray:
    """k rows of ``pts`` with pairwise-distinct coordinates."""
    while True:
        pick = pts[rng.choice(len(pts), k, replace=False)]
        if len(np.unique(pick, axis=0)) == k:
            return pick


def gen_floor(seed: int, out: str) -> None:
    rng = _rng("lloyd3d_floor", seed)
    pts = reference_points(rng, FLOOR_N)
    np.save(os.path.join(out, "points.npy"), pts)
    np.savetxt(os.path.join(out, "points.csv"), pts, fmt="%d", delimiter=",")
    np.savetxt(
        os.path.join(out, "subset.csv"), pts[:FLOOR_SUBSET], fmt="%d", delimiter=","
    )
    os.makedirs(os.path.join(out, "seeds"))
    for i in range(FLOOR_SEED_SETS):
        np.savetxt(
            os.path.join(out, "seeds", f"{i:03d}.csv"),
            distinct_rows(rng, pts, FLOOR_K),
            fmt="%d",
            delimiter=",",
        )


def gen_scan(seed: int, out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng("lloyd3d_scan", seed)
    pts = reference_points(rng, SCAN_N)
    os.makedirs(os.path.join(out, "points.parquet"))
    for i, part in enumerate(np.array_split(pts, SCAN_FILES)):
        pq.write_table(
            pa.table({"x": part[:, 0], "y": part[:, 1], "z": part[:, 2]}),
            os.path.join(out, "points.parquet", f"part-{i:03d}.parquet"),
        )
    # Several seed sets so that repeated fits in one run do not reuse
    # one literal-centroid plan.
    seeds = np.stack([distinct_rows(rng, pts, SCAN_K) for _ in range(16)])
    np.save(os.path.join(out, "seeds.npy"), seeds)


def _words(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set[str] = set()
    while len(out) < n:
        ln = int(rng.integers(3, 10))
        out.add("".join(rng.choice(letters, ln)))
    return sorted(out)


def gen_curation(seed: int, out: str) -> None:
    """Corpus of originals plus planted copies.

    - exact copies repeat an original's text verbatim;
    - near copies replace 3 tokens of their source;
    - CUR_CHAINS originals each head a chain of CUR_CHAIN_LEN near
      copies (copy of a copy of ...), and no other copy uses them, so
      every seed's duplicate graph has the same diameter and
      ``dup_groups`` runs the same number of rounds.
    Document ids are a random permutation, so copies interleave with
    originals. ``pairs.npy`` holds the planted (source id, copy id)
    edges; ``embeddings.npy`` one 64-dim vector per document drawn
    around one of CUR_K centres."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng("curation_nd", seed)
    vocab = np.array(_words(rng, CUR_VOCAB))
    # Zipf-like word frequencies, so shingles are shared the way real
    # text shares them.
    p = 1.0 / np.arange(1, CUR_VOCAB + 1) ** 0.8
    p /= p.sum()
    texts: list[list[str]] = []
    for _ in range(CUR_ORIGINALS):
        texts.append(list(rng.choice(vocab, int(rng.integers(30, 90)), p=p)))
    pairs: list[tuple[int, int]] = []  # positions, mapped to ids below

    def near(toks: list[str]) -> list[str]:
        toks = list(toks)
        for pos in rng.choice(len(toks), 3, replace=False):
            toks[pos] = str(rng.choice(vocab, p=p))
        return toks

    for head in range(CUR_CHAINS):
        src = head
        for _ in range(CUR_CHAIN_LEN):
            pairs.append((src, len(texts)))
            texts.append(near(texts[src]))
            src = len(texts) - 1
    star_near = CUR_NEAR - CUR_CHAINS * CUR_CHAIN_LEN
    kinds = ["exact"] * CUR_EXACT + ["near"] * star_near
    rng.shuffle(kinds)
    for kind in kinds:
        src = int(rng.integers(CUR_CHAINS, CUR_ORIGINALS))
        pairs.append((src, len(texts)))
        texts.append(near(texts[src]) if kind == "near" else list(texts[src]))
    n = len(texts)
    ids = rng.permutation(n).astype(np.int64)
    doc_text = [" ".join(t) for t in texts]
    pq.write_table(
        pa.table({"doc_id": ids, "text": doc_text}),
        os.path.join(out, "documents.parquet"),
        row_group_size=n // 4 + 1,
    )
    id_pairs = np.array([(ids[a], ids[b]) for a, b in pairs], dtype=np.int64)
    np.save(os.path.join(out, "pairs.npy"), id_pairs)
    pq.write_table(
        pa.table({"a": id_pairs[:, 0], "b": id_pairs[:, 1]}),
        os.path.join(out, "pairs.parquet"),
    )
    centres = rng.normal(0.0, 4.0, (CUR_K, CUR_DIM))
    member = rng.integers(0, CUR_K, n)
    emb = centres[member] + rng.normal(0.0, 1.0, (n, CUR_DIM))
    pq.write_table(
        pa.table(
            {"vec_id": ids, "embedding": pa.array(list(emb), pa.list_(pa.float64()))}
        ),
        os.path.join(out, "embeddings.parquet"),
        row_group_size=n // 4 + 1,
    )
    order = np.argsort(ids)
    np.save(os.path.join(out, "embeddings.npy"), emb[order])
    with open(os.path.join(out, "texts.txt"), "w") as fh:
        for i in order:
            fh.write(doc_text[i] + "\n")
    seeds = np.stack([emb[rng.choice(n, CUR_K, replace=False)] for _ in range(16)])
    np.save(os.path.join(out, "seeds.npy"), seeds)


GENERATORS = {
    "lloyd3d_floor": gen_floor,
    "lloyd3d_scan": gen_scan,
    "curation_nd": gen_curation,
}


def ensure(workload: str, seed: int, root: str) -> str:
    """Return the input directory for (workload, seed), generating it in
    a child process when it is missing or incomplete."""
    path = os.path.join(root, f"{workload}-{size_tag(workload)}-s{seed}")
    if os.path.exists(os.path.join(path, "DONE")):
        os.utime(path)
        return path
    shutil.rmtree(path, ignore_errors=True)
    _evict(root, workload)
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), workload, str(seed), path],
        check=True,
    )
    return path


def _evict(root: str, workload: str) -> None:
    if not os.path.isdir(root):
        return
    mine = [
        os.path.join(root, d) for d in os.listdir(root) if d.startswith(workload + "-")
    ]
    mine.sort(key=os.path.getmtime)
    for old in mine[: max(0, len(mine) - CACHE_KEEP + 1)]:
        shutil.rmtree(old, ignore_errors=True)


def main(argv: list[str]) -> None:
    workload, seed, out = argv[0], int(argv[1]), argv[2]
    os.makedirs(out)
    GENERATORS[workload](seed, out)
    with open(os.path.join(out, "DONE"), "w") as fh:
        fh.write("ok\n")


if __name__ == "__main__":
    main(sys.argv[1:])
