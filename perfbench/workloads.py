"""The three workloads. Each is a closed loop with one client: the next
call is issued only when the previous one has returned.

A workload has four parts:

- ``setup``: read its inputs through the engine's sources and cache them
  (timed as set-up, repeated by the runner);
- ``warmup``: one untimed call of each kind, so JIT and plan caches are
  warm before timing;
- ``run_pass``: one timed pass over its phases, each phase inside a
  tracer span named after the layer it calls;
- ``verify``: after the run, compare every kept output with the oracles.

``probe`` runs only in traced mode: direct calls into single layers
whose numbers the passes cannot isolate.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np

from perfbench import inputs, oracles

DEDUP_THRESHOLD = 0.3


def _read_labeled(out: str) -> dict[int, int]:
    """Cluster sizes of a ``write_labeled`` CSV directory, read with
    pyarrow rather than Spark."""
    import pyarrow as pa
    import pyarrow.csv as pacsv

    counts: dict[int, int] = {}
    names = ["x", "y", "z", "cluster"]
    for f in sorted(glob.glob(os.path.join(out, "part-*"))):
        if os.path.getsize(f) == 0:
            continue
        t = pacsv.read_csv(
            f,
            read_options=pacsv.ReadOptions(column_names=names),
            convert_options=pacsv.ConvertOptions(column_types={"cluster": pa.int64()}),
        )
        vals, cnt = np.unique(t.column("cluster").to_numpy(), return_counts=True)
        for v, c in zip(vals, cnt):
            counts[int(v)] = counts.get(int(v), 0) + int(c)
    return counts


def _files_written(out: str) -> int:
    return len(glob.glob(os.path.join(out, "part-*")))


class Workload:
    name = ""
    # Expected seconds per pass on a 4-core host; the runner runs
    # round(--seconds / pass_s) passes.
    pass_s = 1.0

    def __init__(self, in_dir: str, out_dir: str):
        self.in_dir = in_dir
        self.out_dir = out_dir
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        self.fits_done = 0

    def cleanup(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def _label_write(self, cents) -> str:
        """label + write_labeled over every row of ``self.points``."""
        from mapreduce_kmeans_clustering_spark.plans import label
        from mapreduce_kmeans_clustering_spark.sinks.text_kv import write_labeled

        out = os.path.join(self.out_dir, "labeled")
        write_labeled(label(self.points, cents), out)
        return out


class Floor(Workload):
    """20k reference-shaped points from CSV; Task2-shaped fits on fresh
    seeds, then silhouette on a 2k subset and a labelled write."""

    name = "lloyd3d_floor"
    pass_s = 6.0
    fits_per_pass = 2
    iters = 5

    def setup(self, spark) -> None:
        from mapreduce_kmeans_clustering_spark.sources import read_points_csv

        self.points = read_points_csv(spark, os.path.join(self.in_dir, "points.csv")).cache()
        self.subset = read_points_csv(spark, os.path.join(self.in_dir, "subset.csv")).cache()
        self.points.count()
        self.subset.count()
        self.rows = inputs.FLOOR_N

    def _seeds(self):
        from mapreduce_kmeans_clustering_spark.sources import load_seeds

        i = self.fits_done % inputs.FLOOR_SEED_SETS
        self.fits_done += 1
        return i, load_seeds(os.path.join(self.in_dir, "seeds", f"{i:03d}.csv"))

    def _silhouette(self, cents):
        from mapreduce_kmeans_clustering_spark.operators.silhouette import silhouette_ref
        from mapreduce_kmeans_clustering_spark.plans import label
        from mapreduce_kmeans_clustering_spark.sources import with_rid

        return silhouette_ref(with_rid(label(self.subset, cents))).collect()

    def warmup(self, spark) -> None:
        from mapreduce_kmeans_clustering_spark.plans import fit

        _, seeds = self._seeds()
        res = fit(self.points, seeds, max_iter=self.iters, threshold=None)
        self._silhouette(res.centroids)
        self._label_write(res.centroids)
        self.fits: list[tuple[int, list]] = []

    def run_pass(self, tracer) -> None:
        from mapreduce_kmeans_clustering_spark.plans import fit

        for _ in range(self.fits_per_pass):
            i, seeds = self._seeds()
            with tracer.span("fit", rows=self.rows, iters=self.iters):
                res = fit(self.points, seeds, max_iter=self.iters, threshold=None)
            self.fits.append((i, res.centroids))
        cents = res.centroids
        with tracer.span("silhouette", pairs=inputs.FLOOR_SUBSET**2):
            self.sil = (cents, self._silhouette(cents))
        with tracer.span("label_write") as s:
            out = self._label_write(cents)
            s.attrs["files"] = _files_written(out)
        self.labeled = (cents, out)

    def probe(self, spark, tracer) -> None:
        _probe_assign_aggregate(self.points, self.fits[-1][1], self.rows, tracer)

    def verify(self) -> tuple[int, list[str]]:
        pts = np.load(os.path.join(self.in_dir, "points.npy"))
        fails: list[str] = []
        n = 0
        for i, cents in self.fits:
            seeds = np.loadtxt(
                os.path.join(self.in_dir, "seeds", f"{i:03d}.csv"), delimiter=","
            )
            ids, want = oracles.lloyd3(pts, seeds, self.iters)
            fails += oracles.check_centroids3(cents, ids, want)
            n += 1
        cents, rows = self.sil
        sub = pts[: inputs.FLOOR_SUBSET]
        c = np.array(sorted(cents), dtype=np.float64)
        cluster = c[oracles.assign3(sub, c[:, 1:]), 0].astype(np.int64)
        fails += oracles.check_silhouette(
            [(r["cluster"], r["avg_intra"], r["avg_inter"], r["silhouette"]) for r in rows],
            sub,
            cluster,
        )
        n += 1
        cents, out = self.labeled
        c = np.array(sorted(cents), dtype=np.float64)
        fails += oracles.check_counts(_read_labeled(out), c[:, 0].astype(int), pts, c[:, 1:])
        n += 1
        return n, fails


class Scan(Workload):
    """1M points from parquet, cached; one K=16 fit of fixed length per
    pass, then every row labelled and written."""

    name = "lloyd3d_scan"
    pass_s = 6.5
    iters = 4

    def setup(self, spark) -> None:
        from mapreduce_kmeans_clustering_spark.sources import read_points_parquet

        self.points = read_points_parquet(
            spark, os.path.join(self.in_dir, "points.parquet")
        ).cache()
        self.points.count()
        self.rows = inputs.SCAN_N

    def _seeds(self):
        from mapreduce_kmeans_clustering_spark.sources import Centroid

        all_seeds = np.load(os.path.join(self.in_dir, "seeds.npy"))
        i = self.fits_done % len(all_seeds)
        self.fits_done += 1
        return i, [Centroid(j, *map(float, row)) for j, row in enumerate(all_seeds[i])]

    def warmup(self, spark) -> None:
        from mapreduce_kmeans_clustering_spark.plans import fit

        _, seeds = self._seeds()
        res = fit(self.points, seeds, max_iter=1, threshold=None)
        self._label_write(res.centroids)
        self.fits: list[tuple[int, list]] = []

    def run_pass(self, tracer) -> None:
        from mapreduce_kmeans_clustering_spark.plans import fit

        i, seeds = self._seeds()
        with tracer.span("fit", rows=self.rows, iters=self.iters):
            res = fit(self.points, seeds, max_iter=self.iters, threshold=None)
        self.fits.append((i, res.centroids))
        with tracer.span("label_write") as s:
            out = self._label_write(res.centroids)
            s.attrs["files"] = _files_written(out)
        self.labeled = (res.centroids, out)

    def probe(self, spark, tracer) -> None:
        _probe_assign_aggregate(self.points, self.fits[-1][1], self.rows, tracer)

    def verify(self) -> tuple[int, list[str]]:
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.in_dir, "points.parquet"))
        pts = np.column_stack([t.column(c).to_numpy() for c in "xyz"])
        all_seeds = np.load(os.path.join(self.in_dir, "seeds.npy"))
        fails: list[str] = []
        n = 0
        for i, cents in self.fits:
            ids, want = oracles.lloyd3(pts, all_seeds[i], self.iters)
            fails += oracles.check_centroids3(cents, ids, want)
            n += 1
        cents, out = self.labeled
        c = np.array(sorted(cents), dtype=np.float64)
        fails += oracles.check_counts(_read_labeled(out), c[:, 0].astype(int), pts, c[:, 1:])
        return n + 1, fails


class Curation(Workload):
    """5k documents with planted exact and near duplicates: the dedup
    pipeline, transitive groups over the planted pair graph, and an
    n-dimensional K=16 fit over one 64-dim embedding per document."""

    name = "curation_nd"
    pass_s = 7.0
    iters = 3

    def setup(self, spark) -> None:
        from mapreduce_kmeans_clustering_spark.sources import read_documents_parquet

        self.docs = read_documents_parquet(
            spark, os.path.join(self.in_dir, "documents.parquet")
        ).cache()
        self.emb = spark.read.parquet(os.path.join(self.in_dir, "embeddings.parquet")).cache()
        self.pairs = spark.read.parquet(os.path.join(self.in_dir, "pairs.parquet")).cache()
        self.docs.count()
        self.emb.count()
        self.pairs.count()
        self.rows = inputs.CUR_ORIGINALS + inputs.CUR_EXACT + inputs.CUR_NEAR

    def _seeds(self):
        all_seeds = np.load(os.path.join(self.in_dir, "seeds.npy"))
        i = self.fits_done % len(all_seeds)
        self.fits_done += 1
        return i, all_seeds[i].tolist()

    def warmup(self, spark) -> None:
        from mapreduce_kmeans_clustering_spark.operators.dedup import dedup_pipeline, dup_groups
        from mapreduce_kmeans_clustering_spark.plans import fit_nd

        dedup_pipeline(self.docs, verify_threshold=DEDUP_THRESHOLD).collect()
        dup_groups(self.pairs).collect()
        _, seeds = self._seeds()
        fit_nd(self.emb, inputs.CUR_K, max_iter=1, threshold=None, seeds=seeds)
        self.fits: list[tuple[int, list]] = []

    def run_pass(self, tracer) -> None:
        from mapreduce_kmeans_clustering_spark.operators.dedup import dedup_pipeline, dup_groups
        from mapreduce_kmeans_clustering_spark.plans import fit_nd

        with tracer.span("dedup", docs=self.rows):
            self.status = dedup_pipeline(self.docs, verify_threshold=DEDUP_THRESHOLD).collect()
        with tracer.span("groups"):
            self.groups = dup_groups(self.pairs).collect()
        i, seeds = self._seeds()
        with tracer.span("fit_nd", rows=self.rows, iters=self.iters):
            res = fit_nd(self.emb, inputs.CUR_K, max_iter=self.iters, threshold=None, seeds=seeds)
        self.fits.append((i, res.centroids))

    def probe(self, spark, tracer) -> None:
        """Candidate and verified pair counts of the dedup layer, from the
        same public operators the pipeline composes."""
        from pyspark.sql import functions as F

        from mapreduce_kmeans_clustering_spark.operators.dedup import (
            exact_dup_drops,
            jaccard_for_pairs,
            lsh_candidate_pairs,
        )

        with tracer.span("dedup_probe") as s:
            drops = exact_dup_drops(self.docs).select("doc_id")
            survivors = self.docs.join(drops, "doc_id", "left_anti")
            cands = lsh_candidate_pairs(survivors).localCheckpoint()
            s.attrs["candidates"] = cands.count()
            s.attrs["verified"] = (
                jaccard_for_pairs(survivors, cands)
                .where(F.col("jaccard") >= DEDUP_THRESHOLD)
                .count()
            )

    def verify(self) -> tuple[int, list[str]]:
        pairs = np.load(os.path.join(self.in_dir, "pairs.npy"))
        with open(os.path.join(self.in_dir, "texts.txt")) as fh:
            texts = fh.read().split("\n")[: self.rows]
        ids = np.arange(self.rows, dtype=np.int64)
        fails: list[str] = []
        status = {int(r["doc_id"]): r["status"] for r in self.status}
        if len(self.status) != self.rows:
            fails.append(f"dedup returned {len(self.status)} rows for {self.rows} docs")
        # dedup_pipeline flags the higher id of a verified pair
        near_planted = {
            int(max(a, b)) for a, b in pairs if texts[int(a)] != texts[int(b)]
        }
        fails += oracles.check_dedup(status, ids, texts, near_planted, DEDUP_THRESHOLD)
        fails += oracles.check_groups(
            {int(r["node"]): int(r["group_id"]) for r in self.groups}, pairs
        )
        emb = np.load(os.path.join(self.in_dir, "embeddings.npy"))
        all_seeds = np.load(os.path.join(self.in_dir, "seeds.npy"))
        for i, cents in self.fits:
            fails += oracles.check_centroids_nd(
                cents, oracles.lloyd_nd(emb, all_seeds[i], self.iters)
            )
        return 2 + len(self.fits), fails


def _probe_assign_aggregate(points, cents, rows: int, tracer) -> None:
    """Direct calls into the assign and aggregate layers on the last
    fitted centroids: a scan-local projection into the noop sink, and
    one K-row update collected to the driver."""
    from mapreduce_kmeans_clustering_spark.operators.aggregate import update_centroids
    from mapreduce_kmeans_clustering_spark.operators.assign import assign

    with tracer.span("assign", rows=rows):
        assign(points, cents).write.format("noop").mode("overwrite").save()
    with tracer.span("aggregate"):
        update_centroids(assign(points, cents, keep_cols=["x", "y", "z"])).collect()


WORKLOADS = {w.name: w for w in (Floor, Scan, Curation)}
