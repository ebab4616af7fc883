"""Tests of the benchmark itself: its oracles against the engine on tiny
inputs, the span arithmetic, and the metric catalogue against
``BENCHMARK.json``.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, layers, oracles  # noqa: E402
from perfbench.trace import Span, Tracer, covered, self_times  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- span arithmetic ---------------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5.0)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3.0)
    assert covered([(3, 4), (3, 4)], 0, 10) == pytest.approx(1.0)


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("pass", 0.0, 10.0),
        Span("fit", 1.0, 4.0, parent=0),
        Span("fit", 3.0, 6.0, parent=0),  # overlaps its sibling by 1 s
        Span("inner", 1.5, 2.0, parent=1),
        Span("write", 8.0, 9.0, parent=0),
    ]
    assert self_times(spans) == pytest.approx([10 - 6, 3 - 0.5, 3, 0.5, 1])


def test_tracer_nests_spans_without_spark():
    t = Tracer()
    with t.span("pass"):
        with t.span("fit", rows=10, iters=2):
            pass
    assert [s.name for s in t.spans] == ["pass", "fit"]
    assert t.spans[1].parent == 0 and t.spans[0].parent is None
    assert t.spans[0].dur >= t.spans[1].dur >= 0


# -- metric catalogue --------------------------------------------------------


def test_catalogue_matches_benchmark_json():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == layers.PER_LAYER
    assert set(layers.MOVES) == set(layers.PER_LAYER)
    e2e = {m["name"] for m in b["end_to_end"]}
    for metric, (moves, workloads) in layers.MOVES.items():
        assert moves in e2e, metric
        assert set(workloads) <= {w["name"] for w in b["workloads"]}, metric
    assert {w["name"] for w in b["workloads"]} == set(inputs.WORKLOADS)


def test_end_to_end_emits_exactly_the_named_metrics():
    t = Tracer()
    passes = []
    for _ in range(2):
        with t.span("pass", traced=False) as p:
            with t.span("fit", rows=100, iters=5):
                pass
        passes.append((False, p.dur))
    t.spans[1].end = t.spans[1].start + 0.5  # non-zero fit time
    t.spans[3].end = t.spans[3].start + 0.7
    out = layers.end_to_end(t, passes, [1.0, 0.5, 0.6], 123.0)
    assert set(out) == {m["name"] for m in _bench()["end_to_end"]}
    assert out["fit_p50_s"]["value"] == pytest.approx(0.6)
    assert out["setup_s"]["value"] == 0.6
    assert out["point_iters_per_s"]["value"] == pytest.approx(
        np.median([500 / 0.5, 500 / 0.7])
    )


# -- oracles against the engine ----------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from mapreduce_kmeans_clustering_spark import get_spark

    s = get_spark(
        app_name="perfbench-tests",
        extra_conf={"spark.ui.enabled": "false"},
    )
    yield s


def test_lloyd_label_and_silhouette_oracles_agree_with_engine(spark, tmp_path):
    from mapreduce_kmeans_clustering_spark.operators.silhouette import silhouette_ref
    from mapreduce_kmeans_clustering_spark.plans import fit, label
    from mapreduce_kmeans_clustering_spark.sources import Centroid, with_rid

    rng = np.random.default_rng(3)
    pts = inputs.reference_points(rng, 600)
    # a far-away duplicate seed empties out, so K shrinks
    seeds = np.vstack([inputs.distinct_rows(rng, pts, 4), [[1e6, 1e6, 1e6]]])
    df = spark.createDataFrame([tuple(p) for p in pts.tolist()], "x double, y double, z double")
    res = fit(df, [Centroid(i, *s) for i, s in enumerate(seeds.tolist())], max_iter=4, threshold=None)
    ids, want = oracles.lloyd3(pts, seeds, 4)
    assert ids == [0, 1, 2, 3]
    assert oracles.check_centroids3(res.centroids, ids, want) == []
    # a perturbed result is caught
    bad = [res.centroids[0]._replace(x=res.centroids[0].x + 1e-3)] + res.centroids[1:]
    assert oracles.check_centroids3(bad, ids, want)

    counts = {
        int(r["cluster"]): int(r["count"])
        for r in label(df, res.centroids).groupBy("cluster").count().collect()
    }
    assert oracles.check_counts(counts, ids, pts, want) == []

    rows = silhouette_ref(with_rid(label(df, res.centroids))).collect()
    cluster = np.array(ids)[oracles.assign3(pts, want)]
    assert oracles.check_silhouette(
        [(r["cluster"], r["avg_intra"], r["avg_inter"], r["silhouette"]) for r in rows],
        pts,
        cluster,
    ) == []


def test_tie_goes_to_lowest_id():
    pts = np.array([[0.0, 0.0, 0.0], [2.0, 0.0, 0.0]])
    cents = np.array([[1.0, 0.0, 0.0], [1.0, 0.0, 0.0], [-1.0, 0.0, 0.0]])
    assert oracles.assign3(pts, cents).tolist() == [0, 0]


def test_curation_oracles_agree_with_engine(spark, tmp_path, monkeypatch):
    from mapreduce_kmeans_clustering_spark.operators.dedup import dedup_pipeline, dup_groups
    from mapreduce_kmeans_clustering_spark.plans import fit_nd

    for k, v in dict(
        CUR_ORIGINALS=300, CUR_EXACT=30, CUR_NEAR=45, CUR_CHAINS=5, CUR_VOCAB=800
    ).items():
        monkeypatch.setattr(inputs, k, v)
    out = str(tmp_path / "cur")
    os.makedirs(out)
    inputs.gen_curation(11, out)
    n = 375
    with open(os.path.join(out, "texts.txt")) as fh:
        texts = fh.read().split("\n")[:n]
    pairs = np.load(os.path.join(out, "pairs.npy"))
    ids = np.arange(n)

    docs = spark.read.parquet(os.path.join(out, "documents.parquet"))
    status = {int(r["doc_id"]): r["status"] for r in dedup_pipeline(docs).collect()}
    near = {int(max(a, b)) for a, b in pairs if texts[a] != texts[b]}
    assert oracles.check_dedup(status, ids, texts, near, 0.3) == []
    assert len(oracles.exact_dups(ids, texts)) == 30
    # a wrongly flagged document is caught
    wrong = dict(status)
    victim = next(i for i, s in status.items() if s == "keep" and i not in near)
    wrong[victim] = "near_dup"
    assert oracles.check_dedup(wrong, ids, texts, near, 0.3)

    pdf = spark.createDataFrame([(int(a), int(b)) for a, b in pairs], "a long, b long")
    groups = {int(r["node"]): int(r["group_id"]) for r in dup_groups(pdf).collect()}
    assert oracles.check_groups(groups, pairs) == []
    assert max(oracles.components(pairs).values()) < n

    emb = spark.read.parquet(os.path.join(out, "embeddings.parquet"))
    seeds = np.load(os.path.join(out, "seeds.npy"))[0]
    res = fit_nd(emb, len(seeds), max_iter=3, threshold=None, seeds=seeds.tolist())
    vecs = np.load(os.path.join(out, "embeddings.npy"))
    assert oracles.check_centroids_nd(res.centroids, oracles.lloyd_nd(vecs, seeds, 3)) == []


def test_traced_per_layer_emits_every_named_metric(spark):
    from mapreduce_kmeans_clustering_spark.plans import fit
    from mapreduce_kmeans_clustering_spark.sources import Centroid

    rng = np.random.default_rng(5)
    pts = inputs.reference_points(rng, 200)
    df = spark.createDataFrame([tuple(p) for p in pts.tolist()], "x double, y double, z double")
    seeds = [Centroid(i, *s) for i, s in enumerate(inputs.distinct_rows(rng, pts, 3).tolist())]
    t = Tracer()
    t.bind(spark)
    passes = []
    for traced in (False, True):
        t.spark_attrib = traced
        with t.span("pass", traced=traced) as p:
            with t.span("fit", rows=200, iters=2):
                fit(df, seeds, max_iter=2, threshold=None)
        passes.append((traced, p.dur))
    out = layers.per_layer(spark, t, passes, [0.1], [0.2], 2, "lloyd3d_floor")
    assert set(out) == {m["name"] for m in _bench()["per_layer"]}
    assert out["kmeans.jobs_per_iter"]["value"] >= 1
    assert 0.0 <= out["kmeans.driver_share"]["value"] <= 1.0
