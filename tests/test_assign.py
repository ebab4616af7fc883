"""Unit tests for assignment semantics (O4/O5): tie-breaking,
empty-cluster drop, join-variant parity (SURVEY §5.3)."""

from __future__ import annotations

import random

import pytest

from mapreduce_kmeans_clustering_spark import schemas
from mapreduce_kmeans_clustering_spark.operators.assign import assign, assign_join
from mapreduce_kmeans_clustering_spark.plans.kmeans import displacement, lloyd_iteration
from mapreduce_kmeans_clustering_spark.sources.points import with_rid
from mapreduce_kmeans_clustering_spark.sources.seeds import Centroid, seeds_df


def make_points(spark, rows):
    return spark.createDataFrame(rows, schema=schemas.POINTS)


@pytest.fixture(scope="module")
def blob_points(spark):
    """2,000 seeded points around five centres, spread over 8 partitions
    so collected row order is whatever the shuffle makes it."""
    rng = random.Random(20261017)
    centres = [(0, 0, 0), (40, 5, 5), (5, 40, 5), (5, 5, 40), (30, 30, 30)]
    rows = [
        tuple(c + rng.gauss(0.0, 6.0) for c in centres[i % 5]) for i in range(2000)
    ]
    return make_points(spark, rows).repartition(8).cache()


@pytest.fixture(scope="module")
def blob_seeds():
    return [
        Centroid(i, float(x), float(y), float(z))
        for i, (x, y, z) in enumerate(
            [(1, 2, 3), (35, 0, 9), (0, 33, 1), (8, 2, 31), (25, 28, 36)]
        )
    ]


def test_tie_breaks_to_lowest_index(spark):
    # point equidistant from centroids 0 and 1 -> strict '<' keeps 0
    seeds = [Centroid(0, 0.0, 0.0, 0.0), Centroid(1, 2.0, 0.0, 0.0)]
    pts = make_points(spark, [(1.0, 0.0, 0.0)])
    [row] = assign(pts, seeds).collect()
    assert row["cluster"] == 0

    # same with reversed ids: the LOWER id wins regardless of list order
    seeds_rev = [Centroid(1, 0.0, 0.0, 0.0), Centroid(0, 2.0, 0.0, 0.0)]
    [row] = assign(pts, seeds_rev).collect()
    assert row["cluster"] == 0


def test_tie_break_three_way(spark):
    seeds = [
        Centroid(0, 1.0, 0.0, 0.0),
        Centroid(1, 0.0, 1.0, 0.0),
        Centroid(2, 0.0, 0.0, 1.0),
    ]
    [row] = assign(make_points(spark, [(0.0, 0.0, 0.0)]), seeds).collect()
    assert row["cluster"] == 0


def test_sq_distance_same_argmin(spark, blob_points, blob_seeds):
    a = assign(blob_points, blob_seeds).groupBy("cluster").count().orderBy("cluster")
    b = (
        assign(blob_points, blob_seeds, use_sqrt=False)
        .groupBy("cluster")
        .count()
        .orderBy("cluster")
    )
    assert a.collect() == b.collect()


def test_empty_cluster_drops(spark):
    # centroid 2 is far outside the bounding box -> attracts nothing ->
    # absent from the update output (K shrinks, SURVEY §1.3.4)
    seeds = [
        Centroid(0, 0.0, 0.0, 0.0),
        Centroid(1, 10.0, 0.0, 0.0),
        Centroid(2, 1e9, 1e9, 1e9),
    ]
    pts = make_points(spark, [(0.0, 0.0, 0.0), (1.0, 0.0, 0.0), (10.0, 1.0, 0.0)])
    out = lloyd_iteration(pts, seeds)
    assert [c.id for c in out] == [0, 1]
    # and the strict displacement check then raises (Task5A.java:138-140)
    with pytest.raises(ValueError, match="mismatch"):
        displacement(seeds, out, strict=True)
    # non-strict mode compares the surviving ids
    assert displacement(seeds, out, strict=False) > 0


def test_assign_join_matches_literal_assign(spark, blob_points, blob_seeds):
    pts = with_rid(blob_points)
    via_join = assign_join(pts, seeds_df(spark, blob_seeds))
    via_lit = assign(pts, blob_seeds, keep_cols=["rid"])
    mism = (
        via_join.select("rid", "cluster")
        .join(via_lit.select("rid", "cluster"), "rid")
        .where(via_join["cluster"] != via_lit["cluster"])
        .count()
    )
    assert mism == 0


def test_cluster_ids_stable_and_sorted(spark, blob_points, blob_seeds):
    """update_centroids returns its K rows in no order; lloyd_iteration
    sorts them by id on the driver, whatever the seed list order, and
    every id is the seed id it came from."""
    seeds = [c._replace(id=i) for c, i in zip(blob_seeds, (40, 7, 3, 22, 0))]
    out = lloyd_iteration(blob_points, seeds)
    assert [c.id for c in out] == [0, 3, 7, 22, 40]
    assert lloyd_iteration(blob_points, seeds[::-1]) == out
    assert lloyd_iteration(blob_points, out) == lloyd_iteration(blob_points, out[::-1])


def test_negative_zero_seed_regression(spark):
    """Pinned falsifier (round-4 judge find): a seed containing the
    IEEE -0.0 coordinate triggered a Spark 4.1.2 whole-stage-codegen
    CSE miscompute in the literal-distance projection — the point
    (0,0,1), which sits exactly ON seed 2, computed distance 0.0 to
    seed 0 (true distance 1.0) and was misassigned to cluster 0.
    functions/literals.norm_lit normalizes every data-derived constant
    to +0.0 at F.lit time; this test must fail again if any constant
    channel bypasses it."""
    seeds = [
        Centroid(0, 0.0, 0.0, -0.0),
        Centroid(1, 0.0, 1.0, 0.0),
        Centroid(2, 0.0, 0.0, 1.0),
    ]
    pts = make_points(
        spark,
        [
            (0.0, 0.0, -0.0),
            (0.0, 1.0, 0.0),
            (0.0, 0.0, 0.0),
            (0.0, 0.0, 0.0),
            (0.0, 0.0, 1.0),
        ],
    )
    got = sorted(
        (r["x"], r["y"], r["z"], r["cluster"]) for r in assign(pts, seeds).collect()
    )
    # every point sits exactly on its seed: clusters must be 0,1,0,0,2
    assert got == [
        (0.0, 0.0, -0.0, 0),
        (0.0, 0.0, 0.0, 0),
        (0.0, 0.0, 0.0, 0),
        (0.0, 0.0, 1.0, 2),
        (0.0, 1.0, 0.0, 1),
    ]
    # and one Lloyd step keeps SSE at 0 (no cluster vanishes)
    cents = lloyd_iteration(pts, seeds)
    assert len(cents) == 3


def test_negative_zero_nd_channels(spark):
    """The n-dim constant channels (sqdist_to_const -> semantic argmin,
    PQ codebooks) share the same -0.0 exposure; pin the HOF form too."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.functions.distance import sqdist_to_const

    df = spark.createDataFrame([([0.0, 0.0, 1.0],)], "v array<double>")
    sib0 = sqdist_to_const(F.col("v"), [0.0, 0.0, -0.0])
    sib1 = sqdist_to_const(F.col("v"), [0.0, 1.0, 0.0])
    [row] = df.select(sib0.alias("d0"), sib1.alias("d1")).collect()
    assert row["d0"] == 1.0
    assert row["d1"] == 2.0
