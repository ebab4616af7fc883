from mapreduce_kmeans_clustering_spark.plans.kmeans import (
    FitResult,
    displacement,
    fit,
    init_farthest,
    label,
    lloyd_iteration,
)
from mapreduce_kmeans_clustering_spark.plans.kmeans_nd import (
    assign_nd,
    fit_nd,
    init_farthest_nd,
    seed_centroids_nd,
    update_centroids_nd,
)

__all__ = [
    "FitResult",
    "displacement",
    "fit",
    "init_farthest",
    "label",
    "lloyd_iteration",
    "assign_nd",
    "fit_nd",
    "init_farthest_nd",
    "seed_centroids_nd",
    "update_centroids_nd",
]
