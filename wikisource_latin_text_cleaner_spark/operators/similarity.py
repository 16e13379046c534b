"""Vector helpers for embedding dedup and SemDeDup: JVM-side dot product and
norm folds, spherical k-means centroids, and nearest-centroid assignment.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType


def _dot(a, b) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, x: acc + x)


def _norm(vec_col) -> F.Column:
    return F.sqrt(F.aggregate(F.transform(vec_col, lambda x: x * x), F.lit(0.0),
                              lambda acc, x: acc + x))


_IVF_RNG_SEED = 31337


def train_ivf_centroids(
    df: DataFrame,
    n_cells: int = 64,
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
    iters: int = 10,
    seed: int = _IVF_RNG_SEED,
) -> np.ndarray:
    """Spherical k-means centroids from a bounded UNIFORM sample.

    The sample is capped at ``sample_rows`` no matter the corpus size, so
    driver memory is constant (100k x 64 float64 = 51 MB). It is drawn with
    ``df.sample(fraction, seed)`` -- NOT ``limit()``: embedding tables are
    routinely written clustered/sorted, and first-N rows of a clustered
    table train centroids that only see the leading clusters, collapsing
    recall for queries near every other cluster
    (tests/test_dedup_similarity.py::test_ivf_sample_not_limit_on_clustered_input
    demonstrates the failure with the old limit() path). kmeans++ init +
    Lloyd iterations, all numpy; empty cells are reseeded to the point
    farthest from every centroid, so exactly ``n_cells`` centroids come
    back.

    Cost note: computing the sampling fraction needs a count, which on
    parquet/Iceberg resolves from footer/manifest metadata -- not a data
    scan -- and the sample itself is a single pushed-down-fraction pass.
    """
    n_total = df.count()
    if n_total == 0:
        raise ValueError("train_ivf_centroids: input has no rows")
    if n_total <= sample_rows:
        rows = df.select(vec_col).collect()
    else:
        # 1.2x oversample so the Bernoulli draw almost surely reaches the
        # cap.  The trim back down to sample_rows happens DRIVER-SIDE with
        # a seeded shuffle -- `.limit(sample_rows)` after sample would take
        # the EARLIEST sampled rows in table order, quietly re-introducing
        # the clustered-table bias the sample exists to remove.  Driver
        # memory stays bounded at ~1.2x the cap.
        fraction = min(1.0, 1.2 * sample_rows / n_total)
        rows = df.select(vec_col).sample(fraction=fraction, seed=seed).collect()
        if len(rows) > sample_rows:
            idx = np.random.RandomState(seed).choice(
                len(rows), size=sample_rows, replace=False
            )
            rows = [rows[i] for i in idx]
    if not rows:
        raise ValueError("train_ivf_centroids: input has no rows")
    x = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    n = x.shape[0]
    n_cells = min(n_cells, n)
    rng = np.random.RandomState(seed)

    # kmeans++ on cosine distance (1 - dot on unit vectors)
    centers = [x[rng.randint(n)]]
    for _ in range(1, n_cells):
        d = 1.0 - np.max(x @ np.stack(centers).T, axis=1)
        d = np.maximum(d, 0.0)
        probs = d / d.sum() if d.sum() > 0 else np.full(n, 1.0 / n)
        centers.append(x[rng.choice(n, p=probs)])
    c = np.stack(centers)

    for _ in range(iters):
        sims = x @ c.T
        assign = sims.argmax(axis=1)
        for j in range(n_cells):
            members = x[assign == j]
            if len(members) == 0:
                c[j] = x[int(np.argmin(sims.max(axis=1)))]
            else:
                m = members.sum(axis=0)
                c[j] = m / max(np.linalg.norm(m), 1e-12)
    return c


def make_cell_udf(centroids: np.ndarray):
    """Vectorized nearest-centroid assignment (argmax dot on unit vectors)."""
    c = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf(LongType())
    def cell_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)).to_list())
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series((mat @ c.T).argmax(axis=1).astype(np.int64))

    return cell_udf

