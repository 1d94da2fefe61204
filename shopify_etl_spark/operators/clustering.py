"""Distributed k-means over an embedding column (Lloyd's algorithm).

The training-data use case: cluster a document-embedding corpus to drive
mixing/curation decisions (epoch-mix weights per semantic cluster,
near-centroid sampling, outlier triage) and to seed IVF cells for ANN
(`operators/similarity.py::ivf_assign` consumes any centroid table).

Scale shape per iteration — the only one that survives 100 TB:

* centroids (k × d doubles, a few KB) ride to executors inside the
  ``mapInPandas`` closure — broadcast, never joined;
* each Arrow batch computes assignments with one numpy GEMM and emits
  ONLY per-cluster partial sums ``(cid, n, sum_vec)`` — the map-side
  combine. The shuffle is O(batches × k) rows regardless of corpus
  size; vectors never shuffle;
* the driver folds k partial rows into new centroids (k × d — trivial).

Iteration happens in the driver loop (the standard Spark pattern for
fixed-point algorithms); each pass is one job over the corpus.
Determinism: init picks the k rows with the smallest ``xxhash64(id)``
(seeded), so runs are reproducible without a random state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _assign_partials(vec_col: str, id_col: str, centroids):
    """mapInPandas stage: argmax-cosine assignment + per-cluster partial
    sums for the centroid update, one GEMM per Arrow batch."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)  # k × d
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            cid = (Vn @ Cn.T).argmax(axis=1)
            out = {"cid": [], "n": [], "vsum": [], "sim_sum": []}
            sims = (Vn @ Cn.T).max(axis=1)
            for c in np.unique(cid):
                m = cid == c
                out["cid"].append(int(c))
                out["n"].append(int(m.sum()))
                # spherical k-means update: sum of UNIT vectors — the mean
                # direction is the argmax of per-cluster summed cosine, which
                # is what makes the objective provably non-decreasing (raw
                # sums weight by magnitude and lose the guarantee)
                out["vsum"].append(Vn[m].sum(axis=0).tolist())
                out["sim_sum"].append(float(sims[m].sum()))
            yield pd.DataFrame(out)

    return run


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 5,
    seed: int = 7,
    init_by: str = "hash",
):
    """Fit k cosine-metric centroids; returns (centroids, history).

    ``centroids`` is a list of k d-dim lists; ``history`` the mean
    assignment similarity per iteration (non-decreasing — the Lloyd
    monotonicity invariant, pinned in tests).

    ``init_by``: ``"hash"`` seeds from the k rows with the smallest
    ``xxhash64(id, seed)`` — a deterministic pseudo-random draw;
    ``"id"`` seeds from the k smallest ids — an init any SQL engine can
    reproduce, used by the cross-engine verification twin
    (``kmeans_fixed_init_clusters``). Both are reproducible; only
    ``"id"`` is expressible without Spark's hash.
    """
    order = (
        F.xxhash64(F.col(id_col), F.lit(seed)) if init_by == "hash"
        else F.col(id_col)
    )
    init = (
        df.select(id_col, vec_col)
        .withColumn("_h", order)
        .orderBy("_h")
        .limit(k)
        .collect()
    )
    if not init:
        raise ValueError(
            "kmeans_fit: empty corpus — nothing to seed centroids from"
        )
    centroids = [list(map(float, r[vec_col])) for r in init]
    history: list[float] = []
    src = df.select(id_col, vec_col)
    partial_schema = "cid int, n long, vsum array<double>, sim_sum double"
    dim = len(centroids[0])
    for _ in range(iters):
        partials = src.mapInPandas(
            _assign_partials(vec_col, id_col, centroids), partial_schema
        )
        # fold partials in ONE grouped pass: collect the (batches × k)
        # partial-sum arrays per cluster and reduce them elementwise with
        # a JVM zip_with fold — one shuffle per iteration, no posexplode
        # (row ×d multiplication), no d-wide aggregate codegen (measured
        # slower both ways: explode shape 2 shuffles, 64-sum agg ~2×
        # per-iteration cost)
        folded = partials.groupBy("cid").agg(
            F.sum("n").alias("n"),
            F.sum("sim_sum").alias("sim_sum"),
            F.reduce(
                F.collect_list("vsum"),
                F.array_repeat(F.lit(0.0), dim),
                lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
            ).alias("vsum"),
        )
        rows = {r["cid"]: r for r in folded.collect()}
        total_n = sum(r["n"] for r in rows.values())
        total_sim = sum(r["sim_sum"] for r in rows.values())
        history.append(total_sim / total_n)
        for cid, r in rows.items():
            centroids[cid] = [s / r["n"] for s in r["vsum"]]
    return centroids, history


def kmeans_assign(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """Final assignment pass: (id, *keep_cols, cluster_id, ROUND(sim,4))
    per row — same GEMM scoring, full rows out this time.

    ``keep_cols`` rides extra columns (the vector itself, a label)
    through the Arrow map so consumers that need them avoid a join back
    to the corpus — at scale the join is a corpus-wide shuffle, while
    the ride-along is map-side and free."""
    import numpy as np

    # id_col is always emitted first; a keep_cols entry naming it would
    # duplicate the field in the output schema string while the pandas
    # dict collapses to one column — drop it the way vec_col is handled.
    keep_cols = tuple(k for k in keep_cols if k != id_col)

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            S = Vn @ Cn.T
            out = {id_col: pdf[id_col]}
            for k in keep_cols:
                out[k] = pdf[k]
            out["cluster_id"] = S.argmax(axis=1).astype("int32")
            out["sim"] = S.max(axis=1)
            yield pd.DataFrame(out)

    id_type = df.schema[id_col].dataType.simpleString()
    keep_schema = "".join(
        f", {k} {df.schema[k].dataType.simpleString()}" for k in keep_cols
    )
    in_cols = [id_col, vec_col] + [k for k in keep_cols if k != vec_col]
    return df.select(*in_cols).mapInPandas(
        run, f"{id_col} {id_type}{keep_schema}, cluster_id int, sim double"
    )
