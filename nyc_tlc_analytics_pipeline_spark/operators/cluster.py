"""Distributed k-means (Lloyd's algorithm) over an embedding column.

Scale shape: each iteration is ONE scan of the vectors plus one k×dim
aggregate.  Assignment is a pure map: an Arrow-batched numpy kernel
computes the N×k distance matrix of a batch with one matmul against the
k centroids, which ride the kernel closure (model-sized, never the plan).
A Lloyd update emits, per batch, one (count, sum-vector) partial per
cluster, so the update shuffle carries batches·k·dim rows, never
vector-count-sized ones.  The only driver traffic is the k×dim centroid
matrix per iteration (bounded, like the IVF centroid collect in
operators/similarity.py).  No .collect() of data rows anywhere.

Arrow kernels instead of column expressions: Catalyst's higher-order
array lambdas evaluate INTERPRETED per element (~4 µs/element measured
at k=16, dim=64), while the numpy kernel is ~100× faster per pass and
O(1) in plan size whatever k is.

Cross-engine determinism: centroid coordinates AND the per-vector
distances are rounded (nudged, 6 decimals — functions/scalar.rnd) at
every step, with argmin ties broken by lowest cluster id.  Rounding
freezes the float-association drift between engines (numpy's matmul
sums in a different order than a SQL fold; the drift, ~1e-15, sits
eight orders below the 1e-9 nudge), so an external SQL engine can
replicate the full trajectory exactly — that is what makes an ITERATIVE
algorithm oracle-checkable end-to-end (q62, q64, q164; same trick as the
rounded LM scores in q56).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..core.guards import collect_bounded
from ..core.pins import pin
from ..functions.scalar import rnd

ROUND_DECIMALS = 6


def _nearest(pdf, cmat, cc):
    """(V, rounded squared distances, nearest cid) for one pandas batch of
    vectors ``pdf["v"]`` against the centroid matrix ``cmat`` (row norms
    ``cc``): |v|² − 2 v·C + |c|² via one matmul, nudge-rounded BEFORE
    the argmin, first minimum = lowest-cid tie-break."""
    import numpy as np

    V = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
    vv = (V * V).sum(axis=1)
    # clip the tiny negatives FP cancellation can produce; the 1e-9
    # nudge then rounds them to 0.0 exactly
    d2 = np.maximum(vv[:, None] - 2.0 * (V @ cmat.T) + cc[None, :], 0.0)
    d2 = np.round(d2 + 1e-9, ROUND_DECIMALS)
    return V, d2, d2.argmin(axis=1)


def assign_clusters(vecs: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Attach (cid, dist2) for the nearest centroid to every row of
    ``vecs`` (vector column ``v``; every other column passes through) — a
    map-only Arrow kernel, no shuffle.  Distances are rounded (nudged, 6 dp) BEFORE the argmin,
    with ties broken by lowest cluster id."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64)
    cc = (cmat * cmat).sum(axis=1)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in vecs.schema.fields
    ) + ", cid long, dist2 double"

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            _, d2, cid = _nearest(pdf, cmat, cc)
            out = pdf.copy()
            out["cid"] = cid.astype("int64")
            out["dist2"] = d2[np.arange(len(cid)), cid]
            yield out

    return vecs.mapInPandas(kernel, out_schema)


def _centroid_partials(vecs: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """One Lloyd update's map side: per Arrow batch, assign each vector to
    its nearest centroid (:func:`_nearest`) and emit one (cid, n, sums)
    partial per cluster present in the batch — model-sized output, so the
    following (cid, pos) aggregate shuffles O(batches × k × dim) rows no
    matter how large N grows."""
    import numpy as np
    import pandas as pd

    cmat = np.asarray(centroids, dtype=np.float64)
    cc = (cmat * cmat).sum(axis=1)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V, _, cid = _nearest(pdf, cmat, cc)
            n = np.bincount(cid, minlength=len(cmat))
            sums = np.zeros_like(cmat)
            np.add.at(sums, cid, V)  # scatter-add: one pass, any k
            present = np.nonzero(n)[0]
            yield pd.DataFrame(
                {
                    "cid": present.astype("int64"),
                    "n": n[present].astype("int64"),
                    "sums": [sums[c].tolist() for c in present],
                }
            )

    return vecs.mapInPandas(kernel, "cid long, n long, sums array<double>")


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iters: int = 2,
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means with deterministic init (the vectors of the k
    lowest ids, in id order).  Returns (final assignment DataFrame,
    final centroid matrix).  ``iters`` centroid updates are performed;
    the returned assignment is under the FINAL centroids."""
    vecs = df.select(
        col(id_col).alias("vid"), col(vec_col).cast("array<double>").alias("v")
    )
    # pin once (core.pins rule): every Lloyd sweep (and the caller's
    # downstream joins) re-scan the vectors; without this the source
    # scan + cast lineage re-executes 2+iters times
    vecs = pin(vecs)
    cents = [list(r.v) for r in vecs.orderBy("vid").limit(k).collect()]
    dim = len(cents[0]) if cents else 0
    for _ in range(iters):
        # the per-batch partials are the map-side combine Lloyd needs;
        # sum-of-partials vs a direct avg is an FP re-association ~1e-15
        # under the 1e-9 rounding nudge
        upd = _centroid_partials(vecs, cents).select(
            "cid", "n", F.posexplode("sums").alias("pos", "x")
        )
        agg = upd.groupBy("cid", "pos").agg(
            rnd(F.sum("x") / F.sum("n"), ROUND_DECIMALS).alias("m")
        )
        new_rows = collect_bounded(
            agg,
            # k×dim rows — bounded by the MODEL size, not the data; a
            # ragged vec column (mixed dims) is the misuse that breaks it
            k * max(dim, 1),
            "kmeans_fit",
            "a fixed-width vector column (k x dim centroid state)",
        )
        for r in new_rows:
            cents[r.cid][r.pos] = r.m
    return assign_clusters(vecs, cents), cents


def kmeans_summary(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iters: int = 2,
) -> DataFrame:
    """Per-cluster fit summary: member count, mean (rounded) squared
    distance, and the first centroid coordinate as a trajectory
    witness."""
    assigned, cents = kmeans_fit(df, id_col, vec_col, k, iters)
    first_coords = F.array(*[lit(float(c[0])) for c in cents])
    return (
        assigned.groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            rnd(F.avg("dist2"), ROUND_DECIMALS).alias("avg_dist2"),
        )
        .withColumn(
            "centroid_c1", F.element_at(first_coords, col("cid").cast("int") + 1)
        )
        .select(col("cid").alias("cluster_id"), "n_members", "avg_dist2", "centroid_c1")
        .orderBy("cluster_id")
    )


#: auto-k ceiling: the centroid matrix is k×dim floats shipped to every
#: worker (broadcast row / kernel closure), and the oracle's unrolled SQL
#: grows with k; past this, the in-cluster LSH sub-bucket
#: (max_cluster_size) carries the scale burden instead.
_AUTO_K_CAP = 4096


def semdedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | None = None,
    iters: int = 2,
    threshold: float = 0.25,
    target_cluster_size: int = 1000,
    max_cluster_size: int | None = None,
    n_planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup pairs found by
    clustering the embedding space and comparing cosine similarity ONLY
    within a cluster — the cluster assignment is the candidate-blocking
    scheme (recall bounded by it, like every LSH operator here), so the
    pair work is k × (N/k)² instead of N² (:func:`_semdedup_pairs`).  The convention downstream
    dedup applies: in each qualifying pair the higher id (doc_b) is the
    drop candidate, the lower id survives.

    Scale shape (the paper runs k ∝ corpus size — tens of thousands of
    clusters on billions of embeddings — precisely so clusters stay
    small):

    - ``k=None`` (default) sizes k as ceil(N / target_cluster_size)
      (one count job), capped at ``_AUTO_K_CAP``; a FIXED small k would
      make the within-cluster join O(N²/k) — quadratic at any fixed k.
    - ``max_cluster_size`` bounds the worst case regardless of how
      skewed the clustering comes out: clusters larger than the cap are
      subdivided by deterministic random-hyperplane sign bits
      (:func:`similarity.lsh_bucket` — the same md5-derived planes as
      the embedding near-dup operator), taking ceil(log2(size/cap))
      bits, so expected sub-bucket size ≤ cap and per-cluster pair work
      is O(size · cap) instead of O(size²).  The bucket-size stats are a
      k-row aggregate broadcast back — never a data-sized collect.
      Pairs split across sub-buckets of an oversized cluster are
      missed; that is the standard LSH recall trade, documented here
      because SemDeDup's blocking is already recall-bounded by k-means.
    """
    from .similarity import lsh_bucket, random_hyperplanes

    if k is None:
        n = df.count()
        k = max(2, min(_AUTO_K_CAP, -(-n // max(1, target_cluster_size))))
    assigned, cents = kmeans_fit(df, id_col, vec_col, k, iters)
    # pin (core.pins rule): the final assignment is consumed by TWO
    # branches — the per-cluster size aggregate (subdivision depths) and
    # the pair join itself.  The assignment is a map-only Arrow kernel,
    # so no exchange reuse applies; without the pin the N×k distance
    # matmul (and its two Python-boundary crossings) runs once per
    # consumer (measured: 2 ArrowEvalPython passes in the q64 plan).
    assigned = pin(assigned)
    # empty input: no centroids to derive a plane dim from, and nothing
    # to pair — skip the subdivision branch; the joins below are empty
    if max_cluster_size is not None and max_cluster_size > 0 and cents:
        planes = random_hyperplanes(n_planes, len(cents[0]), seed)
        # per-cluster subdivision depth: k rows, broadcast back
        depth = F.ceil(F.log2(col("count") / lit(float(max_cluster_size))))
        depths = (
            assigned.groupBy("cid")
            .count()
            .select(
                "cid",
                F.least(
                    F.greatest(depth, lit(0)).cast("int"), lit(n_planes)
                ).alias("__depth"),
            )
        )
        # shiftleft() takes only a literal bit count — expr form for the
        # per-row depth column
        mask = F.expr("shiftleft(CAST(1 AS BIGINT), __depth) - 1")
        assigned = (
            assigned.join(F.broadcast(depths), "cid")
            .withColumn("__sub", lsh_bucket(col("v"), planes).bitwiseAND(mask))
            .drop("__depth")
        )
    else:
        assigned = assigned.withColumn("__sub", lit(0).cast("long"))
    return _semdedup_pairs(assigned, float(threshold))


def _semdedup_pairs(
    assigned: DataFrame, threshold: float, block: int = 1024
) -> DataFrame:
    """Within-bucket pairs: one ``applyInPandas`` group per (cid, __sub)
    bucket, the cosine of every in-bucket pair from ONE numpy matmul of
    the unit vectors (a pairwise SQL join would evaluate an interpreted
    fold lambda per pair, ~4 µs/element).  Cosines are nudge-rounded
    (6 dp) BEFORE the threshold, so a pair within an ulp of it is
    admitted by the oracle SQL and this kernel alike; zero vectors have
    no cosine and pair with nothing.  The id type comes from the input
    schema (string ids work), and a singleton bucket yields an empty,
    typed frame.  Memory is O(block × bucket) per task — bucket size is
    bounded by the caller's ``max_cluster_size`` subdivision, which is
    exactly why that cap exists."""
    import numpy as np
    import pandas as pd

    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in assigned.schema.fields
    )["vid"]
    out_schema = (
        f"cluster_id long, doc_a {id_type}, doc_b {id_type}, cos_sim double"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        order = np.argsort(pdf["vid"].to_numpy(), kind="stable")
        ids = pdf["vid"].to_numpy()[order]
        V = np.stack(
            [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
        )[order]
        nrm = np.sqrt((V * V).sum(axis=1))
        nrm[nrm == 0.0] = np.nan  # zero vector: cosine undefined → drop
        V = V / nrm[:, None]
        cid = int(pdf["cid"].iloc[0])
        out_a, out_b, out_s = [], [], []
        for s in range(0, n, block):
            e = min(s + block, n)
            S = np.round(V[s:e] @ V[s:].T + 1e-9, ROUND_DECIMALS)
            li, lj = np.nonzero(S >= threshold)
            # rows are V[s:e], columns V[s:]: global i = s+li, j = s+lj,
            # so the strict upper triangle is simply lj > li
            keep = lj > li
            li, lj = li[keep], lj[keep]
            out_a.append(ids[s + li])
            out_b.append(ids[s + lj])
            out_s.append(S[li, lj])
        a = (
            np.concatenate(out_a)
            if out_a
            else np.array([], dtype=ids.dtype)
        )
        b = (
            np.concatenate(out_b)
            if out_b
            else np.array([], dtype=ids.dtype)
        )
        s_ = (
            np.concatenate(out_s) if out_s else np.array([], dtype=np.float64)
        )
        return pd.DataFrame(
            {"cluster_id": cid, "doc_a": a, "doc_b": b, "cos_sim": s_}
        )

    return assigned.groupBy("cid", "__sub").applyInPandas(kernel, out_schema)
