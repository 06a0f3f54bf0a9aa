"""Distributed k-means (Lloyd's algorithm) over an embedding column.

Scale shape: each iteration is ONE scan of the vectors plus one k×dim
aggregate — assignment is a pure map (nearest of k broadcast centroids:
an Arrow-vectorized numpy kernel by default, a column-expression form as
the oracle-documentation path — both rounded identically, equality-
tested), the centroid update is posexplode → groupBy (cluster, dim) →
avg, i.e. a shuffle of k·dim·partitions partial rows, never
vector-count-sized.  The only driver traffic is the k×dim centroid
matrix per iteration (bounded, like the IVF centroid collect in
operators/similarity.py).  No .collect() of data rows anywhere.

Cross-engine determinism: centroid coordinates AND the per-vector
distances are rounded (nudged, 6 decimals — functions/scalar.rnd) at
every step, with argmin ties broken by lowest cluster id.  Rounding
freezes the float-association drift between engines, so an external SQL
engine can replicate the full trajectory exactly — that is what makes
an ITERATIVE algorithm oracle-checkable end-to-end (same trick as the
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


def assign_clusters(
    vecs: DataFrame, centroids: list[list[float]], impl: str = "arrow"
) -> DataFrame:
    """Attach (cid, dist2) for the nearest centroid — a pure map over the
    vectors, no shuffle.  Distances are rounded (nudged, 6 dp) BEFORE
    the argmin, with ties broken by lowest cluster id — in both
    implementations, so the oracle-checkable trajectory is shared:

    - ``impl="arrow"`` (default): an Arrow-batched ``mapInPandas``
      kernel — the N×k×dim distance matrix is vectorized numpy
      (|v|² − 2 v·C + |c|² via one matmul).  This is the documented
      exception to the expressions-only rule: Catalyst higher-order
      lambdas evaluate INTERPRETED per element (~µs/element — measured
      4 µs at k=16, dim=64), while the numpy kernel is ~100× faster
      per pass and O(1) plan complexity in k.  Summation-order drift vs
      the fold form (~1e-15) sits eight orders below the 1e-9 rounding
      nudge, and the equality test pins the two impls to identical
      rounded output.
    - ``impl="expr"``: pure column expressions — the k distances are
      ONE ``transform`` lambda over the k×dim centroid matrix carried
      as a broadcast 1-row DataFrame column (never k·dim plan literals,
      which would make Catalyst analysis grow with the model size).
    """
    if impl == "arrow":
        return _assign_clusters_arrow(vecs, centroids)
    spark = vecs.sparkSession
    cmat_df = spark.createDataFrame(
        [([[float(x) for x in c] for c in centroids],)],
        "cmat: array<array<double>>",
    )
    dists = F.transform(
        col("cmat"),
        lambda c: rnd(
            F.aggregate(
                F.zip_with(col("v"), c, lambda a, b: (a - b) * (a - b)),
                lit(0.0),
                lambda acc, x: acc + x,
            ),
            ROUND_DECIMALS,
        ),
    )
    return (
        vecs.crossJoin(F.broadcast(cmat_df))
        .withColumn("dists", dists)
        .withColumn("cid", F.array_position(col("dists"), F.array_min("dists")) - 1)
        .withColumn("dist2", F.element_at("dists", col("cid").cast("int") + 1))
        .drop("dists", "cmat")
    )


def _assign_clusters_arrow(
    vecs: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """Arrow-batched assignment kernel (see :func:`assign_clusters`).
    The centroid matrix rides the CLOSURE (k×dim floats — model-sized,
    pickled once per worker), never the plan."""
    import numpy as np
    import pandas as pd

    cmat = np.asarray(centroids, dtype=np.float64)
    cc = (cmat * cmat).sum(axis=1)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in vecs.schema.fields
    ) + ", cid long, dist2 double"

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            vv = (V * V).sum(axis=1)
            # clip the tiny negatives FP cancellation can produce; the
            # 1e-9 nudge rounds them to 0.0 exactly like the fold form
            d2 = np.maximum(vv[:, None] - 2.0 * (V @ cmat.T) + cc[None, :], 0.0)
            d2 = np.round(d2 + 1e-9, ROUND_DECIMALS)
            cid = d2.argmin(axis=1)  # first min = lowest-cid tie-break
            out = pdf.copy()
            out["cid"] = cid.astype("int64")
            out["dist2"] = d2[np.arange(len(cid)), cid]
            yield out

    return vecs.mapInPandas(kernel, out_schema)


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iters: int = 2,
    impl: str = "arrow",
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
        if impl == "arrow":
            # per-batch partial (count, sum-vector) inside the Arrow
            # kernel: the update shuffle carries batches × k × dim rows
            # instead of N × dim exploded elements — the map-side
            # combine Lloyd needs, done where the distance matmul
            # already holds the batch (q64 cost cut, VERDICT r12
            # item 6).  sum-of-partials vs the direct avg is an FP
            # re-association ~1e-15 under the 1e-9 rounding nudge —
            # the _assign_clusters_arrow precedent.
            upd = _centroid_partials_arrow(vecs, cents).select(
                "cid", "n", F.posexplode("sums").alias("pos", "x")
            )
            agg = upd.groupBy("cid", "pos").agg(
                rnd(F.sum("x") / F.sum("n"), ROUND_DECIMALS).alias("m")
            )
        else:
            assigned = assign_clusters(vecs, cents, impl=impl)
            agg = (
                assigned.select("cid", F.posexplode("v").alias("pos", "x"))
                .groupBy("cid", "pos")
                .agg(rnd(F.avg("x"), ROUND_DECIMALS).alias("m"))
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
    return assign_clusters(vecs, cents, impl=impl), cents


def _centroid_partials_arrow(
    vecs: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """One Lloyd update's map side: per Arrow batch, assign each vector
    to its nearest centroid (the `_assign_clusters_arrow` distance
    matmul and rounded-argmin, verbatim) and emit one (cid, n, sums)
    partial per cluster present in the batch — model-sized output, so
    the following (cid, pos) aggregate shuffles O(batches × k × dim)
    rows no matter how large N grows."""
    import numpy as np
    import pandas as pd

    cmat = np.asarray(centroids, dtype=np.float64)
    cc = (cmat * cmat).sum(axis=1)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            vv = (V * V).sum(axis=1)
            d2 = np.maximum(vv[:, None] - 2.0 * (V @ cmat.T) + cc[None, :], 0.0)
            d2 = np.round(d2 + 1e-9, ROUND_DECIMALS)
            cid = d2.argmin(axis=1)
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


def kmeans_summary(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iters: int = 2,
    impl: str = "arrow",
) -> DataFrame:
    """Per-cluster fit summary: member count, mean (rounded) squared
    distance, and the first centroid coordinate as a trajectory
    witness."""
    assigned, cents = kmeans_fit(df, id_col, vec_col, k, iters, impl=impl)
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
    impl: str = "arrow",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup pairs found by
    clustering the embedding space and comparing cosine similarity ONLY
    within a cluster — the cluster assignment is the candidate-blocking
    scheme (recall bounded by it, like every LSH operator here), so the
    pair join is k × (N/k)² instead of N².  The convention downstream
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
    from .similarity import dot, lsh_bucket, norm, random_hyperplanes

    if k is None:
        n = df.count()
        k = max(2, min(_AUTO_K_CAP, -(-n // max(1, target_cluster_size))))
    assigned, cents = kmeans_fit(df, id_col, vec_col, k, iters, impl=impl)
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
    if impl == "arrow":
        return _semdedup_pairs_arrow(assigned, float(threshold))
    # pre-normalize ONCE per vector (N × dim work) so the pair join does a
    # single dot product per candidate instead of dot + two norms (the
    # array lambdas are interpreted, so per-pair work is the cost driver —
    # this is a 3× cut on the quadratic term)
    nrm = F.nullif(norm(col("v")), lit(0.0))
    unit = assigned.withColumn("vn", F.transform(col("v"), lambda x: x / nrm))
    # pin once (core.pins rule): the self-join would otherwise recompute
    # the whole assignment + normalization + sub-bucket lineage for EACH
    # side (the assignment is map-only, so no exchange reuse applies)
    unit = pin(unit)
    a = unit.select(
        col("cid"), col("__sub"), col("vid").alias("doc_a"), col("vn").alias("va")
    )
    b = unit.select(
        col("cid"), col("__sub"), col("vid").alias("doc_b"), col("vn").alias("vb")
    )
    # threshold on the ROUNDED cosine (catalog determinism rule): the raw
    # dot of pre-normalized vectors is a different FP association than the
    # oracle's list_cosine_similarity, so a pair within an ulp of the
    # threshold could otherwise be admitted by one engine only
    return (
        a.join(b, ["cid", "__sub"])
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("cos_sim", rnd(dot(col("va"), col("vb")), ROUND_DECIMALS))
        .filter(col("cos_sim") >= threshold)
        .select(
            col("cid").alias("cluster_id"),
            "doc_a",
            "doc_b",
            "cos_sim",
        )
    )


def _semdedup_pairs_arrow(
    assigned: DataFrame, threshold: float, block: int = 1024
) -> DataFrame:
    """Arrow-batched within-bucket pair kernel (see :func:`semdedup_pairs`
    ``impl="arrow"``): one ``applyInPandas`` group per (cid, __sub)
    bucket, cosine of every in-bucket pair via ONE numpy matmul instead
    of per-pair interpreted fold lambdas — the same documented
    exception, same 1e-9-nudged rounding, as ``_assign_clusters_arrow``
    (measured: the expression join's rounded dot costs ~4 µs/element;
    the matmul is ~100× cheaper per pair and its summation-order drift
    ~1e-15 sits eight orders under the rounding nudge).  Memory is
    O(block × bucket) per task — bucket size is bounded by the caller's
    ``max_cluster_size`` subdivision, which is exactly why that cap
    exists.  The pinned-equality test (`tests/test_graph.py` /
    round-13 ops) holds both impls to identical rounded output."""
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
