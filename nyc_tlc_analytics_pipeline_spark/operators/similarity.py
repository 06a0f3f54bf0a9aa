"""Embedding similarity search: brute-force cosine top-k and an
LSH-bucketed approximate variant.

Vectors are plain ``array<float>`` columns; all math is done with
``zip_with``/``aggregate`` array expressions (JVM-side, codegen) after an
explicit cast to double — no Python UDFs, so the scan parallelizes like
any other projection.

Scale path: brute-force top-k against one query is a single pass (cheap at
any scale — it's a map + TakeOrdered).  The expensive case is k-NN *join*
(every row against every row); for that, ``lsh_bucket`` assigns each vector
a random-hyperplane sign bucket so candidate generation becomes an
equi-join on the bucket key, same shape as the MinHash LSH in dedup.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..core.pins import pin
from ..functions.scalar import rnd


def as_double_array(vec: Column | str) -> Column:
    c = col(vec) if isinstance(vec, str) else vec
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.nullif(norm(a) * norm(b), lit(0.0))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.

    Plans as scan → project → TakeOrderedAndProject: no shuffle of the
    full table, only the per-partition top-k merge.
    """
    q = F.array(*[lit(float(x)) for x in query_vec])
    out = df.withColumn("cos_sim", rnd(cosine(as_double_array(vec_col), q), 6))
    if exclude_ids:
        out = out.filter(~col(id_col).isin(*exclude_ids))
    return out.orderBy(F.desc("cos_sim"), id_col).limit(k).drop(vec_col)


# ---------------------------------------------------------------------------
# int8 scalar quantization — the ANN memory/IO scale path
# ---------------------------------------------------------------------------

#: symmetric int8 code range.  ±127 (not 128) keeps the code RANGE
#: symmetric (no -128 outlier); rounding itself is half-UP in both
#: engines (floor(x/scale + 0.5 + 1e-9)), so representational half-ties
#: break asymmetrically (2.5→3 but -2.5→-2) — the shared tie rule, not
#: negation symmetry, is what guarantees cross-engine parity.
QMAX = 127


def quantize_codes(vec: Column | str, qmax: int = QMAX) -> Column:
    """Symmetric per-vector int8 quantization of a float vector column.

    ``scale = max_i |x_i| / qmax``; ``code_i = clamp(floor(x_i / scale
    + 0.5 + 1e-9), -qmax, qmax)`` — round-half-up with the repo's nudge
    so the integer codes are bit-identical cross-engine (floor is exact
    on both; the nudge breaks representational .5 ties the same way).
    All-zero vectors get scale 1e-12 → all-zero codes, never a ÷0.

    Why int8 at 100 TB: a 64-dim float32 embedding column is 256 B/row;
    the codes are 64 B logical (and dictionary/bit-packed far smaller on
    parquet), so the similarity scan reads ~4× less and the dot products
    run in exact integer arithmetic — no FP summation-order drift, which
    also makes every downstream score hash-checkable without rounding
    tricks.  Cosine over codes needs NO scales: cosine(s_a·a, s_b·b) =
    cosine(a, b), the per-vector scale cancels."""
    v = as_double_array(vec)
    scale = F.greatest(F.array_max(F.transform(v, F.abs)) / lit(float(qmax)), lit(1e-12))
    return F.transform(
        v,
        lambda x: F.greatest(
            F.least(F.floor(x / scale + lit(0.5) + lit(1e-9)), lit(qmax).cast("long")),
            lit(-qmax).cast("long"),
        ),
    )


def quantize_query(query_vec: list[float], qmax: int = QMAX) -> list[int]:
    """Driver-side twin of :func:`quantize_codes` for a literal query
    vector — same formula, same nudge, so a query quantized here matches
    the column expression (and the DuckDB oracle) exactly."""
    import math

    scale = max(max(abs(float(x)) for x in query_vec) / float(qmax), 1e-12)
    return [
        max(min(math.floor(float(x) / scale + 0.5 + 1e-9), qmax), -qmax)
        for x in query_vec
    ]


def _quantized_scores(
    df: DataFrame, qc: list[int], query_vec: list[float], vec_col: str, qmax: int
) -> DataFrame:
    """Arrow-batched numpy scoring kernel: per-row int8 codes (the
    :func:`quantize_codes` floor/clamp formula), then integer dot and
    squared norms, which are EXACT however they are summed; the only FP
    steps (sqrt, divide) are single correctly-rounded IEEE operations, as
    in the oracle SQL.  The float ``cos_exact_raw`` may drift ~1e-15 from
    a SQL fold (numpy pairwise summation), far under the rnd(…, 6) nudge.
    Per-element array lambdas would be interpreted instead (~10× slower
    on the same arithmetic).  Query codes ride the closure — model-sized,
    pickled once per worker."""
    keep = [c for c in df.columns if c != vec_col]
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = (
        ", ".join(f"{c} {fields[c]}" for c in keep)
        + ", q_dot long, q_cos_raw double, cos_exact_raw double"
    )
    qc_list, qf_list = list(qc), [float(x) for x in query_vec]

    def kernel(batches):
        import numpy as np

        q = np.asarray(qc_list, dtype=np.int64)
        nq = int((q * q).sum())
        qf = np.asarray(qf_list, dtype=np.float64)
        qn = float(np.sqrt((qf * qf).sum()))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            scale = np.maximum(np.abs(V).max(axis=1) / float(qmax), 1e-12)
            C = np.clip(
                np.floor(V / scale[:, None] + 0.5 + 1e-9), -qmax, qmax
            ).astype(np.int64)
            d = C @ q
            na = (C * C).sum(axis=1)
            with np.errstate(invalid="ignore", divide="ignore"):
                q_cos = d / np.sqrt((na * nq).astype(np.float64))
                cos_exact = (V @ qf) / (np.sqrt((V * V).sum(axis=1)) * qn)
            out = pdf[keep].copy()
            out["q_dot"] = d
            out["q_cos_raw"] = q_cos
            out["cos_exact_raw"] = cos_exact
            yield out

    return df.mapInPandas(kernel, out_schema)


def quantized_cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
    qmax: int = QMAX,
) -> DataFrame:
    """Brute-force top-k under int8-quantized cosine, beside the exact
    float cosine for the same rows (the registered form doubles as a
    quantization-error audit).

    Dot products and squared norms are computed on the integer codes —
    exact, associative, order-independent — and only the final ratio is
    a (rounded) double.  Plans exactly like :func:`cosine_topk`: scan →
    kernel/project → TakeOrderedAndProject; at scale the scan reads the
    4× smaller code column instead of the float vectors.

    Schema-agnostic like :func:`cosine_topk`: every non-vector column
    rides through to the output (no hard-coded payload columns)."""
    qc = quantize_query(query_vec, qmax)
    keep = [c for c in df.columns if c != vec_col]
    scored = _quantized_scores(
        df.select(*keep, col(vec_col)), qc, query_vec, vec_col, qmax
    )
    out = scored.select(
        *keep,
        "q_dot",
        rnd(col("q_cos_raw"), 6).alias("q_cos"),
        rnd(col("cos_exact_raw"), 6).alias("cos_exact"),
    )
    if exclude_ids:
        out = out.filter(~col(id_col).isin(*exclude_ids))
    return out.orderBy(F.desc("q_cos"), id_col).limit(k)


def ivf_quantized_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qmax: int = QMAX,
) -> DataFrame:
    """The combined ANN production stack: IVF pruning × int8 scoring.

    Stage 1 reads only the ``n_probe`` buckets nearest the query (with
    the persisted index of ``write_ivf_index`` this is parquet
    PARTITION PRUNING — (n_probe/k_buckets) of the files are even
    opened); stage 2 scores the survivors with the int8 quantized
    cosine (4× smaller column, exact integer dots, Arrow numpy kernel),
    keeping the exact float cosine beside as the error audit.  Composes
    the two orthogonal scale levers — read fewer rows, read smaller
    rows — in one plan."""
    probe = _probe_centroids(query_vec, centroids, n_probe)
    pruned = (
        df.withColumn("ivf_bucket", assign_ivf_bucket(vec_col, centroids))
        .filter(col("ivf_bucket").isin(probe))
        .drop("ivf_bucket")
    )
    return quantized_cosine_topk(
        pruned, query_vec, k=k, id_col=id_col, vec_col=vec_col, qmax=qmax
    )


# ---------------------------------------------------------------------------
# 1-bit sign quantization + Hamming prefilter → exact re-rank
# ---------------------------------------------------------------------------

#: bits packed per code word.  32 (not 64) so every shift stays well
#: inside BIGINT positive range in BOTH engines — a 64-bit pack would
#: put bit 63 in the sign position, where Spark and DuckDB disagree on
#: display/overflow semantics.
WORD_BITS = 32


def sign_codes(vec: Column | str, dim: int) -> Column:
    """1-bit sign quantization: bit i = (x_i > 0), packed little-endian
    into ``ceil(dim/32)`` long words — 64× smaller than float64 storage.
    The extreme end of the quantization ladder (float32 → int8 → 1-bit):
    at 100 TB the packed codes live beside the vectors and the Hamming
    prefilter scans ONLY them; angular similarity survives sign-coding
    well enough to shortlist (Charikar's SimHash bound: P[bit match] =
    1 − θ/π) and the exact re-rank repairs the rest."""
    v = as_double_array(vec)
    words = []
    for w in range((dim + WORD_BITS - 1) // WORD_BITS):
        bits = F.zip_with(
            F.slice(v, w * WORD_BITS + 1, WORD_BITS),
            F.sequence(lit(0), lit(WORD_BITS - 1)),
            lambda x, i: F.when(
                x > lit(0.0), F.pow(lit(2.0), i.cast("double")).cast("long")
            ).otherwise(lit(0).cast("long")),
        )
        words.append(
            F.aggregate(bits, lit(0).cast("long"), lambda acc, b: acc + b)
        )
    return F.array(*words)


def sign_codes_query(query_vec: list[float]) -> list[int]:
    """Driver-side twin of :func:`sign_codes` for a literal query."""
    out = []
    for w in range((len(query_vec) + WORD_BITS - 1) // WORD_BITS):
        chunk = query_vec[w * WORD_BITS : (w + 1) * WORD_BITS]
        out.append(sum(1 << i for i, x in enumerate(chunk) if float(x) > 0.0))
    return out


def hamming_words(a: Column, b: Column) -> Column:
    """Hamming distance between two packed code-word arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def binary_rerank_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
) -> DataFrame:
    """Two-stage retrieval: Hamming distance on 1-bit sign codes
    shortlists ``m`` candidates (deterministic (hamming, id) order), the
    exact float cosine re-ranks the shortlist to top-``k`` — the classic
    binary-quantization pipeline (faiss IndexBinaryFlat + refine).

    Stage 1 plans as scan → project → TakeOrderedAndProject over the
    2-word code column (at scale, a persisted codes table 64× smaller
    than the vectors); stage 2 touches float vectors for only ``m``
    rows.  Fully deterministic: both stage boundaries tie-break on the
    id.  Schema-agnostic like :func:`cosine_topk`: every non-vector
    column rides through to the output."""
    dim = len(query_vec)
    qw = sign_codes_query(query_vec)
    ham = hamming_words(
        sign_codes(vec_col, dim), F.array(*[lit(int(w)).cast("long") for w in qw])
    )
    keep = [c for c in df.columns if c != vec_col]
    base = df.select(*keep, col(vec_col), ham.alias("hamming"))
    if exclude_ids:
        base = base.filter(~col(id_col).isin(*exclude_ids))
    shortlist = base.orderBy("hamming", id_col).limit(m)
    qf = F.array(*[lit(float(x)) for x in query_vec])
    return (
        shortlist.select(
            *keep,
            col("hamming"),
            rnd(cosine(as_double_array(vec_col), qf), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def _plane_component(seed: int, plane: int, dim: int) -> float:
    """Deterministic pseudo-gaussian hyperplane component from md5 —
    reproducible across runs without Date/random (sum of 4 uniforms − 2)."""
    h = hashlib.md5(f"{seed}:{plane}:{dim}".encode()).digest()
    u = [x / 2**32 for x in struct.unpack(">4I", h)]
    return sum(u) - 2.0


def random_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    return [[_plane_component(seed, p, d) for d in range(dim)] for p in range(n_planes)]


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit p = sign(vec · plane_p).

    ONE transform lambda over a planes×dim literal matrix (2^p as an
    exact pow-of-two double, summed), not p separate dot chains —
    per-plane expression chains make Catalyst analysis grow with the
    plane count (same fix as cluster.assign_clusters); the bucket value
    is bit-identical either way."""
    v = as_double_array(vec)
    pmat = F.array(*[F.array(*[lit(x) for x in p]) for p in planes])
    weights = F.transform(
        pmat,
        lambda p, i: F.when(
            dot(v, p) > 0, F.pow(lit(2.0), i.cast("double")).cast("long")
        ).otherwise(lit(0).cast("long")),
    )
    return F.aggregate(weights, lit(0).cast("long"), lambda acc, x: acc + x)


def ann_topk(
    df: DataFrame,
    query_vec: list[float],
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: only score vectors whose LSH bucket is within
    ``multiprobe_bits`` Hamming distance of the query's bucket.  At scale
    the bucket column is precomputed and partitioned on, so the probe is a
    partition-pruned scan instead of a full pass."""
    import itertools

    n = len(planes)
    qbits = 0
    for p, plane in enumerate(planes):
        if sum(q * w for q, w in zip(query_vec, plane)) > 0:
            qbits |= 1 << p
    probe = {qbits}
    for r in range(1, multiprobe_bits + 1):
        for flips in itertools.combinations(range(n), r):
            b = qbits
            for f in flips:
                b ^= 1 << f
            probe.add(b)
    bucketed = df.withColumn("bucket", lsh_bucket(vec_col, planes))
    return cosine_topk(
        bucketed.filter(col("bucket").isin(*[int(b) for b in probe])),
        query_vec,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
    )


def ivf_centroids(
    df: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic IVF 'training': the k vectors with the smallest
    ``md5(cast(id as string))`` act as centroids (a deterministic
    pseudo-random sample — real deployments would run k-means; the
    partition/probe plumbing downstream is identical).  md5 rather than
    xxhash64 so a DuckDB oracle can recompute the exact same centroid set
    (both engines produce byte-identical md5 hex).  k rows to the driver
    only."""
    rows = (
        df.select(col(id_col).alias("cid"), as_double_array(vec_col).alias("v"))
        .withColumn("h", F.md5(col("cid").cast("string")))
        .orderBy("h")
        .limit(k)
        .collect()
    )
    return [(i, list(r.v)) for i, r in enumerate(rows)]


def assign_ivf_bucket(
    vec: Column | str, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Nearest-centroid (by cosine) bucket id: an array of K cosine
    expressions + array_position(argmax) — linear expression size.
    (A nested when()-chain here duplicates subtrees exponentially in K and
    stalls Catalyst; the array form keeps each dot product exactly once.)
    Ties break to the first (lowest) centroid index."""
    v = as_double_array(vec)
    sims = F.array(
        *[cosine(v, F.array(*[lit(x) for x in cvec])) for _, cvec in centroids]
    )
    # array_position is 1-based; centroids are enumerated 0..K-1
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def _cos_py(a: list[float], b: list[float]) -> float:
    dot_ = sum(x * y for x, y in zip(a, b))
    na = sum(x * x for x in a) ** 0.5
    nb = sum(x * x for x in b) ** 0.5
    return dot_ / (na * nb) if na and nb else 0.0


def _probe_centroids(
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
) -> list[int]:
    """The n_probe centroid ids nearest the query by cosine — tie-broken
    on centroid id so the probe set is deterministic (and reproducible
    by the SQL oracle's ORDER BY cos DESC, cid).  Shared by the runtime
    filter (ivf_topk) and the persisted-index probe (read_ivf_probe) so
    their 'identical results' contract cannot drift."""
    return [
        cid
        for cid, _ in sorted(
            centroids, key=lambda c: (-_cos_py(query_vec, c[1]), c[0])
        )[:n_probe]
    ]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: score only vectors assigned to the
    ``n_probe`` centroids nearest the query.  With
    ``n_probe == len(centroids)`` this is EXACTLY brute force (the
    correctness contract tests rely on); at scale the bucket column is
    precomputed + partitioned on, so a probe reads n_probe/k of the data.
    """

    probe = _probe_centroids(query_vec, centroids, n_probe)
    bucketed = df.withColumn("ivf_bucket", assign_ivf_bucket(vec_col, centroids))
    return cosine_topk(
        bucketed.filter(col("ivf_bucket").isin(probe)),
        query_vec,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
    )


def banded_lsh_buckets(
    vec: Column | str, planes: list[list[float]], bands: int
) -> Column:
    """``array<struct<band:int, bucket:long>>`` — one sign-bucket per band,
    each band using its own slice of ``planes``.

    This is the scale-out fix for single-table hyperplane LSH: one table
    of ``p`` planes has exactly ``2^p`` buckets, so within-bucket
    candidate joins degrade to O(N²/2^p) — quadratic again once N ≫ 2^p.
    With ``bands`` independent tables of ``r = len(planes)/bands`` planes
    each, collision probability follows the standard S-curve
    ``1 − (1 − p₁^r)^bands`` (same machinery as the MinHash bands in
    ``dedup.lsh_candidate_pairs``), and ``r`` can grow with ``log2(N)``
    to keep expected bucket occupancy — and therefore candidate count —
    linear in the corpus."""
    r = len(planes) // bands
    if r == 0:
        raise ValueError(f"need at least {bands} planes for {bands} bands")
    entries = []
    for t in range(bands):
        b = lsh_bucket(vec, planes[t * r : (t + 1) * r])
        entries.append(
            F.struct(lit(t).cast("int").alias("band"), b.alias("bucket"))
        )
    return F.array(*entries)


def banded_candidate_pairs(
    df: DataFrame,
    planes: list[list[float]],
    bands: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs sharing at least one band bucket —
    the candidate-generation half of banded hyperplane LSH, exposed
    separately so tests can measure candidate volume directly.  Shape:
    explode (band, bucket) → shuffled equi-join on the composite key →
    distinct.  No vectors travel through the join; they are re-attached
    by the verifier."""
    banded = df.select(
        col(id_col).alias("doc"),
        F.explode_outer(  # outer: skip InferFiltersFromGenerate re-evaluation
            banded_lsh_buckets(vec_col, planes, bands)
        ).alias("bb"),
    ).select("doc", col("bb.band").alias("band"), col("bb.bucket").alias("bucket"))
    a = banded.select(col("doc").alias("doc_a"), "band", "bucket")
    b = banded.select(col("doc").alias("doc_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def write_ivf_index(
    df: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index as a bucket-PARTITIONED table: the
    assignment expression runs once at write time and the bucket becomes
    a partition directory, so probe-time bucket filters are planned as
    PARTITION PRUNING — an n_probe query READS n_probe/K of the bytes
    (the property `ivf_topk`'s runtime filter can only approximate).
    This is the persisted form SCALE.md promises for 100 TB ANN:
    repartition by bucket first so each partition dir is written by one
    task (no tasks×buckets small-file blowup)."""
    (
        df.withColumn("ivf_bucket", assign_ivf_bucket(vec_col, centroids))
        .repartition(col("ivf_bucket"))
        .write.mode("overwrite")
        .partitionBy("ivf_bucket")
        .parquet(path)
    )


def read_ivf_probe(
    spark,
    path: str,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF index: pick the ``n_probe`` centroids
    nearest the query (driver-side, K-sized), filter the bucket
    PARTITION column (pruned at planning — no data read outside the
    probed directories), then exact-rank the survivors.  Identical
    results to ``ivf_topk`` on the same centroid set; the difference is
    I/O, not semantics."""

    probe = _probe_centroids(query_vec, centroids, n_probe)
    indexed = spark.read.parquet(path).filter(col("ivf_bucket").isin(probe))
    return cosine_topk(indexed, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def estimated_rows(df: DataFrame, bytes_per_row: int = 400) -> int:
    """Catalyst's optimizer row estimate for a plan — from parquet
    row-count statistics when available, else the plan's size estimate
    over an assumed row width.  Derived WITHOUT running a Spark job (an
    extra count() to pick a strategy would itself be a full scan at
    100 TB — the ``dedup._estimated_size_bytes`` precedent).  Falls back
    to 'huge' when no estimate exists: over-partitioning is the safe
    failure mode for an LSH sizing decision (more planes → fewer
    comparisons), under-partitioning is the quadratic cliff."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return max(1, int(str(rc.get())))
        return max(1, int(stats.sizeInBytes()) // bytes_per_row)
    except Exception:
        return 1 << 30


def auto_n_planes(
    n_rows: int,
    base: int = 4,
    target_occupancy: int = 2048,
    max_planes: int = 24,
) -> int:
    """Occupancy-holding hyperplane count:
    ``base + ceil(log2(n / target_occupancy))``.  A single-table LSH
    with a FIXED plane count is a scale cliff — expected bucket
    occupancy grows linearly with the corpus, in-bucket candidate pairs
    quadratically (measured 9.0× runtime at 10× data with 4 planes).
    Adding one plane per doubling of the corpus holds occupancy at
    ``target_occupancy``, making candidate volume grow LINEARLY.  Same
    auto-sizing precedent as SemDeDup's auto-k (cluster.py) and
    jaccard_pairs' plan-stats strategy pick.

    Pure INTEGER arithmetic (smallest e with n ≤ occupancy·2^e), not
    float ``ceil(log2(...))`` — so an external SQL verifier can restate
    the decision as an integer threshold ladder with zero risk of an
    FP boundary flip (the q142 oracle does exactly that)."""
    extra, m = 0, target_occupancy
    while n_rows > m and extra < max_planes - base:
        m <<= 1
        extra += 1
    # min() also covers a misconfigured base > max_planes (the loop
    # bound goes negative and adds nothing — clamp, don't exceed cap)
    return min(base + extra, max_planes)


def counted_planes(
    *dfs: DataFrame,
    dim: int,
    seed: int = 42,
    base: int = 4,
    target_occupancy: int = 2048,
    max_planes: int = 24,
) -> list[list[float]]:
    """Occupancy-holding hyperplane set sized from the EXACT row count
    of the input frames — one cheap ``count()`` job each (parquet
    footer metadata when the frame is a bare scan), then
    :func:`auto_n_planes` on the sum.

    The deterministic-by-data twin of the plan-stats auto mode in
    :func:`margin_mine_pairs`: plan-stats estimates cost ZERO jobs but
    depend on optimizer internals, so an external verifier can't replay
    them; the exact count is replayable by any engine (the q142 oracle
    recomputes the same ``COUNT(*)`` and unrolls the same plane
    literals).  Use plan-stats in production where the extra count job
    matters; use this where the decision must be auditable."""
    n = sum(df.count() for df in dfs)
    return random_hyperplanes(
        auto_n_planes(n, base, target_occupancy, max_planes), dim, seed
    )


def margin_mine_pairs(
    a_df: DataFrame,
    b_df: DataFrame,
    planes: list[list[float]] | None = None,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int | None = None,
    seed: int = 42,
    base_planes: int = 4,
    target_occupancy: int = 2048,
) -> DataFrame:
    """Bitext-style margin mining (Artetxe & Schwenk 2019, additive
    margin): for every A-side vector, its best B-side partner scored by
    ``margin = cos(x, y) − ½·(kA(x) + kB(y))`` where kA/kB are the mean
    cosine of each side's top-``k`` candidates — the neighborhood
    normalization that suppresses hubness (vectors cosine-close to
    EVERYTHING) which raw-cosine alignment mining suffers from.

    Candidates come from a shared hyperplane-LSH bucket join (the q43
    posture), so the pair volume stays bucket-bounded, never |A|×|B|;
    the neighborhood means are computed over the SAME candidate set, so
    the whole statistic is reproducible from the plane literals alone.
    A-side vectors with no same-bucket B-side candidate drop out
    (nothing to mine against — use more/banded planes for recall).

    All cosines are nudge-rounded to 6 dp BEFORE ranking and averaging,
    so top-k membership, neighborhood means, and the final argmax are
    deterministic cross-engine.  Returns one row per mined A vector:
    (vec_a, vec_b, cos_sim, margin).

    ``planes=None`` (the production default) AUTO-SCALES the plane
    count from Catalyst's plan-stats row estimate
    (:func:`auto_n_planes` — occupancy-holding, one extra plane per
    corpus doubling, no Spark job spent on the decision); pass explicit
    ``planes`` to pin the buckets for an external verifier (the
    oracle-gated fixed-plane conformance mode)."""
    from pyspark.sql import Window

    if planes is None:
        if dim is None:
            dim = len(a_df.select(vec_col).head()[0])
        n_est = estimated_rows(a_df) + estimated_rows(b_df)
        planes = random_hyperplanes(
            auto_n_planes(n_est, base_planes, target_occupancy), dim, seed
        )
    a = a_df.select(
        col(id_col).alias("vec_a"), as_double_array(vec_col).alias("v_a")
    ).withColumn("bucket", lsh_bucket(col("v_a"), planes))
    b = b_df.select(
        col(id_col).alias("vec_b"), as_double_array(vec_col).alias("v_b")
    ).withColumn("bucket", lsh_bucket(col("v_b"), planes))
    cand = (
        a.join(b, "bucket")
        .select(
            "vec_a",
            "vec_b",
            rnd(cosine(col("v_a"), col("v_b")), 6).alias("cos_r"),
        )
    )
    wa = Window.partitionBy("vec_a").orderBy(F.desc("cos_r"), "vec_b")
    ka = (
        cand.withColumn("rn", F.row_number().over(wa))
        .filter(col("rn") <= k)
        .groupBy("vec_a")
        .agg(rnd(F.avg("cos_r"), 6).alias("k_a"))
    )
    wb = Window.partitionBy("vec_b").orderBy(F.desc("cos_r"), "vec_a")
    kb = (
        cand.withColumn("rn", F.row_number().over(wb))
        .filter(col("rn") <= k)
        .groupBy("vec_b")
        .agg(rnd(F.avg("cos_r"), 6).alias("k_b"))
    )
    m = (
        cand.join(ka, "vec_a")
        .join(kb, "vec_b")
        .withColumn(
            "margin",
            rnd(col("cos_r") - 0.5 * (col("k_a") + col("k_b")), 6),
        )
    )
    wbest = Window.partitionBy("vec_a").orderBy(F.desc("margin"), "vec_b")
    return (
        m.withColumn("rn", F.row_number().over(wbest))
        .filter(col("rn") == 1)
        .select("vec_a", "vec_b", col("cos_r").alias("cos_sim"), "margin")
    )


def hashed_cosine_calibration(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    *,
    pairs: DataFrame | None = None,
    pair_source: str = "minhash",
    n: int = 3,
    threshold: float = 0.05,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Representation-calibration report: near-dup pairs bucketed by
    their n-gram Jaccard, each bucket's mean/min cosine between the
    docs' feature-HASHED vectors (:func:`text.feature_hash_vectors`) —
    how faithfully the cheap fixed-dim representation preserves the
    expensive set similarity.

    The pair source is pluggable (:func:`dedup.near_dup_pairs`):
    MinHash-LSH by DEFAULT — calibrating a 100 TB corpus' featurizer
    has to sample pairs at production scale — with exact prefix-filtered
    Jaccard as the oracle-gated mode.  Vector frames stay (doc, bucket)
    sparse; the pair dot product joins on (doc, bucket); norms are one
    doc-keyed aggregate.

    Returns (jacc_bucket, n_pairs, avg_hashed_cosine,
    min_hashed_cosine) sorted by bucket."""
    from . import dedup, text as T

    hv = pin(T.feature_hash_vectors(docs, id_col, text_col, dim))
    nrm = hv.groupBy(id_col).agg(
        F.sqrt(F.sum(col("val") * col("val"))).alias("n")
    )
    jp = dedup.near_dup_pairs(
        docs, id_col, text_col, pairs=pairs, pair_source=pair_source,
        n=n, threshold=threshold, num_hashes=num_hashes, bands=bands,
    ).select("doc_a", "doc_b", rnd("jaccard", 6).alias("jaccard"))
    a = hv.select(col(id_col).alias("doc_a"), "bucket", col("val").alias("va"))
    b = hv.select(col(id_col).alias("doc_b"), "bucket", col("val").alias("vb"))
    dots = (
        jp.join(a, "doc_a")
        .join(b, ["doc_b", "bucket"])
        .groupBy("doc_a", "doc_b", "jaccard")
        .agg(F.sum(col("va") * col("vb")).alias("dot"))
    )
    na = nrm.select(col(id_col).alias("doc_a"), col("n").alias("na"))
    nb = nrm.select(col(id_col).alias("doc_b"), col("n").alias("nb"))
    scored = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            (rnd(col("jaccard") + 0.05, 1) - lit(0.1)).alias("jb"),
            rnd(
                col("dot") / F.nullif(col("na") * col("nb"), lit(0.0)), 6
            ).alias("cos"),
        )
    )
    return (
        scored.groupBy(rnd(col("jb"), 1).alias("jacc_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            rnd(F.avg("cos"), 6).alias("avg_hashed_cosine"),
            rnd(F.min("cos"), 6).alias("min_hashed_cosine"),
        )
        .orderBy("jacc_bucket")
    )


# ---------------------------------------------------------------------------
# index-quality audits: recall of the approximate ANN paths vs brute truth
# ---------------------------------------------------------------------------

#: size cap for the AUDIT QUERY SET (estimated doubles).  An index
#: audit runs a bounded, fixed query panel against the corpus — that is
#: its deployment contract (the panel does NOT grow with the corpus;
#: q158's fixed-benchmark premise).  A panel that trips this cap means
#: someone pointed the audit at a data-sized frame, where the brute
#: ground-truth pass would silently become a corpus x corpus join.
#: The estimate is the SOURCE-SCAN bytes (Catalyst does not shrink a
#: filtered scan's sizeInBytes without CBO column stats), so the cap is
#: decontam's 64M-unit posture: generous enough that a fixed id-range
#: panel over a two-decade-scaled fixture still passes, while a
#: corpus-sized panel at deployment scale still trips it.  Beyond the
#: cap, materialize the panel to its own (tiny) parquet and pass that.
AUDIT_QUERY_CAP_UNITS = 64_000_000


def _audit_panel_check(queries: DataFrame) -> None:
    from ..core.guards import estimated_source_units

    if estimated_source_units(queries, bytes_per_unit=8) > AUDIT_QUERY_CAP_UNITS:
        raise ValueError(
            "ann recall audit: the query panel's size estimate exceeds the "
            "audit budget — the brute-force ground-truth pass is "
            "|panel| x |corpus|; sample a fixed panel instead of auditing "
            "with a data-sized frame"
        )


def _multi_query_topk(
    scored: DataFrame, k: int, id_col: str, cos_col: str = "__cos"
) -> DataFrame:
    """Distributed per-query top-k over a (query_id, id, cos) frame in
    TWO stages: top-k within each (query, input-partition) slice first,
    then global top-k over the |Q|·P·k survivors.  The global window
    never sees more than P·k rows per query — a single per-query window
    would concentrate the whole corpus' scores for one query into one
    task at scale (the skew cliff TakeOrderedAndProject avoids for the
    single-query operators).  Partition-invariant because the per-query
    order (cos DESC, id) is total: the global top-k of a union of local
    top-ks equals the unpartitioned top-k."""
    from pyspark.sql.window import Window

    pre = scored.withColumn("__pid", F.spark_partition_id())
    local = (
        pre.withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("query_id", "__pid").orderBy(
                    col(cos_col).desc(), col(id_col)
                )
            ),
        )
        .filter(col("__r") <= k)
        .drop("__r", "__pid")
    )
    return (
        local.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    col(cos_col).desc(), col(id_col)
                )
            ),
        )
        .filter(col("rank") <= k)
    )


def _brute_truth(
    corpus: DataFrame, q: DataFrame, k: int, id_col: str
) -> DataFrame:
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(col(id_col) != col("query_id"))
        .select(
            "query_id", id_col, rnd(cosine(col("__v"), col("__qv")), 6).alias("__cos")
        )
    )
    return _multi_query_topk(scored, k, id_col)


def _recall_report(
    q: DataFrame, cand: DataFrame, truth: DataFrame, approx: DataFrame, id_col: str
) -> DataFrame:
    """(query_id, n_candidates, n_truth, n_hits, recall) — recall is
    measured against the brute truth list (n_truth = min(k, |corpus|-1)),
    so a probe that surfaces fewer than k candidates is penalized, not
    excused."""
    n_cand = cand.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    n_truth = truth.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_truth")
    )
    hits = (
        truth.select("query_id", id_col)
        .join(approx.select("query_id", id_col), ["query_id", id_col])
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return (
        q.select("query_id")
        .join(n_cand, "query_id", "left")
        .join(n_truth, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_candidates", lit(0).cast("long")).alias("n_candidates"),
            F.coalesce("n_truth", lit(0).cast("long")).alias("n_truth"),
            F.coalesce("n_hits", lit(0).cast("long")).alias("n_hits"),
            rnd(
                F.coalesce("n_hits", lit(0).cast("long"))
                / F.nullif(col("n_truth").cast("double"), lit(0.0)),
                6,
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def lsh_recall_audit(
    df: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    multiprobe_bits: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the hyperplane-LSH probe (:func:`ann_topk`'s
    candidate rule) against brute-force truth, for a PANEL of queries in
    one plan — the index-health monitor a production deployment runs as
    the corpus drifts (recall decays when the data distribution moves
    away from the planes' implicit partition; this report is the signal
    to re-seed planes or widen the multiprobe radius).

    Scale shape: the multiprobe expansion is computed as DATA — each
    panel query explodes into its ``C(n_planes, <=multiprobe_bits)``
    probe buckets, and candidates come from an EQUI-join of the bucketed
    corpus against that (tiny, broadcast) probe table — the same
    partition-pruned probe the production path uses, never a Hamming
    <=r theta-join.  The brute truth pass is the audit's intrinsic cost:
    one corpus scan x |panel| map-side scores, with the per-query top-k
    taken in two partition-local stages (no per-query shuffle
    concentration).  Returns one row per panel query:
    (query_id, n_candidates, n_truth, n_hits, recall)."""
    import itertools

    n = len(planes)
    masks = [0]
    for r in range(1, multiprobe_bits + 1):
        for flips in itertools.combinations(range(n), r):
            m = 0
            for f in flips:
                m |= 1 << f
            masks.append(m)
    corpus = df.select(
        col(id_col), as_double_array(vec_col).alias("__v")
    ).withColumn("__bucket", lsh_bucket(col("__v"), planes))
    _audit_panel_check(queries)
    q = queries.select(
        col(id_col).alias("query_id"), as_double_array(vec_col).alias("__qv")
    )
    probes = q.withColumn("__qbucket", lsh_bucket(col("__qv"), planes)).select(
        "query_id",
        "__qv",
        F.explode(
            F.array(*[col("__qbucket").bitwiseXOR(lit(m)) for m in masks])
        ).alias("__bucket"),
    )
    cand = (
        corpus.join(F.broadcast(probes), "__bucket")
        .filter(col(id_col) != col("query_id"))
        .select("query_id", id_col, "__v", "__qv")
    )
    approx = _multi_query_topk(
        cand.select(
            "query_id", id_col, rnd(cosine(col("__v"), col("__qv")), 6).alias("__cos")
        ),
        k,
        id_col,
    )
    truth = _brute_truth(corpus.drop("__bucket"), q, k, id_col)
    return _recall_report(q, cand, truth, approx, id_col)


def ivf_recall_audit(
    df: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the IVF probe (:func:`ivf_topk`'s candidate rule —
    nearest ``n_probe`` centroids per query) against brute-force truth
    for a panel of queries in one plan — the n_probe tuning signal: the
    report says directly whether the current probe width still clears
    the recall bar, per query, as the corpus grows.

    The per-query probe list is derived as DATA, not plan literals: the
    K centroids ride a tiny broadcast frame crossed with the panel, and
    a bounded |panel|×K window ranks them by (cos DESC, cid) — the same
    tie-break as :func:`_probe_centroids`, but over cosines ROUNDED to
    6 dp so the multi-query probe choice is replayable cross-engine at
    the rounding grain rather than resting on raw-double bit parity.
    (An in-plan array_sort over K struct'd cosine folds looks
    equivalent but sends Catalyst's extract-value simplification into
    multiplicative subtree duplication — the assign_ivf_bucket /
    q62-centroid-frame lesson; measured as an optimizer heap blowup at
    K=16, panel=20.)  The probe rows are then equi-joined against the
    centroid-assigned corpus: candidate generation is the production
    partition-pruned read, the brute pass is the audit cost.  Returns
    (query_id, n_candidates, n_truth, n_hits, recall)."""
    from pyspark.sql.window import Window

    # localCheckpoint (sanctioned lineage SEVER, core.pins rule — not a
    # mere shared-frame pin) cuts the assignment expression out of the join
    # lineage: with the K-cosine argmax inline, the equi-join on __cid
    # sends constraint inference over a giant derived key into heap
    # blowup.  Deployment-true too — production probes a PERSISTED
    # index (write_ivf_index), never re-derives assignment per query.
    corpus = (
        df.select(col(id_col), as_double_array(vec_col).alias("__v"))
        .withColumn("__cid", assign_ivf_bucket(col("__v"), centroids))
        .localCheckpoint(eager=False)
    )
    _audit_panel_check(queries)
    q = queries.select(
        col(id_col).alias("query_id"), as_double_array(vec_col).alias("__qv")
    )
    cents = df.sparkSession.createDataFrame(
        [(int(cid), [float(x) for x in cvec]) for cid, cvec in centroids],
        "__ccid int, __cv array<double>",
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    rnd(cosine(col("__qv"), col("__cv")), 6).desc(), col("__ccid")
                )
            ),
        )
        .filter(col("__r") <= n_probe)
        .select("query_id", "__qv", col("__ccid").alias("__cid"))
    )
    cand = (
        corpus.join(F.broadcast(probes), "__cid")
        .filter(col(id_col) != col("query_id"))
        .select("query_id", id_col, "__v", "__qv")
    )
    approx = _multi_query_topk(
        cand.select(
            "query_id", id_col, rnd(cosine(col("__v"), col("__qv")), 6).alias("__cos")
        ),
        k,
        id_col,
    )
    truth = _brute_truth(corpus.drop("__cid"), q, k, id_col)
    return _recall_report(q, cand, truth, approx, id_col)


# ---------------------------------------------------------------------------
# audit → remediation: plane re-seed (LSH) and centroid re-train (IVF)
# with before/after recall measured against ONE shared brute-truth pass
# ---------------------------------------------------------------------------


def data_aware_planes(
    df: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "reseed",
) -> list[list[float]]:
    """Plane RE-SEED for a drifted corpus: ``2·n_planes`` vectors are
    drawn by md5 hash order (deterministic, layout-independent — the
    ivf_centroids convention) and each plane normal is the DIFFERENCE
    of a consecutive sample pair.  Difference normals are translation-
    invariant — a common-mode drift offset (every vector shifted toward
    one direction, the cone-concentration failure that makes random
    origin planes assign the whole drifted region to a handful of
    buckets) cancels out of v_a − v_b, so the reseeded planes split
    along the within-distribution variation that actually
    distinguishes near neighbours.  2·n_planes rows to the driver
    only; exactly replayable by a SQL oracle (same md5 order, exact
    double subtraction)."""
    rows = (
        df.select(col(id_col).alias("sid"), as_double_array(vec_col).alias("v"))
        .withColumn("h", F.md5(F.concat(lit(salt), col("sid").cast("string"))))
        .orderBy("h", "sid")
        .limit(2 * n_planes)
        .collect()
    )
    if len(rows) < 2 * n_planes:
        raise ValueError(
            f"data_aware_planes: need {2 * n_planes} sample vectors, "
            f"got {len(rows)}"
        )
    return [
        [a - b for a, b in zip(rows[2 * i].v, rows[2 * i + 1].v)]
        for i in range(n_planes)
    ]


def _multiprobe_masks(n_planes: int, multiprobe_bits: int) -> list[int]:
    import itertools

    masks = [0]
    for r in range(1, multiprobe_bits + 1):
        for flips in itertools.combinations(range(n_planes), r):
            m = 0
            for f in flips:
                m |= 1 << f
            masks.append(m)
    return masks


def _centered(v: Column, center: list[float] | None) -> Column:
    if center is None:
        return v
    mu = F.array(*[lit(float(x)) for x in center])
    return F.zip_with(v, mu, lambda a, b: a - b)


def corpus_mean(
    df: DataFrame, vec_col: str = "embedding", decimals: int = 6
) -> list[float]:
    """Per-position mean of a vector column, rounded (nudged) to the
    repo's cross-engine grain — the CENTERING vector for offset-plane
    re-seeding (sign(p·(v − μ)) restores origin-crossing planes'
    splitting power over a common-mode-drifted corpus).  dim-bounded
    collect; rounding absorbs partial-aggregation order differences
    (the kmeans_fit centroid-update convention)."""
    rows = (
        df.select(F.posexplode(as_double_array(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(rnd(F.avg("x"), decimals).alias("m"))
        .collect()
    )
    mu = [0.0] * len(rows)
    for r in rows:
        mu[r.pos] = float(r.m)
    return mu


def _lsh_candidates(
    corpus_plain: DataFrame,
    q: DataFrame,
    planes: list[list[float]],
    multiprobe_bits: int,
    id_col: str,
    center: list[float] | None = None,
) -> DataFrame:
    """(query_id, id, __v, __qv) candidates under one plane set — the
    production equi-join probe (lsh_recall_audit's rule, extracted so a
    before/after report can evaluate several plane configurations
    against one shared truth).  ``center`` buckets on v − μ (offset
    planes) while SCORING stays on the raw vectors — re-centering moves
    the index partition, never the similarity space."""
    masks = _multiprobe_masks(len(planes), multiprobe_bits)
    corpus = corpus_plain.withColumn(
        "__bucket", lsh_bucket(_centered(col("__v"), center), planes)
    )
    probes = q.withColumn(
        "__qbucket", lsh_bucket(_centered(col("__qv"), center), planes)
    ).select(
        "query_id",
        "__qv",
        F.explode(
            F.array(*[col("__qbucket").bitwiseXOR(lit(m)) for m in masks])
        ).alias("__bucket"),
    )
    return (
        corpus.join(F.broadcast(probes), "__bucket")
        .filter(col(id_col) != col("query_id"))
        .select("query_id", id_col, "__v", "__qv")
    )


def _assigned_corpus(
    corpus_plain: DataFrame, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """corpus_plain + ``__cid`` nearest-centroid bucket, checkpointed —
    THE linear-in-corpus pass of every IVF audit (K cosines per row).
    Callers evaluating several probe rules against ONE centroid set
    must compute this once and share it (q171's r12 restructure: the
    fixed and adaptive configs each paid their own full-corpus
    assignment scan — the dominant term of its 6.6× at 100×)."""
    return corpus_plain.withColumn(
        "__cid", assign_ivf_bucket(col("__v"), centroids)
        # sanctioned lineage SEVER (core.pins rule): the K-cosine argmax
        # expression must leave the join lineage entirely or constraint
        # inference over the derived __cid key blows the optimizer heap
        # (the q62 centroid-frame lesson) — a persist pin is not enough
        # when the plan is built BEFORE the cache substitution runs
    ).localCheckpoint(eager=False)


def _ivf_candidates(
    corpus_plain: DataFrame,
    q: DataFrame,
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
    id_col: str,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """(query_id, id, __v, __qv) candidates under one centroid set —
    ivf_recall_audit's probe rule (nearest n_probe centroids as DATA,
    6-dp-rounded ranking), extracted for before/after evaluation.
    Pass ``assigned`` (:func:`_assigned_corpus`) to reuse one bucket-
    assignment pass across probe rules sharing the centroid set."""
    from pyspark.sql.window import Window

    corpus = (
        assigned
        if assigned is not None
        else _assigned_corpus(corpus_plain, centroids)
    )
    cents = corpus_plain.sparkSession.createDataFrame(
        [(int(cid), [float(x) for x in cvec]) for cid, cvec in centroids],
        "__ccid int, __cv array<double>",
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    rnd(cosine(col("__qv"), col("__cv")), 6).desc(), col("__ccid")
                )
            ),
        )
        .filter(col("__r") <= n_probe)
        .select("query_id", "__qv", col("__ccid").alias("__cid"))
    )
    return (
        corpus.join(F.broadcast(probes), "__cid")
        .filter(col(id_col) != col("query_id"))
        .select("query_id", id_col, "__v", "__qv")
    )


def audit_summary(report: DataFrame, family: str, config: str) -> DataFrame:
    """Collapse a per-query recall report into ONE (family, config) row:
    panel size, mean recall, mean candidate volume — the before/after
    comparison grain of the remediation reports."""
    return report.agg(
        F.count("*").cast("long").alias("n_queries"),
        rnd(F.avg("recall"), 6).alias("mean_recall"),
        rnd(F.avg("n_candidates"), 6).alias("mean_candidates"),
    ).select(
        lit(family).alias("family"),
        lit(config).alias("config"),
        "n_queries",
        "mean_recall",
        "mean_candidates",
    )


def _config_report(
    corpus_plain: DataFrame,
    q: DataFrame,
    truth: DataFrame,
    cand: DataFrame,
    k: int,
    id_col: str,
) -> DataFrame:
    approx = _multi_query_topk(
        cand.select(
            "query_id", id_col, rnd(cosine(col("__v"), col("__qv")), 6).alias("__cos")
        ),
        k,
        id_col,
    )
    return _recall_report(q, cand, truth, approx, id_col)


def lsh_remediation_report(
    df: DataFrame,
    queries: DataFrame,
    configs: list[tuple],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    family: str = "lsh",
) -> DataFrame:
    """The REMEDIATION MENU a deployment prices when the q160-style
    LSH index audit alarms: each config is evaluated over the same
    query panel against ONE shared brute-truth pass (the audit's
    intrinsic cost is paid once, not per configuration).

    ``configs``: ``(label, planes, multiprobe_bits, center)`` tuples —
    the three LSH levers: re-seeded planes (:func:`data_aware_planes`),
    a wider multiprobe radius, and re-centering (:func:`corpus_mean`
    offset — buckets on v − μ, scoring untouched).  One row per
    config: (family, config, n_queries, mean_recall, mean_candidates)
    — recall is the guardrail, candidate volume the pruning health."""
    _audit_panel_check(queries)
    q = queries.select(
        col(id_col).alias("query_id"), as_double_array(vec_col).alias("__qv")
    )
    corpus_plain = df.select(col(id_col), as_double_array(vec_col).alias("__v"))
    # pin (core.pins rule): the truth list feeds every config's report —
    # without it the |panel| x |corpus| brute pass re-executes per branch
    truth = pin(_brute_truth(corpus_plain, q, k, id_col))
    parts = [
        audit_summary(
            _config_report(
                corpus_plain,
                q,
                truth,
                _lsh_candidates(corpus_plain, q, planes, bits, id_col, center),
                k,
                id_col,
            ),
            family,
            label,
        )
        for label, planes, bits, center in configs
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def ivf_remediation_report(
    df: DataFrame,
    queries: DataFrame,
    configs: list[tuple],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    family: str = "ivf",
) -> DataFrame:
    """Centroid-side remediation menu for the q162-style IVF recall
    audit: each config is ``(label, centroids, n_probe)`` — the two IVF
    levers are RE-TRAINING the centroids on the drifted corpus
    (ivf_centroids' md5 draw or kmeans_fit's Lloyd iterations) and
    WIDENING the probe.  All configs share ONE brute-truth pass; one
    summary row per config."""
    _audit_panel_check(queries)
    q = queries.select(
        col(id_col).alias("query_id"), as_double_array(vec_col).alias("__qv")
    )
    corpus_plain = df.select(col(id_col), as_double_array(vec_col).alias("__v"))
    truth = pin(_brute_truth(corpus_plain, q, k, id_col))
    parts = [
        audit_summary(
            _config_report(
                corpus_plain,
                q,
                truth,
                _ivf_candidates(corpus_plain, q, cents, n_probe, id_col),
                k,
                id_col,
            ),
            family,
            label,
        )
        for label, cents, n_probe in configs
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# incremental IVF index maintenance: O(batch) append + staleness report
# ---------------------------------------------------------------------------


def append_ivf_index(
    batch: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a new vector batch to a persisted IVF index
    (:func:`write_ivf_index` layout) WITHOUT a rebuild: the batch is
    assigned to the FROZEN centroid set and written mode=append into
    the existing ``ivf_bucket=`` partition directories — resident rows
    are never read or rewritten, so refresh cost is O(batch), the q163
    contract on the IVF side.  Probes (:func:`read_ivf_probe`) see the
    union immediately: partition pruning works on directory names, not
    file ages.

    The price of freezing the centroids is index STALENESS — appended
    vectors can sit farther from their assigned centroid than the
    training residents do, degrading probe recall exactly as q162
    measures.  :func:`ivf_staleness_report` prices that drift; q164's
    retrain lever (then a full :func:`write_ivf_index` rebuild) is the
    remediation when it alarms."""
    (
        batch.withColumn("ivf_bucket", assign_ivf_bucket(vec_col, centroids))
        .repartition(col("ivf_bucket"))
        .write.mode("append")
        .partitionBy("ivf_bucket")
        .parquet(path)
    )


def ivf_staleness_report(
    resident: DataFrame,
    appended: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-bucket health of an incrementally maintained IVF index: how
    far the APPENDED vectors sit from their (frozen) assigned centroid
    versus the residents the centroids were trained on.  One row per
    centroid: (cid, n_resident, n_appended, mean_cos_resident,
    mean_cos_appended, cos_drift) where cos_drift =
    mean_cos_resident − mean_cos_appended; a persistently positive
    drift is the RETRAIN alarm (q164's lever) — appends are landing in
    cells whose centroid no longer represents them, which is precisely
    the assignment incoherence that melts probe recall.

    One scan over resident ∪ appended with the K-cosine array computed
    once per row (broadcast-literal centroids, no join); K-sized
    output."""

    def tagged(df: DataFrame, flag: int) -> DataFrame:
        v = as_double_array(vec_col)
        sims = F.array(
            *[cosine(v, F.array(*[lit(float(x)) for x in cvec]))
              for _, cvec in centroids]
        )
        return df.select(
            lit(flag).alias("__app"),
            (F.array_position(sims, F.array_max(sims)) - 1).cast("int").alias("cid"),
            rnd(F.array_max(sims), 6).alias("__ccos"),
        )

    both = tagged(resident, 0).unionByName(tagged(appended, 1))
    res_cos = F.avg(F.when(col("__app") == 0, col("__ccos")))
    app_cos = F.avg(F.when(col("__app") == 1, col("__ccos")))
    return (
        both.groupBy("cid")
        .agg(
            F.sum(lit(1) - col("__app")).cast("long").alias("n_resident"),
            F.sum("__app").cast("long").alias("n_appended"),
            rnd(res_cos, 6).alias("mean_cos_resident"),
            rnd(app_cos, 6).alias("mean_cos_appended"),
        )
        .withColumn(
            "cos_drift",
            rnd(col("mean_cos_resident") - col("mean_cos_appended"), 6),
        )
        .orderBy("cid")
    )


def truncation_recall_audit(
    df: DataFrame,
    queries: DataFrame,
    dims: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    family: str = "trunc",
) -> DataFrame:
    """Dimension-TRUNCATION ladder (the matryoshka-embedding question):
    recall@k of brute-force search scored on only the first ``d``
    coordinates, against full-dimension truth, for each rung of the
    ladder — one row per d.  Truncation is the third axis of the ANN
    storage/IO ladder after int8 (4×) and 1-bit (64×): keeping d of D
    dims cuts the similarity scan D/d× with NO index at all, and this
    report says what each cut costs in recall before a 100 TB corpus
    commits to a prefix width.

    Cost shape: the audits' contract — a fixed, fail-closed query panel;
    ONE full-dim brute pass for truth (pinned, shared by every
    rung) plus one corpus scan per rung; per-query top-k in the
    two-stage partition-local form."""
    _audit_panel_check(queries)
    q = queries.select(
        col(id_col).alias("query_id"), as_double_array(vec_col).alias("__qv")
    )
    corpus_plain = df.select(col(id_col), as_double_array(vec_col).alias("__v"))
    truth = pin(_brute_truth(corpus_plain, q, k, id_col))
    parts = []
    for d in dims:
        scored = (
            corpus_plain.crossJoin(F.broadcast(q))
            .filter(col(id_col) != col("query_id"))
            .select(
                "query_id",
                id_col,
                rnd(
                    cosine(F.slice(col("__v"), 1, d), F.slice(col("__qv"), 1, d)),
                    6,
                ).alias("__cos"),
            )
        )
        approx = _multi_query_topk(scored, k, id_col)
        rep = _recall_report(q, scored, truth, approx, id_col)
        parts.append(audit_summary(rep, family, f"dim_{d:03d}"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _ivf_candidates_adaptive(
    corpus_plain: DataFrame,
    q: DataFrame,
    centroids: list[tuple[int, list[float]]],
    delta: float,
    max_probe: int,
    id_col: str,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """(query_id, id, __v, __qv) candidates under the ADAPTIVE probe
    rule: each query probes every centroid whose 6-dp-rounded cosine is
    within ``delta`` of its best centroid's (capped at ``max_probe``
    cells, rank-ordered like the fixed rule).  A query that lands
    squarely inside one cell probes few; a boundary query widens itself
    — per-query cost follows per-query ambiguity instead of a global
    worst-case n_probe."""
    from pyspark.sql.window import Window

    corpus = (
        assigned
        if assigned is not None
        else _assigned_corpus(corpus_plain, centroids)
    )
    cents = corpus_plain.sparkSession.createDataFrame(
        [(int(cid), [float(x) for x in cvec]) for cid, cvec in centroids],
        "__ccid int, __cv array<double>",
    )
    w = Window.partitionBy("query_id")
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__qcos", rnd(cosine(col("__qv"), col("__cv")), 6))
        .withColumn("__best", F.max("__qcos").over(w))
        .withColumn(
            "__r",
            F.row_number().over(w.orderBy(col("__qcos").desc(), col("__ccid"))),
        )
        .filter(
            (col("__qcos") >= col("__best") - lit(float(delta)))
            & (col("__r") <= max_probe)
        )
        .select("query_id", "__qv", col("__ccid").alias("__cid"))
    )
    return (
        corpus.join(F.broadcast(probes), "__cid")
        .filter(col(id_col) != col("query_id"))
        .select("query_id", id_col, "__v", "__qv")
    )


def ivf_adaptive_probe_report(
    df: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    fixed_n_probe: int,
    delta: float,
    max_probe: int | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed vs ADAPTIVE probe width, priced on one panel against one
    shared brute-truth pass: the fixed rule probes ``fixed_n_probe``
    cells for every query; the adaptive rule probes every cell whose
    (6-dp) query-cosine sits within ``delta`` of that query's best cell
    (capped at ``max_probe``, default K).  The report
    (family='ivf_probe', config='fixed_N' / 'adaptive_Dxx') shows
    whether ambiguity-following beats the global worst-case — the knob
    the q162 recall audit says to widen, made per-query.  Replayable
    cross-engine: the gap rule compares ROUNDED cosines only."""
    if max_probe is None:
        max_probe = len(centroids)
    _audit_panel_check(queries)
    q = queries.select(
        col(id_col).alias("query_id"), as_double_array(vec_col).alias("__qv")
    )
    corpus_plain = df.select(col(id_col), as_double_array(vec_col).alias("__v"))
    truth = pin(_brute_truth(corpus_plain, q, k, id_col))
    # ONE bucket-assignment pass (K cosines over the whole corpus, the
    # linear floor) shared by both configs — the same share-the-
    # expensive-pass contract as the brute truth above (VERDICT r11:
    # the per-config assignment was the bulk of q171's 6.6× at 100×)
    assigned = _assigned_corpus(corpus_plain, centroids)
    fixed = audit_summary(
        _config_report(
            corpus_plain,
            q,
            truth,
            _ivf_candidates(
                corpus_plain, q, centroids, fixed_n_probe, id_col,
                assigned=assigned,
            ),
            k,
            id_col,
        ),
        "ivf_probe",
        f"fixed_{fixed_n_probe}",
    )
    adaptive = audit_summary(
        _config_report(
            corpus_plain,
            q,
            truth,
            _ivf_candidates_adaptive(
                corpus_plain, q, centroids, delta, max_probe, id_col,
                assigned=assigned,
            ),
            k,
            id_col,
        ),
        "ivf_probe",
        f"adaptive_{delta}",
    )
    return fixed.unionByName(adaptive)
