"""Deduplication operators: exact, fingerprint, n-gram Jaccard,
MinHash + LSH, and SimHash.

Design for 100 TB:

- Exact / fingerprint dedup is a hash ``groupBy`` on a digest column —
  one shuffle on a high-cardinality key, no skew (md5 is uniform).
- Near-dup candidate generation never compares all pairs: candidates come
  from an equi-join on a bucket key (shared shingle, MinHash band, or
  SimHash prefix), so Spark executes it as a shuffled hash join keyed on
  the bucket — the classic LSH trick that keeps the join linear-ish.
- All hashing is expression-level (md5 / xxhash64 built-ins) — no Python.

MinHash signatures take md5-derived hash values (:func:`minhash_signatures`)
so a DuckDB oracle can recompute every signature and band: one shuffle of
(doc, shingle) pairs, then a ``min`` aggregation per hash function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..core.pins import pin
from .text import fingerprint, tokens


# ---------------------------------------------------------------------------
# exact + fingerprint dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one row per distinct ``cols`` combination — the row with the
    smallest ``id_col`` (deterministic, unlike dropDuplicates).
    Reference semantics: INSERT OR IGNORE keeps the first row per PK
    (reference: src/transformations/standardize.py:24,90)."""
    w_min = F.min(id_col).over(Window.partitionBy(*cols))
    return df.withColumn("__keep_id", w_min).filter(col(id_col) == col("__keep_id")).drop("__keep_id")


def fingerprint_dedup_stats(df: DataFrame, text_col: str, group_cols: list[str]) -> DataFrame:
    """Per-group exact-duplicate statistics over the normalized-text
    fingerprint: rows, distinct docs, duplicate rows removed."""
    return (
        df.withColumn("fp", fingerprint(text_col))
        .groupBy(*group_cols)
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
            (F.count("*") - F.countDistinct("fp")).alias("n_duplicates"),
        )
    )


# ---------------------------------------------------------------------------
# word n-gram shingles + exact Jaccard over bucket-join candidates
# ---------------------------------------------------------------------------

def shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the lower-cased text (array<string>).
    Documents shorter than n tokens produce their full token join as the
    single shingle.  Built as a SQL expression (sequence + slice +
    concat_ws) so the whole thing stays in whole-stage codegen.

    NOTE: when the expression sits inside a ``transform`` lambda the regex
    split would be re-evaluated per element; for bulk use prefer
    ``doc_shingles`` below, which materializes the token array in its own
    projection first."""
    toks = f"split(lower({text_col}), '\\\\s+')"
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(size({toks}) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice({toks}, i, {n}))))"
    )


def parallelize_input(df: DataFrame) -> DataFrame:
    """Guarantee enough splits for expression-heavy map stages: a small
    single-row-group parquet source arrives as ONE partition and would
    serialize the whole stage onto one core.  No-op on well-split input.
    The split probe is memoized per (session, analyzed plan) —
    core.nparts — because the raw ``df.rdd.getNumPartitions()`` costs a
    plan→RDD conversion per call (~0.1–0.3 s of driver time)."""
    from ..core.nparts import plan_num_partitions

    target = df.sparkSession.sparkContext.defaultParallelism
    if plan_num_partitions(df) < max(2, target // 2):
        df = df.repartition(target)
    return df


def doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(doc, sh: array<string>) with the tokenization evaluated ONCE per
    row: the split lands in its own projection (referenced twice, so
    CollapseProject keeps it), and the shingle lambda only slices the
    materialized token array.  Inlining the split into the lambda costs a
    regex tokenization per shingle — ~100× per document."""
    df = parallelize_input(df)
    toks = df.select(
        col(id_col).alias("doc"),
        F.split(F.lower(col(text_col)), r"\s+").alias("__toks"),
    )
    expr = (
        f"array_distinct(transform(sequence(1, greatest(size(__toks) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice(__toks, i, {n}))))"
    )
    return toks.select("doc", F.expr(expr).alias("sh"))


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Exploded (id, shingle) pairs — the join key for candidate generation.

    ``explode_outer`` on purpose: plain explode triggers the
    InferFiltersFromGenerate rule, which pushes a ``size(arr) > 0`` filter
    below the projection and re-evaluates the ENTIRE shingle expression —
    with the tokenizing split inlined per lambda element — once per input
    row (measured 6× slowdown).  The arrays are never empty
    (``greatest(size-n+1, 1)``), so outer semantics are identical."""
    return doc_shingles(df, id_col, text_col, n).select(
        "doc", F.explode_outer("sh").alias("shingle")
    )


def _estimated_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimizer estimate of the plan's output size — derived
    from parquet file statistics, computed without running a job.  Falls
    back to 'large' (prefix filtering on) if the estimate is unavailable:
    the pruned plan is the safe default at scale."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 60


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold for all pairs — EXACT results via
    prefix filtering (Bayardo et al. WWW'07 / Vernica et al. SIGMOD'10):

    1. rank shingles globally by (document frequency, shingle) — a total
       order putting rare shingles first;
    2. each doc only emits its prefix — the first
       ``|A| − ⌈t·|A|⌉ + 1`` shingles in that order — into the self-join
       (any pair with J ≥ t MUST share a prefix shingle, since required
       overlap is ≥ ⌈t·|A|⌉);
    3. candidates pass a size-compatibility filter
       (``t·|A| ≤ |B| ≤ |A|/t``), then are verified exactly with
       ``array_intersect`` on the full shingle sets.

    This removes the quadratic blow-up of frequent shingles (a shingle in
    k docs contributes k² join rows; frequent shingles land in nobody's
    prefix).  ``prefix_filter=None`` (default) picks adaptively from
    Catalyst's plan statistics — file-size based, NO Spark job (an extra
    count() here would be a full scan just to pick a strategy at 100 TB):
    below ~16 MB of input the naive self-join wins (the pruning only pays
    for its two extra shuffles + ranking pass once the df² candidate
    explosion is the dominant cost); ``False`` forces the naive plan
    (differential baseline in tests), ``True`` forces pruning.

    The cutoff was 64 MB through r11; the r12 100×-fixture broadcast
    audit lowered it: at a 59 MB estimate Catalyst still chose to
    BROADCAST the exploded shingle side of the naive self-join (the
    estimate doesn't account for the ~100× explode fan-out), the exact
    OOM class observed on q167's old exact-verify join.  16 MB keeps the
    naive plan for genuinely small inputs and routes the danger window
    into the prefix branch, whose joins are aggregate-keyed."""
    if prefix_filter is None:
        prefix_filter = _estimated_size_bytes(df) >= 16 * 1024 * 1024
    # shingle ONCE: sizes + both self-join sides (+ dfreq/sorted in the
    # prefix branch) all read the shared (doc, sh) frame — unchecked,
    # the tokenize+shingle projection re-ran up to four times.  pin()
    # (core.pins: lazy persist, NOT localCheckpoint) because THIS
    # builder is contractually plan-only — the strategy probe must not
    # launch a job at build time
    # (test_jaccard_strategy_probe_runs_no_spark_job), and on this Spark
    # build even a lazy localCheckpoint fires one; the cache manager
    # computes the pinned frame once at first action instead.
    # every downstream join/groupBy keys on xxhash64'd shingles (8-byte
    # longs) instead of shingle strings (r15, guide §2.3 — narrower keys
    # through EVERY exchange, extending the r14 hashed-verify trade to
    # candidate generation): document-frequency ranking, the prefix
    # self-join and the exact verify all produce identical results
    # absent a 64-bit collision, and the global (df, hash) prefix order
    # is a valid total order, so the Bayardo prefix-filter guarantee —
    # every pair with J >= t shares a prefix element — holds unchanged.
    # The hashed column lives INSIDE the pin so it is computed once at
    # cache fill.
    per_doc = pin(
        doc_shingles(df, id_col, text_col, n).withColumn(
            "sh_h", F.transform(col("sh"), lambda s: F.xxhash64(s))
        )
    )
    sizes = per_doc.select("doc", F.size("sh").alias("n_shingles"))
    if not prefix_filter:
        sh = per_doc.select("doc", F.explode_outer("sh_h").alias("shingle"))
        a = sh.select(col("doc").alias("doc_a"), "shingle")
        b = sh.select(col("doc").alias("doc_b"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(col("doc_a") < col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_common"))
        )
        sa = sizes.select(col("doc").alias("doc_a"), col("n_shingles").alias("size_a"))
        sb = sizes.select(col("doc").alias("doc_b"), col("n_shingles").alias("size_b"))
        return (
            inter.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn(
                "jaccard",
                col("n_common") / (col("size_a") + col("size_b") - col("n_common")),
            )
            .filter(col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")
        )

    sh = per_doc.select("doc", F.explode_outer("sh_h").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df_cnt"))
    # NOTHING in this branch may broadcast: it only engages at >= 16 MB
    # of input, where dfreq (vocab-sized), the exploded prefix frames
    # and the per-doc array frames are all data-sized — but a fixture
    # whose PARQUET sits just under autoBroadcastJoinThreshold gets
    # every one of them auto-broadcast, and the in-memory blow-up
    # (explode fan-out, collect_list arrays) OOMs the exchange (r12
    # 100x audit).  shuffle-merge hints make the plan scale-truthful.
    dfreq = dfreq.hint("merge")
    # per-doc shingle array sorted by the global (df, shingle) order
    sorted_sh = (
        sh.join(dfreq, "shingle")
        .groupBy("doc")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df_cnt", "shingle"))),
                lambda s: s["shingle"],
            ).alias("sh_sorted")
        )
        .withColumn("sz", F.size("sh_sorted"))
    )
    t = float(threshold)
    prefix = sorted_sh.select(
        "doc",
        "sz",
        F.explode(
            F.expr(f"slice(sh_sorted, 1, sz - CAST(ceil({t} * sz) AS INT) + 1)")
        ).alias("shingle"),
    )
    a = prefix.select(col("doc").alias("doc_a"), col("sz").alias("size_a"), "shingle")
    b = prefix.select(col("doc").alias("doc_b"), col("sz").alias("size_b"), "shingle")
    cands = (
        a.join(b.hint("merge"), "shingle")
        .filter(
            (col("doc_a") < col("doc_b"))
            & (col("size_b") >= t * col("size_a"))
            & (col("size_b") <= col("size_a") / t)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verify on the hashed shingle sets (same trade as
    # minhash_dedup_pairs: the doc-keyed verify joins shuffle full
    # per-doc arrays — 8-byte elements instead of shingle strings;
    # n_common identical absent a 64-bit collision).  sh_sorted is
    # already the hashed form, so no re-hash projection is needed; sz
    # counts array elements and is unaffected by hashing.
    fa = sorted_sh.select(
        col("doc").alias("doc_a"), col("sh_sorted").alias("sh_a"), col("sz").alias("size_a")
    )
    fb = sorted_sh.select(
        col("doc").alias("doc_b"), col("sh_sorted").alias("sh_b"), col("sz").alias("size_b")
    )
    inter = F.size(F.array_intersect(col("sh_a"), col("sh_b")))
    return (
        cands.join(fa.hint("merge"), "doc_a")
        .join(fb.hint("merge"), "doc_b")
        .withColumn("n_common", inter)
        .withColumn(
            "jaccard", col("n_common") / (col("size_a") + col("size_b") - col("n_common"))
        )
        .filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Per-doc MinHash signature: for seed k, min over shingles of a
    seeded uniform hash.  One explode + one groupBy; the signature is an
    array column ordered by seed.

    Four independent 32-bit hash values come from each digest — hash k
    is the 8-hex-char chunk ``k % 4`` of
    ``md5((k // 4) || ':' || shingle)`` — so 16 hash functions cost only
    4 md5 evaluations per shingle (subexpression elimination shares each
    digest across its 4 chunk-mins), a 4× cut in the dominant hashing
    cost.  Mins are taken on the hex STRING: fixed-width lexicographic
    order over uniform hex is itself a uniform order, and both Spark and
    DuckDB produce byte-identical md5 hex, so the whole signature (and
    the LSH bands derived from it) is oracle-checkable end-to-end."""
    return _signatures_from_shingles(
        doc_shingles(df, id_col, text_col, n), num_hashes
    )


def _signatures_from_shingles(per_doc: DataFrame, num_hashes: int = 16) -> DataFrame:
    """The signature aggregate over an existing (doc, sh) shingle frame —
    split out so pipelines that also need the shingle sets for exact
    verification (``minhash_dedup_pairs``) shingle ONCE and share the
    frame instead of re-tokenizing per consumer."""
    sh = per_doc.select("doc", F.explode_outer("sh").alias("shingle"))
    mins = [
        F.min(
            F.substring(
                F.md5(F.concat(lit(f"{k // 4}:"), col("shingle"))),
                (k % 4) * 8 + 1,
                8,
            )
        ).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    sig = sh.groupBy("doc").agg(*mins)
    return sig.select(
        "doc", F.array(*[col(f"h{k}") for k in range(num_hashes)]).alias("signature")
    )


def banded_buckets(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Band a signature frame into its LSH bucket table: one row per
    (doc, band) with bucket = md5 of the band's signature slice.  This
    IS the persistable dedup index — docs×bands rows of fixed-width
    strings; write it partitioned by ``band`` and an incremental batch
    probes it with one equi-join (see ``incremental_minhash_report``)."""
    return signatures.select(
        "doc",
        F.explode_outer(  # outer: skip InferFiltersFromGenerate re-evaluation
            F.transform(
                F.sequence(lit(0), lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(col("signature"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc", col("bb.band").alias("band"), col("bb.bucket").alias("bucket"))


def banded_bucket_keys(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """(doc, bb) band-bucket table in the 8-byte JOIN-KEY form:
    ``bb = xxhash64(band, band-slice-csv)`` — one long instead of the
    (band int, 32-hex-char md5) pair of :func:`banded_buckets` (which
    stays the PERSISTABLE index contract for the incremental operators).
    A row here is 16 bytes vs ~50, so the candidate self-join's two
    shuffles carry ~3× fewer bytes (guide §2.3); bucket membership is
    identical absent a 64-bit collision between two DIFFERENT
    (band, slice) keys, and any collision only merges two buckets —
    extra candidate pairs, which exact verification rejects (the
    module's standard documented trade, here with zero effect on
    verified outputs)."""
    return signatures.select(
        "doc",
        F.explode_outer(  # outer: skip InferFiltersFromGenerate re-evaluation
            F.transform(
                F.sequence(lit(0), lit(bands - 1)),
                lambda b: F.xxhash64(
                    b,
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(col("signature"), b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                    ),
                ),
            )
        ).alias("bb"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Band the signature and emit pairs sharing any band bucket.

    Bucket key = xxhash64(band index, band slice csv) → equi-join on
    the 8-byte key (``banded_bucket_keys``; same buckets as the md5
    ``banded_buckets`` index absent a 64-bit collision).  Probability a
    pair with Jaccard s collides: 1 − (1 − s^rows)^bands (the standard
    S-curve)."""
    banded = banded_bucket_keys(signatures, bands, rows_per_band)
    a = banded.select(col("doc").alias("doc_a"), "bb")
    b = banded.select(col("doc").alias("doc_b"), "bb")
    return (
        a.join(b, "bb")
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard ≥ threshold.

    The exact check runs ONLY on the candidate pairs (array_intersect on
    the two docs' shingle sets) — never the full shingle self-join.  That
    is the whole point of LSH: candidate generation is the banded
    signature join; verification cost is |candidates|, not |corpus|²."""
    rows_per_band = num_hashes // bands
    # shingle ONCE: the signature chain and BOTH exact-verify sides read
    # the same shared (doc, sh) frame — unchecked, the tokenize+shingle
    # projection re-ran three times (sigs + a-side + b-side).  pin()
    # keeps the builder plan-only (core.pins rule); compute-once happens
    # at first action via the cache manager.
    # verify on xxhash64'd shingle sets: the two doc-keyed joins below
    # shuffle every candidate doc's full shingle array, and an 8-byte
    # element is ~3× narrower than the shingle string (guide §2.3 /
    # §8 — move hashes, not payloads).  Intersection/union sizes are
    # identical absent a 64-bit collision — the documented trade the
    # position-gram operators already make — and the md5 SIGNATURE
    # chain is untouched (its hex strings are the oracle-checked
    # contract).  The hashed column lives INSIDE the pinned frame so
    # the transform runs once at cache fill, not once per join side.
    per_doc = pin(
        doc_shingles(df, id_col, text_col, n).withColumn(
            "sh_h", F.transform(col("sh"), lambda s: F.xxhash64(s))
        )
    )
    sigs = _signatures_from_shingles(per_doc, num_hashes)
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band)
    a = per_doc.select(col("doc").alias("doc_a"), col("sh_h").alias("sh_a"))
    b = per_doc.select(col("doc").alias("doc_b"), col("sh_h").alias("sh_b"))
    inter = F.size(F.array_intersect(col("sh_a"), col("sh_b")))
    union = F.size(col("sh_a")) + F.size(col("sh_b")) - inter
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", inter / union)
        .filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
    planes: list[list[float]] | None = None,
    bands: int = 1,
) -> DataFrame:
    """Semantic near-duplicate pairs: cosine ≥ threshold over an embedding
    column, candidates from random-hyperplane LSH buckets (truly
    near-identical vectors agree on every hyperplane sign with
    probability ≈ (1 − θ/π)^planes → recall ≈ 1 for dedup-grade
    thresholds).  Same equi-join-on-bucket shape as the MinHash path.
    Pass ``planes`` explicitly to share the exact hyperplanes with an
    external verifier (they are deterministic md5-derived literals).

    ``bands > 1`` uses banded multi-table LSH
    (:func:`similarity.banded_candidate_pairs`): a single table of p
    planes has only 2^p buckets — quadratic blow-up returns once
    N ≫ 2^p — whereas bands of log2(N)-ish planes each hold candidate
    volume linear at any corpus size, with S-curve recall
    ``1 − (1 − p₁^r)^bands``."""
    from . import similarity

    if planes is None:
        if dim is None:
            dim = len(df.select(vec_col).head()[0])
        planes = similarity.random_hyperplanes(n_planes, dim, seed)
    if bands > 1:
        vecs = df.select(
            col(id_col).alias("doc"), similarity.as_double_array(vec_col).alias("v")
        )
        cands = similarity.banded_candidate_pairs(df, planes, bands, id_col, vec_col)
        return (
            cands.join(
                vecs.select(col("doc").alias("doc_a"), col("v").alias("v_a")), "doc_a"
            )
            .join(vecs.select(col("doc").alias("doc_b"), col("v").alias("v_b")), "doc_b")
            .withColumn(
                "cos_sim",
                F.round(similarity.cosine(col("v_a"), col("v_b")) + lit(1e-9), 6),
            )
            .filter(col("cos_sim") >= threshold)
            .select("doc_a", "doc_b", "cos_sim")
        )
    bucketed = df.select(
        col(id_col).alias("doc"), similarity.as_double_array(vec_col).alias("v")
    ).withColumn("bucket", similarity.lsh_bucket(col("v"), planes))
    a = bucketed.select(col("doc").alias("doc_a"), col("v").alias("v_a"), "bucket")
    b = bucketed.select(col("doc").alias("doc_b"), col("v").alias("v_b"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(col("doc_a") < col("doc_b"))
        .withColumn(
            "cos_sim",
            F.round(similarity.cosine(col("v_a"), col("v_b")) + lit(1e-9), 6),
        )
        .filter(col("cos_sim") >= threshold)
        .select("doc_a", "doc_b", "cos_sim")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(text_col: str, bits: int = 32) -> Column:
    """SimHash over whitespace tokens: bit b of the hash is the sign of
    Σ_tokens (±1 depending on bit b of xxhash64(token)).  Pure array
    expressions — aggregate + zip_with — stay inside codegen."""
    toks = f"split(lower({text_col}), '\\\\s+')"
    bit_contrib = (
        f"transform(sequence(0, {bits - 1}), "
        f"b -> CASE WHEN (shiftright(xxhash64(t), CAST(b AS INT)) & 1) = 1 "
        f"THEN 1L ELSE -1L END)"
    )
    sums = (
        f"aggregate({toks}, array_repeat(0L, {bits}), "
        f"(acc, t) -> zip_with(acc, {bit_contrib}, (x, y) -> x + y))"
    )
    return F.expr(
        f"aggregate(zip_with({sums}, sequence(0, {bits - 1}), "
        f"(s, b) -> CASE WHEN s > 0 THEN shiftleft(1L, CAST(b AS INT)) ELSE 0L END), "
        f"0L, (acc, x) -> acc | x)"
    )


def simhash_md5(text_col: str, bits: int = 32) -> Column:
    """SimHash over whitespace tokens using md5-derived token-hash bits
    (``bits`` ≤ 32: bit b comes from hex digit b//4 of md5(token), so both
    Spark and DuckDB — which share md5 byte-exactly — compute the
    identical hash; xxhash64 in :func:`simhash` is JVM-only).

    Structure: md5 is evaluated ONCE per token (materialized in its own
    ``transform``), then each token's 8-hex-char prefix becomes a digit
    array, per-bit ±1 contributions are folded with ``zip_with``, and the
    sign vector packs into one long.  Everything is codegen'd array
    expressions — no Python, no explode."""
    if not 1 <= bits <= 32:
        raise ValueError("simhash_md5 supports 1..32 bits (8 hex chars)")
    toks = f"split(lower({text_col}), '\\\\s+')"
    digit = (
        "instr('0123456789abcdef', substr(h, CAST(b DIV 4 AS INT) + 1, 1)) - 1"
    )
    bit_contrib = (
        f"transform(sequence(0, {bits - 1}), "
        f"b -> CASE WHEN (({digit}) >> CAST(b % 4 AS INT)) & 1 = 1 "
        f"THEN 1L ELSE -1L END)"
    )
    sums = (
        f"aggregate(transform({toks}, t -> substr(md5(t), 1, 8)), "
        f"array_repeat(0L, {bits}), "
        f"(acc, h) -> zip_with(acc, {bit_contrib}, (x, y) -> x + y))"
    )
    return F.expr(
        f"aggregate(zip_with({sums}, sequence(0, {bits - 1}), "
        f"(s, b) -> CASE WHEN s > 0 THEN shiftleft(1L, CAST(b AS INT)) ELSE 0L END), "
        f"0L, (acc, x) -> acc | x)"
    )


def hamming_distance(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    prefix_bits: int = 8,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on the top ``prefix_bits`` bits
    (cheap LSH — near-identical docs share the prefix with high
    probability), equi-join within buckets, filter on Hamming distance.

    Hashes with :func:`simhash_md5` (bits ≤ 32) so a DuckDB oracle can
    recompute the identical hashes."""
    hashed = parallelize_input(df).select(
        col(id_col).alias("doc"), simhash_md5(text_col, bits).alias("sh")
    ).withColumn("bucket", F.shiftrightunsigned(col("sh"), bits - prefix_bits))
    a = hashed.select(col("doc").alias("doc_a"), col("sh").alias("sh_a"), "bucket")
    b = hashed.select(col("doc").alias("doc_b"), col("sh").alias("sh_b"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("hamming", hamming_distance(col("sh_a"), col("sh_b")))
        .filter(col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Edit-distance near-dup (prefix-blocked, thresholded levenshtein)
# ---------------------------------------------------------------------------

def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 8,
    prefix_len: int = 16,
    second_block_len: int | None = None,
) -> DataFrame:
    """Character-level near-dup pairs: normalized edit distance ≤
    ``max_dist`` among docs sharing the first ``prefix_len`` normalized
    chars.

    The prefix block is the candidate scheme (same contract as the LSH
    operators: recall is bounded by the blocking — an edit inside the
    first ``prefix_len`` chars moves a pair out of its block — and the
    tradeoff is documented rather than hidden).  The verify step uses
    Spark's THRESHOLDED levenshtein (O(d·len) banded DP, returns −1 when
    the distance exceeds d) rather than the full O(len²) table.
    Normalization (lower, collapse whitespace) matches
    :func:`..operators.text.fingerprint` so exact dups land at distance 0.

    Skew bound: a boilerplate-heavy corpus ("From:", license headers)
    can put a large fraction of documents behind ONE prefix, making the
    within-block join quadratic on the hot block.  The join key is
    therefore (prefix, length band) with band width ``max_dist + 1``:
    the |len_a − len_b| ≤ d prefilter is promoted from an in-block
    filter to the blocking itself, with the left side probing its own
    and both adjacent bands so every length-admissible pair still meets
    (exactly one probe matches → no duplicate pairs, recall identical
    to the unbanded form).  A hot block is then quadratic only in
    docs-per-(prefix, ~d chars of length) — the set that genuinely must
    be compared under the operator's semantics.  For corpora where even
    that set is hot (identical boilerplate AND identical lengths),
    ``second_block_len`` composes an md5 of the next
    ``second_block_len`` normalized chars into the key — a stronger,
    recall-reducing signal (an edit inside that span now also moves a
    pair out of its block), opt-in for exactly that reason."""
    band_w = max_dist + 1
    normalized = F.trim(F.regexp_replace(F.lower(col(text_col)), r"\s+", " "))
    d = parallelize_input(df).select(
        col(id_col).alias("doc"),
        normalized.alias("txt"),
    ).withColumn("blk", F.substring("txt", 1, prefix_len)).withColumn(
        "ln", F.length("txt")
    ).withColumn("band", F.floor(col("ln") / band_w))
    if second_block_len:
        d = d.withColumn(
            "blk",
            F.concat(
                "blk", F.md5(F.substring("txt", prefix_len + 1, second_block_len))
            ),
        )
    a = (
        d.select(
            col("doc").alias("doc_a"), col("txt").alias("txt_a"), "blk",
            col("ln").alias("ln_a"), "band",
        )
        .withColumn("__probe", F.explode(F.array(lit(-1), lit(0), lit(1))))
        .withColumn("band", col("band") + col("__probe"))
        .drop("__probe")
    )
    b = d.select(
        col("doc").alias("doc_b"), col("txt").alias("txt_b"), "blk",
        col("ln").alias("ln_b"), "band",
    )
    return (
        a.join(b, ["blk", "band"])
        .filter(
            (col("doc_a") < col("doc_b"))
            & (F.abs(col("ln_a") - col("ln_b")) <= max_dist)
        )
        .withColumn(
            "edit_dist", F.levenshtein(col("txt_a"), col("txt_b"), max_dist)
        )
        .filter(col("edit_dist") >= 0)
        .select("doc_a", "doc_b", "edit_dist")
    )


# ---------------------------------------------------------------------------
# Duplicated-span statistics (exact n-gram occurrence dedup diagnostics)
# ---------------------------------------------------------------------------

def duplicated_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
    group_col: str = "source",
) -> DataFrame:
    """Per-group statistics of EXACT duplicated n-gram spans: the
    fraction of each document's token n-gram POSITIONS whose n-gram also
    occurs in at least one other document — the span-level diagnostic
    behind exact-substring training-data dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a high
    duplicated-span fraction marks boilerplate/templated text that
    document-level near-dup misses.

    Scale shape: explode to (doc, position, gram) WITH multiplicity (a
    position table, unlike the distinct shingle join keys), carrying
    grams as xxhash64 VALUES — at n=10 the gram string is ~60-100 bytes
    and is shuffled twice, so hashing to 8 bytes cuts shuffle volume
    ~10× (collision odds at even 10⁹ grams: ~3%% of a single colliding
    PAIR anywhere, i.e. one position miscounted in a corpus-level
    diagnostic — the standard exact-substring-dedup trade).  Gram
    document-frequency is ONE gram-keyed shuffle (count_distinct doc,
    partials map-side); per-doc span totals are computed map-only from
    the token count BEFORE the explode (never a position-table
    groupBy); one semi-join of positions against the dup-gram set.
    Never pair-shaped — cost is O(total tokens), same as the corpus
    scan."""
    toks = parallelize_input(df).select(
        col(id_col).alias("doc"),
        col(group_col).alias("grp"),
        F.split(F.lower(col(text_col)), r"\s+").alias("__toks"),
    )
    # one row per doc, map-only: the denominator never touches a shuffle
    totals = toks.select(
        "doc",
        "grp",
        F.greatest(F.size("__toks") - lit(n - 1), lit(1)).alias("n_spans"),
    )
    gram_expr = (
        f"transform(sequence(1, greatest(size(__toks) - {n - 1}, 1)), "
        f"i -> xxhash64(concat_ws(' ', slice(__toks, i, {n}))))"
    )
    pos = toks.select("doc", F.explode_outer(F.expr(gram_expr)).alias("gram"))
    # ONE gram-keyed exchange for the whole operator (guide §2.4): both
    # consumers of the position table — the doc-frequency aggregate and
    # the probe side of the semi-join — need it hash-partitioned by
    # gram, so shuffle it once BELOW the pin; the cached frame reports
    # that partitioning and both the groupBy and the join plan with
    # zero further exchanges of the position table (r14 measurement:
    # the two independent gram-shuffles were the dominant q68 cost, not
    # the interpreted gram-hash lambda, which is ~0.15 s/corpus pass)
    pos = pin(pos.repartition("gram"))
    # ≥2 distinct docs ⟺ min(doc) ≠ max(doc): a plain min/max hash
    # aggregate with map-side partials, instead of count_distinct's
    # expand + double aggregate (guide §2.3 — aggregate before you
    # shuffle; the distinct machinery shuffled (gram, doc) pairs)
    dup_grams = (
        pos.groupBy("gram")
        .agg((F.min("doc") != F.max("doc")).alias("__dup"))
        .filter(col("__dup"))
        .select("gram")
    )
    flagged = pos.join(dup_grams, "gram", "left_semi").groupBy("doc").agg(
        F.count("*").alias("n_dup")
    )
    per_doc = (
        totals.join(flagged, "doc", "left")
        .withColumn("n_dup", F.coalesce(col("n_dup"), lit(0)))
        .withColumn("dup_frac", col("n_dup") / col("n_spans"))
    )
    from ..functions.scalar import rnd

    return (
        per_doc.groupBy("grp")
        .agg(
            F.count("*").alias("n_docs"),
            rnd(F.avg("dup_frac"), 6).alias("avg_dup_frac"),
            F.sum((col("dup_frac") > 0.5).cast("long")).alias("n_heavy_dup"),
            F.sum("n_dup").cast("long").alias("total_dup_spans"),
        )
        .select(
            col("grp").alias(group_col),
            col("n_docs").cast("long"),
            "avg_dup_frac",
            col("n_heavy_dup").cast("long"),
            "total_dup_spans",
        )
        .orderBy(group_col)
    )

def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
    min_df: int = 2,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Exact-substring DEDUP (the removal step of Lee et al. 2022, where
    :func:`duplicated_span_stats` is the diagnostic): drop every token
    POSITION covered by some n-gram that occurs in ≥ ``min_df``
    documents, and return the cleaned corpus.

    Returns one row per input document: ``keep_cols``, ``n_tokens``
    (before), ``n_removed`` (tokens dropped), and ``text_clean`` (the
    surviving tokens re-joined).  Documents made entirely of boilerplate
    come back with an empty ``text_clean`` — dropping them is the
    caller's policy decision.

    Scale shape (mirrors duplicated_span_stats): the position table
    carries xxhash64 gram VALUES (8-byte shuffle keys); dup-gram
    document frequency is one gram-keyed ``count_distinct`` shuffle;
    flagged span STARTS come back as one doc-keyed array (bounded by
    the document's own token count — never corpus-sized); the final
    mask is a map-side array expression over the token array.  Cost is
    O(total tokens) — never pair-shaped.
    """
    keep_cols = keep_cols or []
    toks = tokenized_frame(df, id_col, text_col, keep_cols)
    # r15 (VERDICT r14 item 3): the r14 `repartition("gram")` below this
    # pin was REMOVED — on this Spark build a cached plan's output
    # partitioning is invisible to consumers (OPTIMIZATION_r14 residual
    # #2: the aggregate and the semi-join probe each get an
    # ENSURE_REQUIREMENTS exchange above the cache regardless), so the
    # explicit repartition paid one extra full position-table exchange
    # at pin fill — inside every cold window — and saved nothing.  An
    # interleaved A/B at sf0.1 measured the removal neutral-to-better
    # (warm medians ~2.7 both ways; the fill exchange only bites cold).
    # duplicated_span_stats keeps its shared exchange: the driver's r14
    # run measured q68 improved with it, and on a Spark build where
    # cached partitioning is visible it saves both downstream shuffles.
    pos = pin(position_grams(toks, n))
    if min_df == 2:
        # ≥2 distinct docs ⟺ min ≠ max — no count_distinct expand
        dup_grams = (
            pos.groupBy("gram")
            .agg((F.min("doc") != F.max("doc")).alias("__dup"))
            .filter(col("__dup"))
            .select("gram")
        )
    else:
        dup_grams = (
            pos.groupBy("gram")
            .agg(F.count_distinct("doc").alias("gram_docs"))
            .filter(col("gram_docs") >= min_df)
            .select("gram")
        )
    starts = (
        pos.join(dup_grams, "gram", "left_semi")
        .groupBy("doc")
        .agg(F.collect_list("start").alias("__starts"))
    )
    return mask_spans(toks, starts, n, id_col, keep_cols)


def tokenized_frame(
    df: DataFrame, id_col: str, text_col: str, keep_cols: list[str]
) -> DataFrame:
    """(doc, keep_cols, __toks) — the shared head of the span operators."""
    return parallelize_input(df).select(
        col(id_col).alias("doc"),
        *keep_cols,
        F.split(F.lower(col(text_col)), r"\s+").alias("__toks"),
    )


def position_grams(toks: DataFrame, n: int) -> DataFrame:
    """(doc, start, gram) position table with xxhash64 gram values —
    8-byte shuffle keys instead of ~n·8-byte gram strings."""
    gram_expr = (
        f"transform(sequence(1, greatest(size(__toks) - {n - 1}, 1)), "
        f"i -> xxhash64(concat_ws(' ', slice(__toks, i, {n}))))"
    )
    return toks.select(
        "doc", F.posexplode_outer(F.expr(gram_expr)).alias("__p0", "gram")
    ).select("doc", (col("__p0") + 1).alias("start"), "gram")


def mask_spans(
    toks: DataFrame,
    starts: DataFrame,
    n: int,
    id_col: str,
    keep_cols: list[str],
) -> DataFrame:
    """Drop every token position covered by a flagged n-gram start and
    rebuild the text — one doc-keyed join of the bounded start arrays,
    then pure map-side array expressions."""
    span = lit(n - 1)
    out = (
        toks.join(starts, "doc", "left")
        .withColumn("__starts", F.coalesce(col("__starts"), F.array()))
        .withColumn("n_tokens", F.size("__toks").cast("long"))
        # the kept token indices (1-based), then project the tokens —
        # all map-side array expressions, no further shuffle
        .withColumn(
            "__kept",
            F.filter(
                F.sequence(lit(1), F.size("__toks")).alias("__js"),
                lambda j: ~F.exists(
                    col("__starts"), lambda s: (s <= j) & (j <= s + span)
                ),
            ),
        )
        .withColumn("n_removed", (F.size("__toks") - F.size("__kept")).cast("long"))
        .withColumn(
            "text_clean",
            F.array_join(
                F.transform(col("__kept"), lambda j: F.element_at("__toks", j)),
                " ",
            ),
        )
    )
    return out.select(
        col("doc").alias(id_col), *keep_cols, "n_tokens", "n_removed", "text_clean"
    )

def incremental_dedup_report(
    new_batch: DataFrame,
    existing: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Incremental corpus refresh: classify an incoming batch against
    the already-ingested corpus by exact text fingerprint — the op every
    periodically-refreshed training corpus runs (new crawl/snapshot vs
    the standing store) BEFORE any expensive near-dup work.

    Per ``group_col``: batch size, docs whose fingerprint already exists
    in the store (``n_dup_vs_existing``), additional within-batch
    duplicates (``n_dup_in_batch``), and the genuinely new docs
    (``n_new``).  ``n_batch = n_dup_vs_existing + n_dup_in_batch +
    n_new`` by construction.

    Scale shape: the standing corpus contributes ONLY its distinct
    fingerprint column (at 100 TB the store would persist fingerprints
    as its own compact table — this derives them on the fly for the
    conformance query); the batch joins it with one left-semi/anti on
    the uniform md5 key, and within-batch dedup is one fingerprint-keyed
    min.  Never pair-shaped, no skew.
    """
    fp_new = parallelize_input(new_batch).select(
        col(id_col).alias("doc"),
        col(group_col).alias("grp"),
        fingerprint(text_col).alias("fp"),
    )
    store = (
        parallelize_input(existing)
        .select(fingerprint(text_col).alias("fp"))
        .distinct()
    )
    vs_existing = fp_new.join(store, "fp", "left_semi")
    fresh = fp_new.join(store, "fp", "left_anti")
    survivors = fresh.withColumn(
        "__keep", F.min("doc").over(Window.partitionBy("fp"))
    ).filter(col("doc") == col("__keep"))
    n_batch = fp_new.groupBy("grp").agg(F.count("*").alias("n_batch"))
    n_vs = vs_existing.groupBy("grp").agg(
        F.count("*").alias("n_dup_vs_existing")
    )
    n_new = survivors.groupBy("grp").agg(F.count("*").alias("n_new"))
    return (
        n_batch.join(n_vs, "grp", "left")
        .join(n_new, "grp", "left")
        .select(
            col("grp").alias(group_col),
            col("n_batch").cast("long"),
            F.coalesce("n_dup_vs_existing", lit(0)).cast("long").alias(
                "n_dup_vs_existing"
            ),
            (
                col("n_batch")
                - F.coalesce("n_dup_vs_existing", lit(0))
                - F.coalesce("n_new", lit(0))
            ).cast("long").alias("n_dup_in_batch"),
            F.coalesce("n_new", lit(0)).cast("long").alias("n_new"),
        )
        .orderBy(group_col)
    )


def lsh_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """The corpus' MinHash-LSH INDEX: one (doc, band, bucket) row per
    signature band — the artifact a production dedup PERSISTS (write
    partitioned by ``band``) so later increments never re-touch the
    standing corpus' text.  docs×bands rows of fixed-width md5 strings:
    at 370M docs × 4 bands that's a ~50 GB table vs re-shingling 100 TB
    of text on every refresh."""
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes)
    return banded_buckets(sigs, bands, num_hashes // bands)


def incremental_minhash_classify(
    batch: DataFrame,
    standing: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    standing_bands: DataFrame | None = None,
) -> DataFrame:
    """Classify an incoming batch against the standing corpus by NEAR-
    duplicate (MinHash-LSH) — q78's incremental-refresh shape upgraded
    from exact fingerprints to near-dup semantics.  Returns the batch
    keyed frame with a ``status`` column:

    * ``dup_vs_corpus`` — a verified (exact Jaccard ≥ threshold) near-
      match to a standing document exists;
    * ``dup_in_batch`` — otherwise, a verified near-match to an EARLIER
      batch document (smaller id) exists; the earlier doc's survivor
      represents it transitively (keep-first, q78's convention);
    * ``new`` — genuinely novel content.

    Scale shape — the whole point of the persisted index: the standing
    corpus contributes its band table (``standing_bands``, normally read
    from the persisted ``lsh_band_table`` output) plus the TEXT OF
    CANDIDATE MATCHES ONLY (one left-semi prune before shingling), so
    increment cost is O(batch + matched docs), never O(standing corpus).
    Candidates come from one (band, bucket) equi-join against the index;
    exact verification runs only on survivors, exactly as
    ``minhash_dedup_pairs``.
    """
    rows_per_band = num_hashes // bands
    # batch-sized, consumed by THREE plan branches (cross-corpus
    # candidates + both sides of the in-batch self-join) — pin it so
    # the 16-hash signature chain runs once
    b_bands = pin(lsh_band_table(
        batch, id_col, text_col, n, num_hashes, bands
    ))
    if standing_bands is None:
        standing_bands = lsh_band_table(
            standing, id_col, text_col, n, num_hashes, bands
        )
    cand = (
        b_bands.select(col("doc").alias("bd"), "band", "bucket")
        .join(
            standing_bands.select(col("doc").alias("sd"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("bd", "sd")
        .distinct()
    )
    # batch-sized shingle sets, consumed by vcross + both vbatch sides
    bsh = pin(doc_shingles(batch, id_col, text_col, n))
    sd_ids = cand.select(col("sd").alias(id_col)).distinct()
    ssh = doc_shingles(standing.join(sd_ids, id_col, "left_semi"), id_col, text_col, n)
    inter = F.size(F.array_intersect(col("sh_b"), col("sh_s")))
    union = F.size(col("sh_b")) + F.size(col("sh_s")) - inter
    vcross = (
        cand.join(bsh.select(col("doc").alias("bd"), col("sh").alias("sh_b")), "bd")
        .join(ssh.select(col("doc").alias("sd"), col("sh").alias("sh_s")), "sd")
        .filter(inter / union >= threshold)
        .select(col("bd").alias("__vs"))
        .distinct()
    )
    # in-batch pairs REUSE the batch band table and shingle sets already
    # built above instead of calling minhash_dedup_pairs (which would
    # re-run the 16-hash signature chain over the batch): a band-table
    # self-join on (band, bucket) is the same candidate set as the
    # signature-slice join — both pair docs agreeing on a full band —
    # and the exact-Jaccard verify is the same array form on `bsh`.
    bcand = (
        b_bands.select(col("doc").alias("__da"), "band", "bucket")
        .join(
            b_bands.select(col("doc").alias("__db"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(col("__da") < col("__db"))
        .select("__da", "__db")
        .distinct()
    )
    inter_b = F.size(F.array_intersect(col("sh_a"), col("sh_b")))
    union_b = F.size(col("sh_a")) + F.size(col("sh_b")) - inter_b
    vbatch = (
        bcand.join(
            bsh.select(col("doc").alias("__da"), col("sh").alias("sh_a")),
            "__da",
        )
        .join(
            bsh.select(col("doc").alias("__db"), col("sh").alias("sh_b")),
            "__db",
        )
        .filter(inter_b / union_b >= threshold)
        .select(col("__db").alias("__vb"))
        .distinct()
    )
    return (
        batch.join(vcross, batch[id_col] == col("__vs"), "left")
        .join(vbatch, batch[id_col] == col("__vb"), "left")
        .withColumn(
            "status",
            F.when(col("__vs").isNotNull(), lit("dup_vs_corpus"))
            .when(col("__vb").isNotNull(), lit("dup_in_batch"))
            .otherwise(lit("new")),
        )
        .drop("__vs", "__vb")
    )


def incremental_minhash_report(
    batch: DataFrame,
    standing: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    standing_bands: DataFrame | None = None,
) -> DataFrame:
    """Per-group report over :func:`incremental_minhash_classify` —
    mirrors ``incremental_dedup_report``'s columns with near-dup
    semantics: ``n_batch = n_dup_vs_corpus + n_dup_in_batch + n_new``."""
    st = incremental_minhash_classify(
        batch,
        standing,
        id_col,
        text_col,
        n,
        num_hashes,
        bands,
        threshold,
        standing_bands,
    )
    return (
        st.groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_batch"),
            F.sum((col("status") == "dup_vs_corpus").cast("long"))
            .cast("long")
            .alias("n_dup_vs_corpus"),
            F.sum((col("status") == "dup_in_batch").cast("long"))
            .cast("long")
            .alias("n_dup_in_batch"),
            F.sum((col("status") == "new").cast("long")).cast("long").alias("n_new"),
        )
        .orderBy(group_col)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Containment near-dup pairs: ``n_common / min(|A|, |B|)`` ≥
    threshold — the measure that catches QUOTE INCLUSION (a short doc
    embedded in a long one), which symmetric Jaccard dilutes toward 0
    as the long side grows.  EXACT (no recall trade), via the min-side
    prefix filter:

    any qualifying pair shares ≥ ⌈t·m⌉ shingles where m = min size, so
    the SMALLER doc's prefix — its ``m − ⌈t·m⌉ + 1`` rarest shingles in
    the global (document-frequency, shingle) order — must intersect the
    larger doc's full set.  Candidates therefore come from
    prefix(doc) ⋈ all-shingles(other) restricted to size(prefix side) ≤
    size(full side): the asymmetric Bayardo/Vernica join.  Hot
    boilerplate shingles explode only the FULL side of the join; they
    enter a prefix only when a doc has nothing rarer, so per-shingle
    fan-out stays |prefix emitters| × df, not df².  Verification is an
    in-row array_intersect on the two full (sorted) shingle arrays.

    Returns (doc_a, doc_b, n_common, size_a, size_b, containment).
    """
    sh = shingle_table(df, id_col, text_col, n)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df_cnt"))
    sorted_sh = (
        sh.join(dfreq, "shingle")
        .groupBy("doc")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df_cnt", "shingle"))),
                lambda s: s["shingle"],
            ).alias("sh_sorted")
        )
        .withColumn("sz", F.size("sh_sorted"))
    )
    t = float(threshold)
    prefix = sorted_sh.select(
        "doc",
        "sz",
        F.explode(
            F.expr(f"slice(sh_sorted, 1, sz - CAST(ceil({t} * sz) AS INT) + 1)")
        ).alias("shingle"),
    )
    p_side = prefix.select(
        col("doc").alias("doc_p"), col("sz").alias("sz_p"), "shingle"
    )
    f_side = sh.join(
        sorted_sh.select("doc", "sz"), "doc"
    ).select(col("doc").alias("doc_f"), col("sz").alias("sz_f"), "shingle")
    cands = (
        p_side.join(f_side, "shingle")
        .filter(
            (col("doc_p") != col("doc_f"))
            # prefix side must be the min side for the guarantee; ties
            # keep one deterministic orientation
            & (
                (col("sz_p") < col("sz_f"))
                | ((col("sz_p") == col("sz_f")) & (col("doc_p") < col("doc_f")))
            )
        )
        .select(
            F.least(col("doc_p"), col("doc_f")).alias("doc_a"),
            F.greatest(col("doc_p"), col("doc_f")).alias("doc_b"),
        )
        .distinct()
    )
    # verify on xxhash64'd shingle sets (see jaccard_pairs — narrower
    # verify-join shuffles, n_common identical absent a 64-bit collision)
    hashed_sorted = F.transform(col("sh_sorted"), lambda s: F.xxhash64(s))
    fa = sorted_sh.select(
        col("doc").alias("doc_a"), hashed_sorted.alias("sh_a"), col("sz").alias("size_a")
    )
    fb = sorted_sh.select(
        col("doc").alias("doc_b"), hashed_sorted.alias("sh_b"), col("sz").alias("size_b")
    )
    return (
        cands.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn(
            "containment",
            col("n_common") / F.least(col("size_a"), col("size_b")),
        )
        .filter(col("containment") >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "containment")
    )


# ---------------------------------------------------------------------------
# content-defined chunking (FastCDC-style) — chunk-level dedup
# ---------------------------------------------------------------------------

def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    gram_width: int = 2,
    divisor: int = 8,
    salt: str = "cdc",
) -> DataFrame:
    """Content-defined chunking: split each document into chunks at
    CONTENT-derived boundaries — a boundary opens after token position
    i whenever ``md5(salt ‖ gram_i) mod divisor == 0`` (gram_i = the
    ``gram_width`` tokens starting at i), giving expected chunk length
    ``divisor`` tokens.  The FastCDC/rsync insight this ports to token
    streams: because boundaries depend only on LOCAL content, an
    insertion or deletion re-chunks O(1) chunks instead of shifting
    every fixed-size-window boundary downstream — so chunk-level
    dedup still matches everything after an edit, where fixed-stride
    chunking (operators.text chunk by offset) loses all alignment.

    Plan shape at 100 TB: one posexplode (linear in tokens), ONE
    doc-keyed window for the running boundary count (entity-keyed
    shuffle, same posture as sessionization/q87), one (doc, chunk)
    aggregate to reassemble chunk text, md5 fingerprints for exact
    chunk dedup.  No corpus-wide comparisons — dedup is a fingerprint
    groupBy like q24.

    Returns (id_col, chunk_idx, chunk_fp, n_tokens)."""
    w = Window.partitionBy(id_col).orderBy("pos")
    toks = df.select(
        col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "token"),
    )
    gram = F.concat_ws(
        " ",
        *(
            [col("token")]
            + [F.lead("token", i).over(w) for i in range(1, gram_width)]
        ),
    )
    bnd = (
        F.conv(
            F.substring(F.md5(F.concat(lit(f"{salt}:"), gram)), 1, 8), 16, 10
        ).cast("long")
        % divisor
        == 0
    ).cast("int")
    # chunk index of a token = boundaries strictly BEFORE it: cumulative
    # sum over (UNBOUNDED PRECEDING, 1 PRECEDING) — one window pass reuses
    # the same (doc, pos) sort as the gram lead above
    chunked = toks.withColumn("__bnd", bnd).withColumn(
        "chunk_idx",
        F.coalesce(
            F.sum("__bnd").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0),
        ).cast("long"),
    )
    return (
        chunked.groupBy(id_col, "chunk_idx")
        .agg(
            F.md5(
                F.array_join(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "token"))
                    ).getField("token"),
                    " ",
                )
            ).alias("chunk_fp"),
            F.count("*").cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# duplicate-cluster canonical selection (keep-best, not keep-first)
# ---------------------------------------------------------------------------

def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    pairs: DataFrame | None = None,
    pair_source: str = "minhash",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """The shared near-dup pair SOURCE for every pair-consuming operator
    (keep-best canonical dedup, leakage-safe splits, funnel attribution,
    threshold curves, representation calibration).  That choice IS the
    scale knob, so it is made in exactly one place:

    - ``pair_source="minhash"`` (DEFAULT — the production path): banded
      MinHash-LSH candidates verified by exact Jaccard
      (:func:`minhash_dedup_pairs`).  Candidate volume is bucket-bounded
      (~2.4× at 10× corpus growth measured), which is what survives the
      reference's 370M-row scale and 100 TB.
    - ``pair_source="jaccard"``: exact all-qualifying pairs via the
      prefix-filtered shingle join (:func:`jaccard_pairs`) — recall 1.0
      but super-linear pair-join growth (~5.6× at 10×); the oracle-gated
      verification mode, not the scale default.
    - ``pairs=<DataFrame>``: any precomputed (doc_a, doc_b[, jaccard])
      frame (SimHash, embedding LSH, SemDeDup, CDC...) — overrides
      ``pair_source`` entirely.

    Returns (doc_a, doc_b, jaccard) — both built-in sources verify
    candidates exactly, so ``jaccard`` is the true n-gram Jaccard and
    MinHash-mode pairs are always a SUBSET of exact-mode pairs at the
    same threshold (pytest-verified mode-equivalence)."""
    if pairs is not None:
        return pairs
    if pair_source == "minhash":
        return minhash_dedup_pairs(
            df, id_col, text_col, n=n, num_hashes=num_hashes,
            bands=bands, threshold=threshold,
        )
    if pair_source == "jaccard":
        return jaccard_pairs(df, id_col, text_col, n=n, threshold=threshold).select(
            "doc_a", "doc_b", "jaccard"
        )
    raise ValueError(
        f"unknown pair_source {pair_source!r} (minhash|jaccard, or pass pairs=)"
    )


def canonical_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: Column | str,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Pick the duplicate-cluster survivor by QUALITY instead of min-id:
    close the near-dup ``pairs`` graph into connected components, then
    keep exactly one row per cluster — the highest ``score_col``, ties
    broken by smallest ``id_col`` (a total order, so the winner is
    deterministic across engines and layouts).  Rows never mentioned in
    ``pairs`` are singletons and keep themselves.

    This is the curation-grade companion to ``graph.cluster_assignments``
    (which marks the min-id canonical): production dedup wants to retain
    the BEST copy of each near-dup family (longest / highest-quality),
    not whichever happened to get the lowest id.

    Returns ``df`` plus (cluster_id, cluster_size, keep).

    Scale shape: ``connected_components`` shuffles only the PAIR set
    (O(log² n) rounds, far smaller than the corpus); the component map is
    cluster-count sized and joins back on the id key; the winner pick is
    one window shuffle keyed by cluster_id.  No global sort, no collect.
    """
    from .graph import connected_components

    sc = col(score_col) if isinstance(score_col, str) else score_col
    comp = connected_components(pairs, src, dst).select(
        col("node").alias(id_col), col("component")
    )
    assigned = (
        df.withColumn("__score", sc)
        .join(comp, id_col, "left")
        .withColumn("cluster_id", F.coalesce(col("component"), col(id_col)))
        .drop("component")
    )
    w = Window.partitionBy("cluster_id")
    wo = Window.partitionBy("cluster_id").orderBy(
        col("__score").desc(), col(id_col)
    )
    return (
        assigned.withColumn("cluster_size", F.count("*").over(w).cast("long"))
        .withColumn("keep", F.row_number().over(wo) == lit(1))
        .drop("__score")
    )


def canonical_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    score_col: Column | str,
    *,
    pairs: DataFrame | None = None,
    pair_source: str = "minhash",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Keep-best canonical dedup END TO END: resolve the near-dup pair
    set (:func:`near_dup_pairs` — MinHash-LSH by DEFAULT, exact Jaccard
    as the oracle-gated mode, or any precomputed ``pairs=``) and pick
    each cluster's survivor by quality (:func:`canonical_keep_best`).
    This is the operator entry point a 100 TB run calls; conformance
    registrations pin ``pair_source="jaccard"`` so the DuckDB oracle can
    replay the exact pair set.

    ``df`` must carry ``id_col``, ``text_col`` and whatever ``score_col``
    reads.  Returns ``df`` plus (cluster_id, cluster_size, keep)."""
    p = near_dup_pairs(
        df, id_col, text_col, pairs=pairs, pair_source=pair_source,
        n=n, threshold=threshold, num_hashes=num_hashes, bands=bands,
    ).select("doc_a", "doc_b")
    return canonical_keep_best(df, p, id_col, score_col)


def dedup_threshold_curve(
    df: DataFrame,
    id_col: str,
    text_col: str,
    thresholds: tuple[float, ...] | list[float],
    *,
    pairs: DataFrame | None = None,
    pair_source: str = "minhash",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Dedup-savings threshold curve in ONE pair pass: pairs are
    generated once at the LOOSEST candidate threshold
    (``min(thresholds)``), then every threshold's qualifying pair volume
    and removable-doc estimate (distinct larger-id members — exact for
    star clusters, an upper bound in general) come from a
    |pairs|×|thresholds| join with a literal thresholds frame.

    Pair source is pluggable (:func:`near_dup_pairs`): MinHash-LSH by
    default — the knob-tuning what-if a production run does BEFORE a
    full keep-first pass should itself run at production scale — with
    ``pair_source="jaccard"`` as the exact oracle-gated mode.

    Returns (threshold, n_pairs, n_removable) sorted by threshold."""
    lo = min(thresholds)
    jp = near_dup_pairs(
        df, id_col, text_col, pairs=pairs, pair_source=pair_source,
        n=n, threshold=lo, num_hashes=num_hashes, bands=bands,
    ).select(
        "doc_a", "doc_b", F.round(col("jaccard") + lit(1e-9), 6).alias("j")
    ).transform(pin)
    th = df.sparkSession.createDataFrame(
        [(float(t),) for t in thresholds], "threshold double"
    )
    return (
        th.join(jp, jp["j"] >= th["threshold"], "left")
        .groupBy("threshold")
        .agg(
            F.count("j").cast("long").alias("n_pairs"),
            F.count_distinct("doc_b").cast("long").alias("n_removable"),
        )
        .orderBy("threshold")
    )


#: size cap for the gate audit's SOURCE frame (estimated 8-byte units).
#: The exact-Jaccard truth side is a shingle self-join — superlinear in
#: the source — so the audit refuses data-sized frames the same way the
#: ANN audits refuse data-sized query panels (similarity.
#: AUDIT_QUERY_CAP_UNITS).  Hand it a bounded deterministic sample
#: (sampling.hash_top_n): its GlobalLimit carries a row-bounded size
#: estimate, so the gate passes at ANY corpus scale, while a raw
#: (even filtered) table scan keeps the full-scan estimate and trips.
AUDIT_SOURCE_CAP_UNITS = 64_000


def near_dup_gate_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    max_source_units: int | None = AUDIT_SOURCE_CAP_UNITS,
) -> DataFrame:
    """Candidate-generator quality audit: precision AND recall of the
    raw MinHash-LSH candidate set against exact n-gram-Jaccard ground
    truth, in one plan.

    The production gate (:func:`minhash_dedup_pairs`) verifies its
    candidates with exact Jaccard, so its PRECISION is structural — but
    a pair the bands never bucket together is silently lost, and that
    RECALL loss is invisible to the gate itself (the S-curve
    1-(1-s^r)^b only bounds it in expectation, per signature seed).
    This is the periodic re-measurement a deployment runs on a bounded
    SAMPLE (the exact side is a shingle self-join — the audit's
    intrinsic cost; hand this a sampled frame, the same posture as the
    q25 oracle twin vs the q28 production path).  The sample contract
    is ENFORCED fail-closed: a source whose size estimate exceeds
    ``max_source_units`` (or has no estimate at all) raises instead of
    silently melting at scale — pass :func:`~.sampling.hash_top_n`
    output, whose GlobalLimit carries a bounded estimate.

    Returns ONE row: (n_true, n_candidates, n_hits, cand_precision,
    cand_recall) where cand_precision = hits/candidates (how much
    verify work the bands waste) and cand_recall = hits/true (what
    fraction of real near-dup pairs the bands surface at all).  Three
    model-sized single-row aggregates cross-joined — the scalar-cross
    shape, no data-sized frame crosses.
    """
    from ..core.guards import estimated_source_units
    from ..functions.scalar import rnd

    if (
        max_source_units is not None
        and estimated_source_units(df, bytes_per_unit=8) > max_source_units
    ):
        raise ValueError(
            "near-dup gate audit: the source frame's size estimate exceeds "
            "the audit budget — the exact-Jaccard truth side is a shingle "
            "self-join; hand a bounded deterministic sample "
            "(sampling.hash_top_n) instead of a data-sized frame"
        )
    rows_per_band = num_hashes // bands
    truth = jaccard_pairs(
        df, id_col, text_col, n=n, threshold=threshold
    ).select("doc_a", "doc_b")
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes)
    cand = lsh_candidate_pairs(sigs, bands, rows_per_band)
    n_true = truth.agg(F.count("*").cast("long").alias("n_true"))
    n_cand = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    n_hits = (
        truth.join(cand, ["doc_a", "doc_b"])
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(n_hits)
        .select(
            "n_true",
            "n_candidates",
            "n_hits",
            rnd(
                col("n_hits") / F.nullif(col("n_candidates").cast("double"), lit(0.0)),
                6,
            ).alias("cand_precision"),
            rnd(
                col("n_hits") / F.nullif(col("n_true").cast("double"), lit(0.0)), 6
            ).alias("cand_recall"),
        )
    )


# ---------------------------------------------------------------------------
# incremental EMBEDDING near-dup: the q147 refresh story on the semantic side
# ---------------------------------------------------------------------------


def embedding_bucket_table(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The corpus' hyperplane-LSH INDEX for embedding near-dup: one
    (doc, bucket) row per vector — the artifact a production pipeline
    PERSISTS (write partitioned/bucketed by ``bucket``) so semantic
    refreshes never re-bucket the standing corpus.  One long per
    vector: at 370M vectors that's a few GB vs re-scanning the full
    embedding column on every refresh."""
    from . import similarity

    return df.select(
        col(id_col).alias("doc"),
        similarity.lsh_bucket(similarity.as_double_array(vec_col), planes).alias(
            "bucket"
        ),
    )


def incremental_embedding_classify(
    batch: DataFrame,
    standing: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    standing_buckets: DataFrame | None = None,
) -> DataFrame:
    """Classify an incoming batch against the standing corpus by
    SEMANTIC near-duplicate (cosine ≥ threshold over hyperplane-LSH
    candidates) — :func:`incremental_minhash_classify`'s refresh shape
    on the embedding side, for the leaks lexical bands can't see
    (paraphrases, templated rewrites, re-encodes).  Statuses match the
    text twin: ``dup_vs_corpus`` / ``dup_in_batch`` (verified match to
    an earlier, smaller-id batch vector — keep-first) / ``new``.

    Scale shape: the standing corpus contributes its (doc, bucket)
    index (``standing_buckets``, normally read from the persisted
    :func:`embedding_bucket_table` output) plus the VECTORS OF
    CANDIDATE MATCHES ONLY (one left-semi prune before the verify
    join), so join/shuffle volume is O(batch + matches); the standing
    side is touched only by the index read and one column-pruned scan
    for the candidate vectors — the q147 contract, embedding edition.
    Verify predicates compare the cosine at the repo's 6-dp rounding
    grain (``round(cos + 1e-9, 6) >= threshold``) so the decision is
    replayable cross-engine with zero FP boundary risk."""
    from . import similarity

    b_idx = embedding_bucket_table(batch, planes, id_col, vec_col)
    if standing_buckets is None:
        standing_buckets = embedding_bucket_table(standing, planes, id_col, vec_col)
    cand = (
        b_idx.select(col("doc").alias("bd"), "bucket")
        .join(standing_buckets.select(col("doc").alias("sd"), "bucket"), "bucket")
        .select("bd", "sd")
        .distinct()
    )
    bvec = batch.select(
        col(id_col).alias("bd"), similarity.as_double_array(vec_col).alias("bv")
    )
    sd_ids = cand.select(col("sd").alias(id_col)).distinct()
    svec = standing.join(sd_ids, id_col, "left_semi").select(
        col(id_col).alias("sd"), similarity.as_double_array(vec_col).alias("sv")
    )
    vcross = (
        cand.join(bvec, "bd")
        .join(svec, "sd")
        .filter(
            F.round(similarity.cosine(col("bv"), col("sv")) + lit(1e-9), 6)
            >= threshold
        )
        .select(col("bd").alias("__vs"))
        .distinct()
    )
    vbatch = (
        embedding_near_dup_pairs(
            batch, id_col, vec_col, threshold=threshold, planes=planes
        )
        .select(col("doc_b").alias("__vb"))
        .distinct()
    )
    return (
        batch.join(vcross, batch[id_col] == col("__vs"), "left")
        .join(vbatch, batch[id_col] == col("__vb"), "left")
        .withColumn(
            "status",
            F.when(col("__vs").isNotNull(), lit("dup_vs_corpus"))
            .when(col("__vb").isNotNull(), lit("dup_in_batch"))
            .otherwise(lit("new")),
        )
        .drop("__vs", "__vb")
    )


def incremental_embedding_report(
    batch: DataFrame,
    standing: DataFrame,
    planes: list[list[float]],
    group_col: str,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    standing_buckets: DataFrame | None = None,
) -> DataFrame:
    """Per-group report over :func:`incremental_embedding_classify` —
    same columns as ``incremental_minhash_report``:
    ``n_batch = n_dup_vs_corpus + n_dup_in_batch + n_new``."""
    st = incremental_embedding_classify(
        batch, standing, planes, threshold, id_col, vec_col, standing_buckets
    )
    return (
        st.groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_batch"),
            F.sum((col("status") == "dup_vs_corpus").cast("long"))
            .cast("long")
            .alias("n_dup_vs_corpus"),
            F.sum((col("status") == "dup_in_batch").cast("long"))
            .cast("long")
            .alias("n_dup_in_batch"),
            F.sum((col("status") == "new").cast("long")).cast("long").alias("n_new"),
        )
        .orderBy(group_col)
    )


# ---------------------------------------------------------------------------
# b-bit minwise hashing: the MinHash signature's storage-scale compression
# ---------------------------------------------------------------------------


def bbit_pack(signature: Column, num_hashes: int, b: int = 1) -> Column:
    """Pack the lowest ``b`` bits of each md5-hex MinHash component into
    ONE long — b-bit minwise hashing (Li & König, WWW'10).  A
    16-component hex-string signature (≥128 bytes) becomes ``16·b``
    bits: at b=1 that is a 16× storage cut on the dedup index, and pair
    comparison collapses to one XOR + bit_count instead of 16 string
    equality tests.  Requires ``num_hashes · b ≤ 63`` (one long).

    The low b bits of a uniform hash are uniform, so component i of two
    docs collides with probability ``J + (1 − J)/2^b`` — estimation
    inverts that (:func:`bbit_jaccard`).  Bits come from the LAST hex
    digit of each component (``b ≤ 4``), identically derivable by a SQL
    oracle."""
    if num_hashes * b > 63:
        raise ValueError(f"num_hashes*b must fit a long, got {num_hashes}x{b}")
    if not 1 <= b <= 4:
        raise ValueError(f"b must be in 1..4 (one hex digit), got {b}")
    # unrolled over Python ints (shiftleft's bit count must be a literal);
    # num_hashes is small by contract, so the expression stays linear
    terms = [
        F.shiftleft(
            F.conv(F.substring(F.element_at(signature, i + 1), 8, 1), 16, 10)
            .cast("long")
            % lit(1 << b),
            i * b,
        )
        for i in range(num_hashes)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def bbit_jaccard(packed_a: Column, packed_b: Column, num_hashes: int, b: int = 1) -> Column:
    """Unbiased Jaccard estimate from two b-bit packed signatures:
    ``Ĵ = (ĉ − 2^{−b}) / (1 − 2^{−b})`` where ĉ is the fraction of
    matching b-bit groups (components whose XOR group is all-zero).
    Small-k noise can push the estimate below 0 — left raw (clamping
    would bias the calibration report this feeds)."""
    xorv = packed_a.bitwiseXOR(packed_b)
    mask = lit((1 << b) - 1).cast("long")
    parts = [
        F.when(
            F.shiftrightunsigned(xorv, i * b).bitwiseAND(mask) == 0, lit(1)
        ).otherwise(lit(0))
        for i in range(num_hashes)
    ]
    matches = parts[0]
    for p in parts[1:]:
        matches = matches + p
    c_hat = matches / lit(float(num_hashes))
    r = 1.0 / float(1 << b)
    return (c_hat - lit(r)) / lit(1.0 - r)


def bbit_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    b: int = 1,
) -> DataFrame:
    """q95's estimate-vs-exact calibration, extended one tier down the
    storage ladder: on the LSH candidate pairs, the FULL-signature
    estimate (matching components / k), the b-BIT packed estimate
    (:func:`bbit_jaccard` — 16× smaller index at b=1), and the exact
    shingle Jaccard, bucketed by the exact value.  The report is what
    sizes the compression decision before a 100 TB dedup run: whether
    the b-bit tier's extra variance is tolerable at the thresholds the
    gates use.  Exact verification stays LSH-bounded (candidates only)."""
    from ..functions.scalar import rnd

    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes)
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band)
    packed = sigs.select(
        "doc", "signature", bbit_pack(col("signature"), num_hashes, b).alias("packed")
    )
    sa = packed.select(
        col("doc").alias("doc_a"),
        col("signature").alias("sig_a"),
        col("packed").alias("pk_a"),
    )
    sb = packed.select(
        col("doc").alias("doc_b"),
        col("signature").alias("sig_b"),
        col("packed").alias("pk_b"),
    )
    agree = F.size(
        F.filter(
            F.zip_with(col("sig_a"), col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    est = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            rnd(agree / lit(float(num_hashes)), 6).alias("est_full"),
            rnd(bbit_jaccard(col("pk_a"), col("pk_b"), num_hashes, b), 6).alias(
                "est_bbit"
            ),
        )
    )
    # exact side in the ARRAY form (minhash_dedup_pairs' shape): one
    # per-doc shingle-SET frame joined per candidate endpoint, never the
    # exploded (doc, shingle) table — at 100× data Catalyst mis-sizes
    # the exploded frame and BROADCASTS hundreds of millions of rows
    # (observed OOM on the 100× fixture, r12); the array form keeps the
    # exact check candidate-bounded with id-keyed joins only
    per_doc = doc_shingles(df, id_col, text_col, n)
    da = per_doc.select(col("doc").alias("doc_a"), col("sh").alias("sh_a"))
    db = per_doc.select(col("doc").alias("doc_b"), col("sh").alias("sh_b"))
    n_common = F.size(F.array_intersect(col("sh_a"), col("sh_b")))
    ex = (
        cands.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            rnd(
                n_common
                / (F.size("sh_a") + F.size("sh_b") - n_common),
                6,
            ).alias("ex_j"),
        )
    )
    return (
        est.join(ex, ["doc_a", "doc_b"])
        .withColumn(
            "exact_bucket",
            F.least(F.floor(col("ex_j") * 5), lit(4)).cast("long"),
        )
        .groupBy("exact_bucket")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            rnd(F.avg("ex_j"), 6).alias("avg_exact"),
            rnd(F.avg("est_full"), 6).alias("avg_est_full"),
            rnd(F.avg("est_bbit"), 6).alias("avg_est_bbit"),
            rnd(F.avg(col("est_full") - col("ex_j")), 6).alias("bias_full"),
            rnd(F.avg(col("est_bbit") - col("ex_j")), 6).alias("bias_bbit"),
        )
        .orderBy("exact_bucket")
    )


# ---------------------------------------------------------------------------
# cross-document segment-level dedup (the CCNet line-dedup shape)
# ---------------------------------------------------------------------------

def segment_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_len: int = 8,
    group_col: str | None = "lang",
) -> DataFrame:
    """Explode each document into consecutive fixed-width token segments
    — the unit CCNet-style pipelines hash for line-level dedup.  Real web
    corpora split on newlines; this corpus's documents are single-line
    token streams, so the "line" is a ``seg_len``-token window (the last
    segment keeps its partial tail).  One explode, no shuffle: segment
    index ``seg_idx`` is 1-based, ``seg_text`` is the space-joined slice,
    ``seg_tokens`` its token count.  NULL-text documents yield no
    segments (the DuckDB convention — without the filter,
    ``size(null) = -1`` would turn ``sequence(1, 0)`` into the
    DESCENDING array [1, 0] and emit two phantom rows)."""
    tk = tokens(text_col)
    n_segs = F.ceil(F.size(col("__tk")) / lit(float(seg_len))).cast("int")
    carry = [col(group_col)] if group_col else []
    return (
        df.filter(col(text_col).isNotNull())
        .select(col(id_col), *carry, tk.alias("__tk"))
        .select(
            col(id_col),
            *carry,
            F.explode(F.sequence(lit(1), n_segs)).alias("seg_idx"),
            col("__tk"),
        )
        .select(
            col(id_col),
            *carry,
            col("seg_idx"),
            F.array_join(
                F.slice(col("__tk"), (col("seg_idx") - 1) * seg_len + 1, seg_len),
                " ",
            ).alias("seg_text"),
            F.size(
                F.slice(col("__tk"), (col("seg_idx") - 1) * seg_len + 1, seg_len)
            ).cast("long").alias("seg_tokens"),
        )
    )


def segment_dedup_report(
    df: DataFrame,
    seg_len: int = 8,
    boiler_df: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Cross-document segment-level dedup report (CCNet's line dedup,
    adapted to fixed-width token segments): every occurrence of a segment
    hash after the FIRST (global (doc_id, seg_idx) order) is a removable
    duplicate, and hashes seen in >= ``boiler_df`` distinct documents are
    boilerplate — the chrome/footer class that document-level dedup never
    catches because the surrounding text differs.

    Scale shape — AGGREGATES ONLY, no windows: a window partitioned on
    the segment hash would funnel every occurrence of a hot boilerplate
    hash (a cookie banner in billions of documents) into ONE task, and
    AQE can split skewed JOIN partitions but not skewed windows.
    Instead: (1) ONE groupBy (group, hash) over the occurrences with
    map-side partial aggregation — a hot hash collapses to ≤|groups|
    rows per map partition before it ever shuffles — computing count,
    tokens, the group-local first (``min(struct(doc, idx, tokens))``,
    an order-free mergeable aggregate) and the group-local distinct-doc
    count; (2) the GLOBAL first and distinct-doc count fold from that
    hash-cardinality frame (``group_col`` is a per-DOCUMENT attribute —
    a document's occurrences all carry its group — so distinct-doc
    counts are additive across groups); (3) a join of the two
    aggregate frames; (4) the group-cardinality rollup.  One data-sized
    shuffle total, every stage mergeable.

    Per language: documents, segment occurrences, duplicate occurrences
    removed (keep-first in global (doc_id, seg_idx) order), boilerplate
    occurrences (informational — they overlap duplicates), token totals
    and the removed-token percentage.
    """
    from ..functions.scalar import rnd

    segs = segment_table(
        df, id_col=id_col, text_col=text_col, seg_len=seg_len,
        group_col=group_col,
    )
    occ = segs.withColumn("__h", F.md5(col("seg_text")))
    first_struct = F.struct(col(id_col), col("seg_idx"), col("seg_tokens"))
    per_gh = occ.groupBy(col(group_col), col("__h")).agg(
        F.count("*").cast("long").alias("__n_occ"),
        F.sum("seg_tokens").cast("long").alias("__tok"),
        F.min(first_struct).alias("__gfirst"),
        F.countDistinct(col(id_col)).cast("long").alias("__gddf"),
    )
    firsts = per_gh.groupBy("__h").agg(
        F.min("__gfirst").alias("__first"),
        F.sum("__gddf").alias("__ddf"),
    )
    joined = per_gh.join(firsts, "__h").withColumn(
        "__keeps_first", col("__gfirst") == col("__first")
    )
    # null-safe group key: an inner equi-join would silently drop the
    # NULL-group row both frames carry (the oracle's GROUP BY keeps it)
    n_docs = (
        df.filter(col(text_col).isNotNull())
        .groupBy(group_col)
        .agg(F.countDistinct(col(id_col)).cast("long").alias("n_docs"))
        .withColumnRenamed(group_col, "__g")
    )
    stats = joined.groupBy(group_col).agg(
        F.sum("__n_occ").cast("long").alias("n_segments"),
        F.sum(
            col("__n_occ") - col("__keeps_first").cast("long")
        ).cast("long").alias("n_dup_segments"),
        F.sum(
            F.when(col("__ddf") >= boiler_df, col("__n_occ")).otherwise(lit(0))
        ).cast("long").alias("n_boiler_segments"),
        F.sum("__tok").cast("long").alias("total_tokens"),
        F.sum(
            col("__tok")
            - F.when(col("__keeps_first"), col("__first.seg_tokens")).otherwise(
                lit(0)
            )
        ).cast("long").alias("removed_tokens"),
    )
    return (
        n_docs.join(stats, col("__g").eqNullSafe(col(group_col)))
        .drop("__g")
        .withColumn(
            "removed_pct",
            rnd(lit(100.0) * col("removed_tokens") / F.nullif(col("total_tokens"), lit(0)), 4),
        )
        .select(
            group_col,
            "n_docs",
            "n_segments",
            "n_dup_segments",
            "n_boiler_segments",
            "total_tokens",
            "removed_tokens",
            "removed_pct",
        )
        .orderBy(group_col)
    )


# ---------------------------------------------------------------------------
# soft dedup: repeat discounting (data-constrained scaling)
# ---------------------------------------------------------------------------

def soft_dedup_report(
    df: DataFrame,
    pairs: DataFrame,
    delta: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Soft dedup: instead of the keep-one/drop-rest binary, weight the
    j-th copy inside a duplicate cluster by ``delta^(j-1)`` — the
    repeat-discounting view of data-constrained scaling (repeated data
    decays in value but is not worthless; Muennighoff et al. 2023).
    The report prices the corpus three ways per group: raw tokens,
    hard-dedup unique tokens (copy 1 only), and the soft-value tokens —
    the number an epoch-allocation planner (q121) should budget with.

    ``pairs`` is any symmetric-free (doc_a < doc_b) near-dup pair frame:
    exact Jaccard for the oracle-checked registration, the MinHash-LSH
    production path (:func:`minhash_dedup_pairs`) at 100 TB.  Clusters
    close under transitivity via alternating-star connected components;
    unpaired docs are singletons (``coalesce`` — no join blowup).  Copy
    rank orders by id inside the cluster: a window over cluster ids,
    whose sizes the upstream pair gate bounds.  delta=0.5 keeps every
    per-copy weight an exact binary fraction, so the sums are
    FP-deterministic cross-engine.
    """
    from ..functions.scalar import rnd
    from . import graph as _graph

    cc = _graph.connected_components(pairs.select("doc_a", "doc_b"))
    toks = df.select(
        col(id_col),
        col(group_col),
        F.size(tokens(text_col)).cast("long").alias("__n_tok"),
    )
    cl = toks.join(
        cc.select(col("node").alias(id_col), col("component")),
        id_col,
        "left",
    ).withColumn("__cluster", F.coalesce(col("component"), col(id_col)))
    j = F.row_number().over(
        Window.partitionBy("__cluster").orderBy(col(id_col))
    )
    ranked = cl.withColumn("__j", j).withColumn(
        "__value", F.pow(lit(float(delta)), col("__j") - 1) * col("__n_tok")
    )
    return (
        ranked.groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("__cluster").cast("long").alias("n_clusters"),
            F.sum("__n_tok").cast("long").alias("raw_tokens"),
            F.sum(F.when(col("__j") == 1, col("__n_tok")).otherwise(lit(0)))
            .cast("long")
            .alias("unique_tokens"),
            F.sum((col("__j") > 1).cast("long")).cast("long").alias("n_repeat_docs"),
            rnd(F.sum("__value"), 4).alias("soft_tokens"),
            rnd(F.sum("__value") / F.sum("__n_tok"), 6).alias("soft_utilization"),
        )
        .orderBy(group_col)
    )


# ---------------------------------------------------------------------------
# incremental segment-level dedup (the q147/q163 refresh contract for q174)
# ---------------------------------------------------------------------------

def segment_index_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_len: int = 8,
) -> DataFrame:
    """The standing corpus' segment-hash index: one row per DISTINCT
    segment hash with its first occurrence — the persistable side of
    incremental segment dedup (write once, append per batch; the
    :func:`lsh_band_table` / :func:`embedding_bucket_table` contract).
    min_by keeps the (doc, idx) that the batch classifier reports as
    the original.  No group column is carried — the index is pure
    (hash → first occurrence), usable against any batch schema."""
    segs = segment_table(
        df, id_col=id_col, text_col=text_col, seg_len=seg_len, group_col=None
    )
    return (
        segs.withColumn("__h", F.md5(col("seg_text")))
        .groupBy("__h")
        .agg(
            F.min(F.struct(col(id_col), col("seg_idx"))).alias("__first"),
        )
        .select(
            col("__h").alias("seg_hash"),
            col(f"__first.{id_col}").alias("first_doc"),
            col("__first.seg_idx").alias("first_idx"),
        )
    )


def incremental_segment_classify(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_len: int = 8,
    group_col: str | None = "lang",
    small_batch: bool | None = None,
) -> DataFrame:
    """Classify every segment occurrence of a NEW batch against a
    standing segment index: ``dup_vs_corpus`` (hash already indexed),
    ``dup_in_batch`` (first occurrence is earlier in this batch), or
    ``new``.  Join/shuffle volume is O(batch segments + matches): the
    batch side explodes only the batch, the index side is a
    column-pruned read of the persisted hash table, and the
    within-batch keep-first window partitions on the batch's own
    hashes.  The standing corpus' TEXT is never touched — exactly the
    q147/q163 refresh economics at segment grain."""
    segs = segment_table(
        batch, id_col=id_col, text_col=text_col, seg_len=seg_len,
        group_col=group_col,
    ).withColumn("__h", F.md5(col("seg_text")))
    w = Window.partitionBy("__h").orderBy(col(id_col), col("seg_idx"))
    ranked = segs.withColumn("__rn", F.row_number().over(w))
    hit = index.select(col("seg_hash").alias("__h"), lit(True).alias("__in_corpus"))
    if small_batch is None:
        # checkpointed inputs (the streaming face pins micro-batches)
        # have no optimizer estimate and would fall back to 'huge' —
        # callers that KNOW the batch is small pass small_batch=True
        small_batch = _estimated_size_bytes(batch) <= 32 * 1024 * 1024
    if small_batch:
        # Batch ≪ index (the refresh contract): a LEFT join can only
        # broadcast its RIGHT side, so the naive form sort-merge
        # SHUFFLES the whole standing index per increment.  Instead,
        # two batch-side broadcasts: (1) stream-scan the index once
        # against the broadcast batch-hash set (left-semi, no index
        # shuffle, hash column pruned at the parquet scan), (2) mark
        # the batch with the ≤|batch|-sized intersection broadcast
        # back.  The distinct on the intersection also makes duplicate
        # index hashes (possible across per-increment slices) harmless.
        bh = ranked.select("__h").distinct()
        matched = (
            hit.select("__h")
            .join(F.broadcast(bh), "__h", "left_semi")
            .distinct()
            .withColumn("__in_corpus", lit(True))
        )
        hit = F.broadcast(matched)
    else:
        # Same one-row-per-segment guarantee as the small-batch path's
        # intersection distinct: the standing index may hold a hash in
        # several per-increment slices (base ∪ slices union), and a
        # plain left join would emit one row per slice occurrence,
        # double-counting dup_vs_corpus downstream (ADVICE r13).  The
        # dedup keys the same shuffle the join needs, so AQE coalesces
        # it into the join exchange rather than adding a second pass
        # over the batch side.
        hit = hit.dropDuplicates(["__h"])
    return (
        ranked.join(hit, "__h", "left")
        .withColumn(
            "status",
            F.when(col("__in_corpus"), lit("dup_vs_corpus"))
            .when(col("__rn") > 1, lit("dup_in_batch"))
            .otherwise(lit("new")),
        )
        .drop("__in_corpus", "__rn")
    )


def incremental_segment_report(
    batch: DataFrame,
    standing: DataFrame,
    seg_len: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Per-group refresh report: segment occurrences by status plus the
    tokens a keep-first writer would drop (both dup classes are
    removable).  ``n_segments = n_dup_vs_corpus + n_dup_in_batch +
    n_new`` by construction."""
    from ..functions.scalar import rnd

    st = incremental_segment_classify(
        batch,
        segment_index_table(standing, id_col, text_col, seg_len),
        id_col,
        text_col,
        seg_len,
        group_col=group_col,
    )
    return (
        st.groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            F.sum((col("status") == "dup_vs_corpus").cast("long"))
            .cast("long")
            .alias("n_dup_vs_corpus"),
            F.sum((col("status") == "dup_in_batch").cast("long"))
            .cast("long")
            .alias("n_dup_in_batch"),
            F.sum((col("status") == "new").cast("long"))
            .cast("long")
            .alias("n_new"),
            F.sum("seg_tokens").cast("long").alias("total_tokens"),
            F.sum(
                F.when(col("status") != "new", col("seg_tokens")).otherwise(lit(0))
            )
            .cast("long")
            .alias("removable_tokens"),
        )
        .withColumn(
            "removable_pct",
            rnd(
                lit(100.0)
                * col("removable_tokens")
                / F.nullif(col("total_tokens"), lit(0)),
                4,
            ),
        )
        .orderBy(group_col)
    )


def remove_duplicated_segments(
    df: DataFrame,
    seg_len: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The WRITER twin of :func:`segment_dedup_report`: materialize the
    keep-first decision by rebuilding every document from only the
    segments that are the globally-first occurrence of their hash.
    Returns (id, clean_text, kept_tokens) — a document whose every
    segment was seen before comes back with EMPTY text and 0 tokens
    (the caller decides whether to drop emptied rows); a document whose
    text was NULL stays NULL (dedup didn't empty it — it was never
    text), so the two cases remain distinguishable downstream.

    Scale shape: the keep filter is a JOIN against the hash-cardinality
    firsts frame (AQE can split a skewed join partition — the reason
    the report avoids hash windows applies here too), and reassembly is
    a per-document groupBy whose collect_list is bounded by document
    length; array_sort on (seg_idx, seg_text) makes the rebuilt text
    layout-independent."""
    segs = segment_table(
        df, id_col=id_col, text_col=text_col, seg_len=seg_len, group_col=None
    )
    occ = segs.withColumn("__h", F.md5(col("seg_text")))
    pos = F.struct(col(id_col), col("seg_idx"))
    firsts = occ.groupBy("__h").agg(F.min(pos).alias("__first"))
    kept = occ.join(firsts, "__h").filter(pos == col("__first"))
    rebuilt = kept.groupBy(col(id_col)).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg_text"))),
                lambda s: s["seg_text"],
            ),
            " ",
        ).alias("clean_text"),
        F.sum("seg_tokens").cast("long").alias("kept_tokens"),
    )
    return (
        df.select(col(id_col), col(text_col).isNotNull().alias("__had_text"))
        .join(rebuilt, id_col, "left")
        .select(
            col(id_col),
            F.when(
                col("__had_text"), F.coalesce(col("clean_text"), lit(""))
            ).alias("clean_text"),
            F.coalesce(col("kept_tokens"), lit(0)).cast("long").alias("kept_tokens"),
        )
    )
