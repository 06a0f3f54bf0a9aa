"""Benchmark decontamination: flag training documents that share any
word n-gram with an evaluation/benchmark set.

This is the standard pre-training hygiene step (the n-gram-overlap
decontamination used by GPT-3/PaLM/Llama data pipelines): an eval
example "leaks" into training if a training document contains any of
its n-grams, so those documents must be dropped (or the spans redacted)
before training.

Scale shape — the design constraint is that the CORPUS side is 100 TB
while the BENCHMARK side is tiny (thousands of eval examples):

- benchmark n-grams: explode → distinct — a small table (|bench| ×
  grams/doc), eligible for auto-broadcast;
- corpus side: explode its n-grams and LEFT SEMI join against the
  benchmark grams on the gram string.  With the benchmark broadcast
  this is a map-side hash probe: ONE pass over the corpus, no shuffle
  of corpus data, and the semi join short-circuits per row;
- contaminated doc ids come out of a distinct on (doc_id), which
  shuffles only the (tiny) matching subset.

The document-level gate (:func:`flag_contaminated` /
:func:`decontaminate`) joins on ``xxhash64`` gram VALUES rather than
gram strings (r15, guide §2.3 — narrower join keys): a 4-gram string is
~25-30 bytes while the hash is 8, so the broadcast hash relation, the
corpus-side explode payload and the probe comparisons all shrink ~3×.
Flag results are identical absent a 64-bit hash collision between a
corpus gram and a DIFFERENT benchmark gram — the same documented trade
the position-gram span operators (``dedup.position_grams``) and the r14
hashed-verify joins already make; the oracle checks stay green because
collisions at test scale are ~0 (and any collision only ever flags a
strict superset — false positives, never false negatives — matching
the Bloom-style decontam posture of production pipelines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from . import text

#: broadcast cap for BENCHMARK-derived gram frames, in estimated
#: benchmark tokens (each token starts ≤ 1 n-gram, so gram count ≤
#: token count).  Same rationale and machinery as lm's held-out model
#: cap: a typical eval suite is thousands of examples and broadcasts
#: fine, but "bounded by the benchmark" is not the same as
#: executor-sized once someone points this at a mega-benchmark union —
#: above the cap the semi join falls back to a gram-keyed sort-merge.
BENCH_BROADCAST_CAP_TOKENS = 4_000_000


def _bench_side(bench: DataFrame):
    from ..core.guards import estimated_source_units, reference_join_side

    return reference_join_side(
        estimated_source_units(bench, bytes_per_unit=8)
        <= BENCH_BROADCAST_CAP_TOKENS
    )


def word_ngrams(
    text_col: Column | str, n: int, toks: Column | None = None
) -> Column:
    """Distinct word n-grams ('tok tok tok') of lower-cased text.  Docs
    shorter than n tokens yield their whole text as one gram (matching
    the eval-leak intuition: a 3-token doc can still be a verbatim
    benchmark answer).  ``toks``: optional pre-computed token array
    (tokenize-once pipelines)."""
    if toks is None:
        toks = text.tokens(text_col)
    k = F.size(toks)
    n_grams = F.greatest(k - lit(n - 1), lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(lit(1), n_grams),
            lambda i: F.concat_ws(" ", F.slice(toks, i, lit(n))),
        )
    )


def word_ngram_hashes(
    text_col: Column | str, n: int, toks: Column | None = None
) -> Column:
    """Distinct ``xxhash64`` values of the word n-grams of
    :func:`word_ngrams` — the 8-byte join-key form (guide §2.3): the
    hash is applied INSIDE the gram transform, so the ~25-30-byte gram
    strings never become array elements, explode payloads or join keys;
    only longs do.  ``array_distinct`` over the hashes equals distinct
    over the strings absent a 64-bit collision (module docstring)."""
    if toks is None:
        toks = text.tokens(text_col)
    k = F.size(toks)
    n_grams = F.greatest(k - lit(n - 1), lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(lit(1), n_grams),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, lit(n)))),
        )
    )


def benchmark_grams(bench: DataFrame, n: int, text_col: str = "text") -> DataFrame:
    """The benchmark's distinct n-gram set (small; broadcast at the join)."""
    return (
        bench.select(F.explode(word_ngrams(text_col, n)).alias("gram"))
        .distinct()
    )


def benchmark_gram_hashes(
    bench: DataFrame, n: int, text_col: str = "text"
) -> DataFrame:
    """The benchmark's distinct gram-HASH set (8-byte rows; ~3× smaller
    broadcast than the string form of :func:`benchmark_grams`)."""
    return (
        bench.select(F.explode(word_ngram_hashes(text_col, n)).alias("gram"))
        .distinct()
    )


def flag_contaminated(
    corpus: DataFrame,
    bench: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    toks_col: str | None = None,
) -> DataFrame:
    """Ids of corpus documents sharing ≥ 1 word n-gram with the benchmark.

    The corpus is exploded to (id, gram-hash) and semi-joined against
    the broadcast benchmark gram-hash set — corpus rows never shuffle,
    and both the explode payload and the broadcast probe carry 8-byte
    ``xxhash64`` values instead of gram strings (module docstring: flag
    set identical absent a 64-bit collision, and any collision only
    over-flags).  ``toks_col``: optional pre-computed token-array column
    on the CORPUS side (tokenize-once pipelines; the tiny benchmark side
    always tokenizes from ``text_col``).  The gram set broadcasts while
    the benchmark's size estimate stays under the cap; beyond it the
    semi join takes a gram-keyed sort-merge instead of OOMing
    executors."""
    grams = _bench_side(bench)(benchmark_gram_hashes(bench, n, text_col))
    corpus_toks = col(toks_col) if toks_col is not None else None
    return (
        corpus.select(
            col(id_col),
            F.explode(word_ngram_hashes(text_col, n, toks=corpus_toks)).alias(
                "gram"
            ),
        )
        .join(grams, "gram", "left_semi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    toks_col: str | None = None,
) -> DataFrame:
    """The curation-gate form: corpus minus contaminated documents
    (left-anti join on the flagged id set)."""
    bad = flag_contaminated(corpus, bench, n, id_col, text_col, toks_col)
    return corpus.join(bad, id_col, "left_anti")


def redact_contaminated_spans(
    corpus: DataFrame,
    bench: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """SPAN-level decontamination: instead of dropping whole documents
    (:func:`decontaminate` — which throws away every clean token of a
    document that quotes one benchmark line), drop only the token
    positions covered by a benchmark n-gram and rebuild the text —
    what production pipelines do when the corpus is expensive.

    Returns one row per corpus document: ``keep_cols``, ``n_tokens``,
    ``n_removed``, ``text_clean``.

    Scale shape: the corpus position table carries xxhash64 gram values;
    the benchmark gram-hash set is tiny and BROADCAST, so flagging is a
    map-side semi probe — corpus rows never shuffle on the gram; the
    flagged span starts come back as one doc-keyed bounded array and
    the mask is map-side array expressions (shared machinery with
    ``dedup.remove_duplicated_spans``)."""
    from .dedup import mask_spans, position_grams, tokenized_frame

    keep_cols = keep_cols or []
    toks = tokenized_frame(corpus, id_col, text_col, keep_cols)
    pos = position_grams(toks, n)
    bench_toks = tokenized_frame(bench, id_col, text_col, [])
    bench_grams = (
        position_grams(bench_toks, n).select("gram").distinct()
    )
    starts = (
        pos.join(_bench_side(bench)(bench_grams), "gram", "left_semi")
        .groupBy("doc")
        .agg(F.collect_list("start").alias("__starts"))
    )
    return mask_spans(toks, starts, n, id_col, keep_cols)


# ---------------------------------------------------------------------------
# semantic (embedding-level) decontamination
# ---------------------------------------------------------------------------


def semantic_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-level decontamination — the companion to the n-gram
    gate for leaks a lexical match can't see (paraphrased eval items,
    translations, templated rewrites): every corpus vector's MAX cosine
    against the benchmark embedding set, with the nearest benchmark id
    and a ``contaminated`` flag at ``threshold``.

    Scale shape: the benchmark side is the bounded one (an eval suite
    is thousands of vectors), so it rides the reference-corpus
    broadcast gate (``core.guards`` — broadcast under the cap, keyless
    merge is meaningless here so over-cap raises instead of silently
    building a corpus×bench shuffle); the corpus side is ONE map-side
    pass — per row, |bench| rounded cosines — and the max/argmax is a
    PARTIAL-aggregable ``min(struct(-cos, bench_id))`` keyed on the
    already-unique corpus id, so the shuffle carries |corpus| rows,
    never |corpus|×|bench|.  The cosines are array lambdas, interpreted
    per element: per-row cost grows with |bench|·dim, so for corpora
    where that matters, shortlist first with the IVF/LSH machinery
    (similarity.ivf_topk / ann_topk) and verify survivors here — the
    q28 funnel posture.

    Cosines are nudge-rounded to 6 dp (``rnd``, BigDecimal-exact like
    the oracle's ``round``) BEFORE the max/argmax, and ties break on the
    smaller benchmark id, so the report is deterministic cross-engine.
    Zero-norm vectors (either side) score cosine 0.0 by definition —
    the IEEE alternative (0/0 = NaN) would make the argmax and the
    ``contaminated`` predicate engine-dependent (Spark orders NaN above
    every double).  Ids keep their source types (string ids work like
    longs).  Returns (id, max_cos, nearest_bench, contaminated), one row
    per corpus vector."""
    from ..core.guards import estimated_source_units
    from ..functions.scalar import rnd
    from .similarity import as_double_array, cosine

    if estimated_source_units(bench, bytes_per_unit=8) > 64_000_000:
        raise ValueError(
            "semantic_contamination: benchmark side estimate exceeds the "
            "broadcast budget — shortlist with similarity.ivf_topk/"
            "ann_topk and verify survivors instead of an all-pairs pass"
        )
    b = F.broadcast(
        bench.select(
            col(id_col).alias("__bid"), as_double_array(vec_col).alias("__bv")
        )
    )
    pairs = corpus.select(
        col(id_col), as_double_array(vec_col).alias("__cv")
    ).crossJoin(b)
    scored = pairs.select(
        id_col,
        "__bid",
        # zero-norm convention: cosine() yields NULL on a zero norm
        # (nullif guard); pin it to 0.0
        F.coalesce(rnd(cosine(col("__cv"), col("__bv")), 6), lit(0.0)).alias(
            "__cos"
        ),
    )
    # highest cosine first, then the smallest bench id: negating the
    # (exact) double leaves the id in its own type
    best = scored.groupBy(id_col).agg(
        F.min(
            F.struct((-col("__cos")).alias("nc"), col("__bid").alias("nb"))
        ).alias("__m")
    )
    return best.select(
        col(id_col),
        (-col("__m.nc")).alias("max_cos"),
        col("__m.nb").alias("nearest_bench"),
        (-col("__m.nc") >= lit(threshold)).alias("contaminated"),
    )


def contamination_union_report(
    corpus_docs: DataFrame,
    bench_docs: DataFrame,
    corpus_vecs: DataFrame,
    bench_vecs: DataFrame,
    n: int = 4,
    threshold: float = 0.3,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "lang",
) -> DataFrame:
    """The UNION decontamination gate a production pipeline actually
    ships: the lexical n-gram detector (:func:`flag_contaminated` —
    verbatim leaks) and the semantic detector
    (:func:`semantic_contamination` — paraphrases/translations the
    grams can't see) over the same corpus, with the per-group verdict
    overlap in one report.  The overlap columns are the TUNING signal:
    a large semantic-only count says the n-gram gate alone under-
    filters; a large lexical-only count at this threshold says the
    embedding space under-recalls verbatim leaks (bad encoder or
    threshold).

    ``corpus_vecs``/``bench_vecs`` carry the same ids as the doc frames
    (the document's embedding).  Scale shape: both detectors keep their
    own contracts (benchmark side broadcast-gated, corpus never
    shuffled by the lexical probe, semantic max partial-aggregable);
    the verdict join adds two LEFT joins of id-sized flag frames.
    Returns one row per group: (group, n_train, n_lexical, n_semantic,
    n_both, n_either, clean_pct)."""
    from ..functions.scalar import rnd

    lex = (
        flag_contaminated(corpus_docs, bench_docs, n, doc_id_col, text_col)
        .select(col(doc_id_col).alias("__lid"))
        .distinct()
        .withColumn("__lex", lit(1))
    )
    sem = (
        semantic_contamination(
            corpus_vecs, bench_vecs, threshold, vec_id_col, vec_col
        )
        .filter(col("contaminated"))
        .select(col(vec_id_col).alias("__sid"))
        .withColumn("__sem", lit(1))
    )
    flagged = (
        corpus_docs.select(col(doc_id_col), col(group_col))
        .join(lex, col(doc_id_col) == col("__lid"), "left")
        .join(sem, col(doc_id_col) == col("__sid"), "left")
        .select(
            col(group_col),
            F.coalesce(col("__lex"), lit(0)).alias("l"),
            F.coalesce(col("__sem"), lit(0)).alias("s"),
        )
    )
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_train"),
            F.sum("l").cast("long").alias("n_lexical"),
            F.sum("s").cast("long").alias("n_semantic"),
            F.sum(col("l") * col("s")).cast("long").alias("n_both"),
            F.sum(F.greatest(col("l"), col("s"))).cast("long").alias("n_either"),
        )
        .withColumn(
            "clean_pct",
            rnd(100.0 * (col("n_train") - col("n_either")) / col("n_train"), 4),
        )
        .orderBy(group_col)
    )


def contamination_delta_report(
    corpus: DataFrame,
    bench_old: DataFrame,
    bench_new: DataFrame,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Benchmark-VERSION delta audit: when the eval suite gains a new
    version (new tasks added to the old set), which already-shipped
    training documents become NEWLY contaminated — the re-filter
    worklist, per group, without re-running the full gate's downstream
    (docs already flagged under the old bench were never shipped).

    ``bench_new`` is the new FULL suite (old ∪ added).  Two broadcast
    gram probes over one corpus (each is :func:`flag_contaminated`'s
    map-side semi-join — no corpus shuffle); the delta is an id-sized
    anti-join.  Returns (group, n_train, n_old, n_new, n_newly,
    newly_pct): ``n_newly = n_new − |old ∩ new|`` — with old ⊆ new
    grams that is exactly the docs whose FIRST hit comes from the
    added tasks."""
    from ..functions.scalar import rnd

    old = (
        flag_contaminated(corpus, bench_old, n, id_col, text_col)
        .select(col(id_col).alias("__o"))
        .distinct()
        .withColumn("__old", lit(1))
    )
    new = (
        flag_contaminated(corpus, bench_new, n, id_col, text_col)
        .select(col(id_col).alias("__n"))
        .distinct()
        .withColumn("__new", lit(1))
    )
    flagged = (
        corpus.select(col(id_col), col(group_col))
        .join(old, col(id_col) == col("__o"), "left")
        .join(new, col(id_col) == col("__n"), "left")
        .select(
            col(group_col),
            F.coalesce(col("__old"), lit(0)).alias("o"),
            F.coalesce(col("__new"), lit(0)).alias("nw"),
        )
    )
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_train"),
            F.sum("o").cast("long").alias("n_old"),
            F.sum("nw").cast("long").alias("n_new"),
            F.sum(col("nw") * (lit(1) - col("o"))).cast("long").alias("n_newly"),
        )
        .withColumn(
            "newly_pct", rnd(100.0 * col("n_newly") / col("n_train"), 4)
        )
        .orderBy(group_col)
    )
