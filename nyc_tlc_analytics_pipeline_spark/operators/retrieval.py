"""BM25 text retrieval over the document corpus — the lexical-ranking
cousin of the embedding similarity operators (`operators/similarity`),
used in data pipelines for query-based corpus mining ("find documents
about X to upweight/inspect") and hard-negative mining.

Scale shape (the reason this is not a naive tf-idf join):

- the FIRST operation after tokenizing is ``token ∈ query_terms`` — a
  literal IN-filter that Catalyst pushes into the explode projection,
  so the (doc, token) stream entering any shuffle is |matches|, not
  |corpus tokens|;
- per-term document frequencies come from that same filtered stream —
  a |Q|-row table, broadcast back;
- corpus constants (N docs, average doc length) are a 1-row aggregate
  attached via a constant-key BROADCAST equi-join (map-side, no
  cartesian, no collect);
- one real shuffle total: the (doc, token) tf aggregation.

Scoring is standard Okapi BM25 (k1=1.2, b=0.75), with the
``ln(1 + (N-df+0.5)/(df+0.5))`` IDF form that stays positive for
high-df terms.  Every step is a column expression shared verbatim with
the DuckDB oracle (q57).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from . import text

K1 = 1.2
B = 0.75


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_cols: list[str],
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Per-document BM25 score for a bag-of-terms query.  Documents
    matching no term are absent (score 0 by definition)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]

    lengths = df.select(
        *id_cols, text.token_count(text_col).alias("dl")
    )
    # corpus constants: one 1-row aggregate, broadcast on a constant key
    const = (
        lengths.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
        ).withColumn("__k", lit(1))
    )

    hits = (
        df.select(*id_cols, F.explode(text.tokens(text_col)).alias("token"))
        .filter(col("token").isin(terms))  # pushed into the generate
        .groupBy(*id_cols, "token")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = hits.groupBy("token").agg(
        F.count_distinct(*[col(c) for c in id_cols]).alias("df_t")
    )

    scored = (
        hits.join(F.broadcast(dfreq), "token")
        .join(lengths, id_cols)
        .withColumn("__k", lit(1))
        .join(F.broadcast(const), "__k")
        .withColumn(
            "idf",
            F.log(
                lit(1.0)
                + (col("n_docs") - col("df_t") + lit(0.5))
                / (col("df_t") + lit(0.5))
            ),
        )
        .withColumn(
            "term_score",
            col("idf")
            * col("tf")
            * lit(k1 + 1.0)
            / (
                col("tf")
                + lit(k1)
                * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))
            ),
        )
    )
    return scored.groupBy(*id_cols).agg(
        F.sum("term_score").alias("bm25"),
        F.count("*").alias("n_terms_matched"),
    )


def tfidf_group_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    top_k: int = 5,
) -> DataFrame:
    """Top characteristic terms per group by aggregate TF-IDF: term
    frequency WITHIN the group × ln(N_docs / doc_freq) with doc_freq
    counted corpus-wide — the standard corpus-profiling diagnostic (what
    vocabulary distinguishes each source/language slice).

    Scale shape: one explode of the corpus into (group, doc, token),
    then two additive aggregates (per-(group, term) tf with map-side
    combine; per-term doc_freq from the distinct (doc, term) pairs) and
    a broadcast of the single N_docs scalar; ranking is a per-group
    window over the ≤ |vocab| × |groups| score table.  Nothing is
    pair-shaped and no stage holds more than the vocabulary."""
    from pyspark.sql import Window

    from ..functions.scalar import rnd

    toks = df.select(
        col(group_col).alias("grp"),
        col(id_col).alias("doc"),
        F.explode(text.tokens(text_col)).alias("term"),
    ).filter(col("term") != "")
    n_docs = df.select(id_col).distinct().count()
    tf = toks.groupBy("grp", "term").agg(F.count("*").alias("tf"))
    dfreq = (
        toks.select("doc", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("doc_freq"))
    )
    scored = tf.join(dfreq, "term").withColumn(
        "tfidf",
        rnd(col("tf") * F.log(lit(float(n_docs)) / col("doc_freq")), 6),
    )
    w = Window.partitionBy("grp").orderBy(
        col("tfidf").desc(), col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= top_k)
        .select(
            col("grp").alias(group_col),
            col("rank").cast("long").alias("rank"),
            "term",
            col("tf").cast("long").alias("tf"),
            col("doc_freq").cast("long").alias("doc_freq"),
            "tfidf",
        )
    )


# ---------------------------------------------------------------------------
# hybrid lexical + vector retrieval (reciprocal-rank fusion)
# ---------------------------------------------------------------------------

#: Cormack & Clarke (2009)'s fusion constant — dampens the head so one
#: system's #1 can't drown the other's top-5.
RRF_C = 60


def _ranked(scored: DataFrame, score_col: str, id_col: str, pool: int) -> DataFrame:
    """Deterministic top-``pool`` rank list: TakeOrderedAndProject on
    (rounded score DESC, id) pulls the pool, then a row_number over the
    POOL-sized frame assigns ranks — a bounded global window (the
    q69/q124 rank-above-TakeOrdered posture), never a corpus sort."""
    from pyspark.sql import Window

    w = Window.orderBy(F.desc(score_col), id_col)
    return (
        scored.orderBy(F.desc(score_col), id_col)
        .limit(pool)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select(id_col, "rank")
    )


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec: list[float],
    k: int = 10,
    pool: int = 50,
    c: int = RRF_C,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
) -> DataFrame:
    """Hybrid retrieval over a lexical (BM25) and a vector (cosine)
    ranking, fused with reciprocal-rank fusion — the standard two-tower
    RAG retrieval stack (Cormack & Clarke 2009: ``score(d) = Σ_sys
    1/(c + rank_sys(d))`` over each system's top-``pool`` list; a doc
    absent from a list contributes nothing for that system).  RRF works
    on RANKS, so the two systems' incomparable score scales never need
    calibration — exactly why it's the production default fusion.

    Scale shape: each side is its operator's own scale story (BM25's
    IN-filtered explode, cosine's scan → TakeOrderedAndProject);
    fusion itself touches only the two pool-sized rank lists (a full
    outer join of ≤ 2·pool rows).  Ranks are assigned on ROUNDED
    scores with id tie-breaks, and 1/(c+rank) is a single IEEE divide
    in both engines, so the fused ordering is deterministic
    cross-engine.  Returns (doc id, lex_rank, vec_rank, rrf), ranks
    NULL where a system didn't surface the doc, top-``k`` by
    (rrf DESC, id)."""
    from ..functions.scalar import rnd
    from .similarity import cosine_topk

    lex = bm25_scores(docs, query_terms, [doc_id_col]).select(
        doc_id_col, rnd(col("bm25"), 6).alias("__s")
    )
    lexr = _ranked(lex, "__s", doc_id_col, pool).withColumnRenamed(
        "rank", "lex_rank"
    )
    vec = cosine_topk(
        emb, query_vec, k=pool, id_col=vec_id_col, vec_col=vec_col,
        exclude_ids=exclude_ids,
    ).select(col(vec_id_col).alias(doc_id_col), col("cos_sim").alias("__s"))
    vecr = _ranked(vec, "__s", doc_id_col, pool).withColumnRenamed(
        "rank", "vec_rank"
    )
    term = lambda r: F.coalesce(  # noqa: E731
        lit(1.0) / (lit(c) + col(r)).cast("double"), lit(0.0)
    )
    return (
        lexr.join(vecr, doc_id_col, "full")
        .select(
            doc_id_col,
            "lex_rank",
            "vec_rank",
            rnd(term("lex_rank") + term("vec_rank"), 9).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), doc_id_col)
        .limit(k)
    )


def hard_negatives(
    df: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    m_terms: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive retrieval training: for
    each anchor document, the top-k corpus documents that score highest
    under the anchor's own best query terms — lexically confusable with
    the anchor — EXCLUDING the anchor itself and anything the MinHash
    band gate marks as a possible near-duplicate (a near-dup mislabeled
    as a negative poisons the loss; the exclusion is deliberately
    CONSERVATIVE — raw band candidates, no exact verify — because a
    false exclusion only costs one candidate while a false negative
    costs training signal).

    Query model per anchor: its ``m_terms`` highest-IDF distinct tokens
    (6-dp-rounded IDF, token tie-break), scored against the corpus with
    the Okapi BM25 arithmetic shared with :func:`bm25_scores`.

    Scale shape: the anchor panel is the bounded side (the audit-panel
    posture) — its selected terms are |anchors|·m rows, broadcast onto
    the corpus token hits; document frequencies are computed corpus-wide
    but ONLY for tokens the anchors use (semi-join pushdown); the
    exclusion is a band-bucket equi-join of the anchors' banded
    signatures against the corpus index (the incremental-classify
    probe, never an all-pairs); per-anchor top-k runs in the two-stage
    partition-local form (no per-anchor shuffle concentration).
    Returns (anchor_id, rank, neg_id, score)."""
    from pyspark.sql.window import Window

    from ..core.guards import estimated_source_units
    from ..functions.scalar import rnd
    from . import dedup as _dedup
    from .similarity import AUDIT_QUERY_CAP_UNITS, _multi_query_topk

    # the anchor panel is the bounded side by CONTRACT (its selected
    # terms broadcast onto the corpus); fail closed like the ANN audits
    # instead of letting a data-sized panel OOM the broadcast
    if estimated_source_units(anchors, bytes_per_unit=8) > AUDIT_QUERY_CAP_UNITS:
        raise ValueError(
            "hard_negatives: the anchor panel's size estimate exceeds the "
            "budget — mine negatives for a bounded batch of anchors per "
            "run (sampling.hash_top_n), not a data-sized frame"
        )
    lengths = df.select(col(id_col).alias("__d"), text.token_count(text_col).alias("dl"))
    const = lengths.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    ).withColumn("__k", lit(1))

    a_toks = anchors.select(
        col(id_col).alias("query_id"),
        F.explode(F.array_distinct(text.tokens(text_col))).alias("token"),
    )
    # corpus-wide df_t, computed only for tokens some anchor uses
    corpus_toks = df.select(
        col(id_col).alias("__d"), F.explode(text.tokens(text_col)).alias("token")
    ).join(F.broadcast(a_toks.select("token").distinct()), "token", "left_semi")
    dfreq = corpus_toks.groupBy("token").agg(
        F.count_distinct("__d").alias("df_t")
    )
    sel = (
        a_toks.join(F.broadcast(dfreq), "token")
        .withColumn("__k", lit(1))
        .join(F.broadcast(const), "__k")
        .withColumn(
            "idf",
            rnd(
                F.log(
                    lit(1.0)
                    + (col("n_docs") - col("df_t") + lit(0.5))
                    / (col("df_t") + lit(0.5))
                ),
                6,
            ),
        )
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    col("idf").desc(), col("token")
                )
            ),
        )
        .filter(col("__r") <= m_terms)
        .select("query_id", "token", "df_t")
    )

    hits = corpus_toks.join(
        F.broadcast(sel.select("token").distinct()), "token", "left_semi"
    ).groupBy("__d", "token").agg(F.count("*").alias("tf"))
    scored = (
        hits.join(F.broadcast(sel), "token")
        .join(lengths, "__d")
        .withColumn("__k", lit(1))
        .join(F.broadcast(const), "__k")
        .withColumn(
            "__term",
            F.log(
                lit(1.0)
                + (col("n_docs") - col("df_t") + lit(0.5))
                / (col("df_t") + lit(0.5))
            )
            * col("tf")
            * lit(k1 + 1.0)
            / (
                col("tf")
                + lit(k1)
                * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))
            ),
        )
        .groupBy("query_id", "__d")
        .agg(rnd(F.sum("__term"), 6).alias("__cos"))
    )

    # conservative near-dup exclusion: the anchors' banded signatures
    # probed against the corpus band index (raw gate, no verify)
    sigs_c = _dedup.minhash_signatures(df, id_col, text_col, n, num_hashes)
    sigs_a = sigs_c.join(
        anchors.select(col(id_col).alias("doc")), "doc", "left_semi"
    )
    rows_per_band = num_hashes // bands
    bb_c = _dedup.banded_buckets(sigs_c, bands, rows_per_band)
    bb_a = _dedup.banded_buckets(sigs_a, bands, rows_per_band).select(
        col("doc").alias("query_id"), "band", "bucket"
    )
    near = (
        bb_c.join(F.broadcast(bb_a), ["band", "bucket"])
        .select("query_id", col("doc").alias("__d"))
        .distinct()
    )
    cand = (
        scored.filter(col("query_id") != col("__d"))
        .join(near, ["query_id", "__d"], "left_anti")
    )
    return (
        _multi_query_topk(cand, k, "__d")
        .select(
            col("query_id").alias("anchor_id"),
            col("rank").cast("long").alias("rank"),
            col("__d").alias("neg_id"),
            col("__cos").alias("score"),
        )
        .orderBy("anchor_id", "rank")
    )
