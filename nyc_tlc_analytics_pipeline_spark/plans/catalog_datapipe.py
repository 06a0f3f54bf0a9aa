"""Data-pipeline extension queries: text analysis, dedup, similarity.

These go beyond the reference's own operator surface (SURVEY §7.1 step 9):
the operations a large-scale LLM-training-data pipeline needs, each
designed partition-parallel.  Implementations live in ``operators.text``,
``operators.dedup`` and ``operators.similarity``; this module registers
oracle-checked conformance queries over the ``documents`` and
``embeddings`` testdata tables.

Every entry here is DuckDB-oracle-checked, including the approximate
paths: MinHash/SimHash use md5-derived hashes both engines share
byte-exactly, ANN/IVF embed their hyperplane/centroid literals in the
SQL, and the iterative operators (k-means q62, SemDeDup q64, PageRank
q63) round their per-iteration state so the full trajectory is
cross-engine deterministic.  The pytest suite additionally verifies
recall against exact Jaccard / exact cosine ground truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..core.pins import pin
from ..operators import dedup, similarity, text
from ..sources.testdata import load_table, load_table_parallel
from ..functions.scalar import rnd
from .catalog import pct, register

# ---------------------------------------------------------------------------
# q22 — per-language token/char/punct/stopword statistics
# ---------------------------------------------------------------------------

# derived from the single source of truth so editing LANG_STOPWORDS can
# never silently desync the oracle SQL from the Spark side
_EN = ", ".join(f"'{w}'" for w in text.LANG_STOPWORDS["en"])

_Q22_ORACLE = f"""
WITH t AS (
    SELECT lang,
           string_split_regex(lower(text), '\\s+') AS toks,
           length(text) AS n_chars,
           length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct
    FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       round(avg(len(toks)) + 1e-9, 4) AS avg_tokens,
       round(avg(n_chars) + 1e-9, 4) AS avg_chars,
       round(avg(1.0 * n_punct / nullif(n_chars, 0)) + 1e-9, 6) AS avg_punct_ratio,
       round(avg(1.0 * len(list_filter(toks, x -> list_contains([{_EN}], x)))
                 / nullif(len(toks), 0)) + 1e-9, 6) AS avg_stopword_ratio
FROM t
GROUP BY lang
ORDER BY lang
"""


@register(
    "q22_doc_token_stats",
    _Q22_ORACLE,
    "Token counting + punctuation/stopword ratios per language over the "
    "document corpus — all JVM-side column expressions.",
    operators=("text-tokens", "text-quality", "A3"),
    headline=True,
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    en = text.LANG_STOPWORDS["en"]
    return (
        docs.select(
            "lang",
            text.token_count("text").alias("n_tokens"),
            text.char_count("text").alias("n_chars_actual"),
            text.punct_ratio("text").alias("p_ratio"),
            text.stopword_ratio("text", en).alias("s_ratio"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            rnd(F.avg("n_tokens"), 4).alias("avg_tokens"),
            rnd(F.avg("n_chars_actual"), 4).alias("avg_chars"),
            rnd(F.avg("p_ratio"), 6).alias("avg_punct_ratio"),
            rnd(F.avg("s_ratio"), 6).alias("avg_stopword_ratio"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q23 — heuristic language-ID confusion matrix
# ---------------------------------------------------------------------------


def _hits_sql(words: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, x -> list_contains([{quoted}], x)))"


def _q23_oracle() -> str:
    langs = sorted(text.LANG_STOPWORDS)
    hits = ",\n           ".join(
        f"{_hits_sql(text.LANG_STOPWORDS[lang])} AS h_{lang}" for lang in langs
    )
    best = ", ".join(f"h_{lang}" for lang in langs)
    pred_cases = "\n                ".join(
        f"WHEN h_{lang} = best THEN '{lang}'" for lang in langs
    )
    return f"""
WITH t AS (
    SELECT lang, string_split_regex(lower(text), '\\s+') AS toks
    FROM documents
),
scored AS (
    SELECT lang,
           {hits},
           greatest({best}) AS best
    FROM t
),
pred AS (
    SELECT lang,
           CASE WHEN best = 0 THEN 'und'
                {pred_cases}
           END AS pred_lang
    FROM scored
)
SELECT lang, pred_lang, count(*) AS n_docs
FROM pred
GROUP BY lang, pred_lang
ORDER BY lang, pred_lang
"""


@register(
    "q23_lang_id",
    _q23_oracle(),
    "Heuristic n-gram/stopword language ID: confusion matrix of labeled "
    "vs predicted language.",
    operators=("text-langid", "A8"),
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    return (
        docs.select("lang", text.predicted_lang("text").alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# q24 — exact dedup via normalized-text fingerprint (md5)
# ---------------------------------------------------------------------------

_Q24_ORACLE = """
WITH fp AS (
    SELECT source,
           substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 16) AS fp
    FROM documents
)
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT fp) AS n_unique,
       count(*) - count(DISTINCT fp) AS n_duplicates
FROM fp
GROUP BY source
ORDER BY source
"""


@register(
    "q24_fingerprint_dedup",
    _Q24_ORACLE,
    "Exact document dedup on the md5 fingerprint of normalized text, "
    "reported per source — hash-groupBy dedup (reference INSERT OR IGNORE "
    "semantics: standardize.py:24,90).",
    operators=("S9", "dedup-exact", "text-fingerprint"),
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.fingerprint_dedup_stats(docs, "text", ["source"]).orderBy("source")


# ---------------------------------------------------------------------------
# q25 — exact n-gram Jaccard near-duplicate pairs
# ---------------------------------------------------------------------------

_Q25_THRESHOLD = 0.5

# shared shingle CTE (q25 + q28): word-3-grams via list_slice so documents
# shorter than 3 tokens yield their full-token join — mirroring Spark's
# concat_ws(slice(...)) exactly (t[i+1] out of range would NULL-propagate
# through || and silently drop the shingle)
_SHINGLE_CTES = """
toks AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
    FROM documents
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                  i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS shingle
    FROM toks
)"""

_Q25_ORACLE = f"""
WITH {_SHINGLE_CTES},
sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a
    JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
)
SELECT doc_a,
       doc_b,
       n_common,
       sa.n_shingles AS size_a,
       sb.n_shingles AS size_b,
       round(1.0 * n_common / (sa.n_shingles + sb.n_shingles - n_common) + 1e-9, 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE 1.0 * n_common / (sa.n_shingles + sb.n_shingles - n_common) >= {_Q25_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@register(
    "q25_ngram_jaccard_pairs",
    _Q25_ORACLE,
    "Exact word-3-gram Jaccard near-dup pairs (threshold 0.5): shingle "
    "explode → bucket self-join → intersection/union counting.",
    operators=("dedup-jaccard", "J7"),
    headline=True,
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=_Q25_THRESHOLD)
    return pairs.withColumn("jaccard", rnd("jaccard", 6)).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# q26 — brute-force cosine top-k against a query vector
# ---------------------------------------------------------------------------

_Q26_ORACLE = """
WITH q AS (
    SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
)
SELECT vec_id,
       label,
       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) + 1e-9, 6) AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


@register(
    "q26_cosine_topk",
    _Q26_ORACLE,
    "Brute-force cosine top-10 neighbors of vector 0 over the embedding "
    "column — zip_with/aggregate dot products, TakeOrderedAndProject plan.",
    operators=("sim-cosine-topk", "O1"),
    headline=True,
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(col("vec_id") == 0).select("embedding").head()[0]]
    return similarity.cosine_topk(emb, qvec, k=10, exclude_ids=(0,)).select(
        "vec_id", "label", "cos_sim"
    )


# ---------------------------------------------------------------------------
# q27 — per-label embedding norm profile (vector math parity check)
# ---------------------------------------------------------------------------

_Q27_ORACLE = """
SELECT label,
       count(*) AS n_vectors,
       round(avg(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))) + 1e-9, 6) AS avg_norm,
       round(avg(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding)) + 1e-9, 6) AS avg_component_mean
FROM embeddings
GROUP BY label
ORDER BY label
"""


@register(
    "q27_embedding_norms",
    _Q27_ORACLE,
    "Per-label embedding norm and component-mean profile — array math "
    "entirely in codegen expressions.",
    operators=("sim-vector-math", "A3"),
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    v = similarity.as_double_array("embedding")
    comp_mean = F.aggregate(v, F.lit(0.0), lambda a, x: a + x) / F.size("embedding")
    return (
        emb.select("label", similarity.norm(v).alias("nrm"), comp_mean.alias("cm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            rnd(F.avg("nrm"), 6).alias("avg_norm"),
            rnd(F.avg("cm"), 6).alias("avg_component_mean"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q36 — heuristic document quality score (length/punct/stopword components)
# ---------------------------------------------------------------------------

_Q36_ORACLE = f"""
WITH t AS (
    SELECT source,
           string_split_regex(lower(text), '\\s+') AS toks,
           length(text) AS n_chars,
           length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct
    FROM documents
),
scored AS (
    -- quality rounded with the nudge BEFORE thresholding: the two engines
    -- may differ by 1 ulp in association order, and the keep-threshold
    -- comparison must not flip on that
    SELECT source,
           round((least(1.0 * len(toks) / 200.0, 1.0)
            + (1.0 - least(5.0 * n_punct / nullif(n_chars, 0), 1.0))
            + least(4.0 * len(list_filter(toks, x -> list_contains([{_EN}], x)))
                    / nullif(len(toks), 0), 1.0)) / 3.0 + 1e-9, 6) AS quality
    FROM t
)
SELECT source,
       count(*) AS n_docs,
       round(avg(quality) + 1e-9, 6) AS avg_quality,
       CAST(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
FROM scored
GROUP BY source
ORDER BY source
"""


@register(
    "q36_doc_quality_scores",
    _Q36_ORACLE,
    "Heuristic quality score per document (length + punctuation noise + "
    "stopword presence, the cheap LLM-data pre-filter), rolled up per "
    "source with a keep-threshold count.",
    operators=("text-quality", "A4"),
)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    q = rnd(text.quality_score("text"), 6)  # nudged round before threshold
    return (
        docs.select("source", q.alias("quality"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            rnd(F.avg("quality"), 6).alias("avg_quality"),
            F.sum(F.when(col("quality") >= 0.5, 1).otherwise(0)).alias("n_keep"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q37 — sliding windows in batch form (each event lands in 4 overlapping
# 1h/15min windows; oracle enumerates the 4 aligned starts)
# ---------------------------------------------------------------------------

_Q37_ORACLE = """
WITH expanded AS (
    -- make_timestamp(epoch_micros) is timezone-neutral (naive UTC), unlike
    -- to_timestamp(...)::TIMESTAMP which converts via the session TimeZone
    SELECT make_timestamp(
               (cast(floor(epoch(ts::TIMESTAMP) / 900) AS BIGINT) * 900 - k * 900) * 1000000
           ) AS window_start,
           value
    FROM events, unnest([0, 1, 2, 3]) AS u(k)
    WHERE ts IS NOT NULL
)
SELECT window_start,
       count(*) AS n_events,
       round(sum(value) + 1e-9, 2) AS total_value
FROM expanded
GROUP BY window_start
ORDER BY window_start
"""


@register(
    "q37_sliding_windows",
    _Q37_ORACLE,
    "1-hour windows sliding every 15 minutes (batch form of the streaming "
    "sliding aggregation; every event contributes to 4 windows).",
    operators=("streaming-sliding-batch", "A8"),
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(col("ts").isNotNull())
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").getField("start").alias("window_start")
        )
        .agg(
            F.count("*").alias("n_events"),
            rnd(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# q41 — BPE-ish tokenization vs whitespace tokenization
# ---------------------------------------------------------------------------

_Q41_ORACLE = """
WITH t AS (
    SELECT lang,
           len(string_split_regex(lower(text), '\\s+')) AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_tokens
    FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       round(avg(1.0 * bpe_tokens / nullif(ws_tokens, 0)) + 1e-9, 6) AS avg_fertility
FROM t
GROUP BY lang
ORDER BY lang
"""


@register(
    "q41_bpe_token_counts",
    _Q41_ORACLE,
    "Token counting under a BPE-ish pre-tokenizer (letter runs / digit "
    "runs / punctuation) vs whitespace, with per-language fertility.",
    operators=("text-tokens-bpe", "A3"),
)
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            text.token_count("text").alias("ws_tokens"),
            text.bpe_token_count("text").alias("bpe_tokens"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws_tokens").alias("total_ws_tokens"),
            F.sum("bpe_tokens").alias("total_bpe_tokens"),
            rnd(
                F.avg(col("bpe_tokens") / F.nullif(col("ws_tokens"), F.lit(0))), 6
            ).alias("avg_fertility"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q42 — order-sensitive rolling-hash fingerprint
# ---------------------------------------------------------------------------

_Q42_ORACLE = """
WITH fp AS (
    SELECT source,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split_regex(lower(text), '\\s+'),
                                  t -> CAST(length(t) * 7 + coalesce(ascii(substr(t, 1, 1)), 0) AS BIGINT))),
               (acc, x) -> (acc * 131 + x) % 1000000007
           ) AS rh
    FROM documents
)
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT rh) AS n_distinct_fingerprints,
       CAST(sum(rh) AS BIGINT) AS fingerprint_checksum
FROM fp
GROUP BY source
ORDER BY source
"""


@register(
    "q42_rolling_hash_fingerprint",
    _Q42_ORACLE,
    "Rabin-Karp-style rolling hash over the token stream (order-"
    "sensitive, unlike the md5 fingerprint), aggregated per source.",
    operators=("text-fingerprint-rolling",),
)
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    return (
        docs.select("source", text.rolling_fingerprint("text").alias("rh"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("rh").alias("n_distinct_fingerprints"),
            F.sum("rh").alias("fingerprint_checksum"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q28–q31, q43 — approximate operators with EXACT oracles: every hash these
# queries use (md5 signature mins, md5 band buckets, md5-derived simhash
# bits, hyperplane sign buckets from deterministic literal planes, md5-
# ordered IVF centroids) is reproducible in DuckDB, so the driver can
# hash-check the approximate paths end-to-end, not just count rows.
# ---------------------------------------------------------------------------

_Q28_ORACLE = f"""
WITH {_SHINGLE_CTES},
mh AS (
    -- hash k = 8-hex chunk (k % 4) of md5((k // 4) || ':' || shingle):
    -- 16 hash functions from 4 digests, mirroring the Spark side
    SELECT doc_id, k,
           min(substr(md5((k // 4) || ':' || shingle), (k % 4) * 8 + 1, 8)) AS h
    FROM sh CROSS JOIN range(16) r(k)
    GROUP BY doc_id, k
),
sig AS (
    SELECT doc_id, list(h ORDER BY k) AS signature FROM mh GROUP BY doc_id
),
banded AS (
    SELECT doc_id, b,
           md5(array_to_string(list_slice(signature, b * 4 + 1, b * 4 + 4), ',')) AS bucket
    FROM sig CROSS JOIN range(4) rb(b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM banded a
    JOIN banded b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
),
docsh AS (
    SELECT doc_id, list(shingle) AS shset FROM sh GROUP BY doc_id
),
scored AS (
    SELECT doc_a, doc_b,
           len(list_intersect(sa.shset, sb.shset)) AS n_common,
           len(sa.shset) AS size_a,
           len(sb.shset) AS size_b
    FROM cand
    JOIN docsh sa ON doc_a = sa.doc_id
    JOIN docsh sb ON doc_b = sb.doc_id
)
SELECT doc_a, doc_b,
       round(1.0 * n_common / (size_a + size_b - n_common) + 1e-9, 6) AS jaccard
FROM scored
WHERE 1.0 * n_common / (size_a + size_b - n_common) >= {_Q25_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@register(
    "q28_minhash_lsh_pairs",
    _Q28_ORACLE,
    "MinHash(16 hashes)+LSH(4 bands) candidate pairs verified by exact "
    "Jaccard ≥ 0.5.  md5-hex signature mins (shared byte-exactly with the "
    "oracle engine) make the whole LSH pipeline hash-checkable; recall vs "
    "exact Jaccard is additionally pytest-verified.",
    operators=("dedup-minhash-lsh",),
    headline=True,
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", n=3, threshold=_Q25_THRESHOLD
    )
    return pairs.withColumn("jaccard", rnd("jaccard", 6)).orderBy("doc_a", "doc_b")


_Q29_ORACLE = """
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
    FROM documents
),
tok AS (
    SELECT doc_id, unnest(t) AS tk FROM toks
),
th AS (
    SELECT doc_id, substr(md5(tk), 1, 8) AS h FROM tok
),
bitsum AS (
    SELECT doc_id, b,
           sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
                          >> CAST(b % 4 AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM th CROSS JOIN range(32) rb(b)
    GROUP BY doc_id, b
),
sh2 AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS sh
    FROM bitsum
    GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
       CAST(bit_count(xor(a.sh, b2.sh)) AS INT) AS hamming
FROM sh2 a
JOIN sh2 b2 ON (a.sh >> 20) = (b2.sh >> 20) AND a.doc_id < b2.doc_id
WHERE bit_count(xor(a.sh, b2.sh)) <= 6
ORDER BY doc_a, doc_b
"""


@register(
    "q29_simhash_near_pairs",
    _Q29_ORACLE,
    "SimHash(32-bit, md5-derived bit hashes) near-dup pairs bucketed on a "
    "12-bit prefix, Hamming distance ≤ 6.  Hash-checked end-to-end "
    "against the oracle recomputing identical md5 token-hash bits; "
    "near-dup/random separation is additionally pytest-verified.",
    operators=("dedup-simhash",),
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(
        docs, "doc_id", "text", bits=32, prefix_bits=12, max_hamming=6
    ).orderBy("doc_a", "doc_b")


# hyperplane literals shared by q30/q43's Spark builders AND their oracles:
# deterministic md5-derived components (similarity.random_hyperplanes), so
# the exact same 8×64 doubles can be embedded in the SQL text
_PLANES_8x64 = similarity.random_hyperplanes(8, 64, seed=42)


def _plane_sql(p: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"


def _bucket_sql(vexpr: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN list_dot_product({vexpr}, {_plane_sql(p)}) > 0 "
        f"THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i, p in enumerate(_PLANES_8x64)
    )
    return f"({terms})"


_Q30_ORACLE = f"""
WITH q AS (
    SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings WHERE vec_id <> 0
),
b AS (
    SELECT vec_id, label, v, {_bucket_sql("v")} AS bucket FROM e
),
qb AS (
    SELECT {_bucket_sql("qv")} AS qbucket FROM q
)
SELECT vec_id, label,
       round(list_cosine_similarity(v, qv) + 1e-9, 6) AS cos_sim
FROM b, q, qb
WHERE bit_count(xor(bucket, qbucket)) <= 1
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


@register(
    "q30_ann_lsh_topk",
    _Q30_ORACLE,
    "Approximate top-10 neighbors of vector 0 via random-hyperplane LSH "
    "(8 deterministic planes, multiprobe Hamming ≤ 1).  The oracle "
    "recomputes the sign buckets from the same plane literals, so the "
    "probe set — not just the scoring — is hash-checked; recall vs brute "
    "force is additionally pytest-verified.",
    operators=("sim-ann-lsh",),
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(col("vec_id") == 0).select("embedding").head()[0]]
    return similarity.ann_topk(
        emb.filter(col("vec_id") != 0), qvec, _PLANES_8x64, k=10
    ).select("vec_id", "label", "cos_sim")


_Q31_ORACLE = """
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings WHERE vec_id <> 0
),
q AS (
    SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
cents AS (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
           v AS cv
    FROM e
    ORDER BY md5(CAST(vec_id AS VARCHAR))
    LIMIT 16
),
probe AS (
    SELECT cid FROM cents, q
    ORDER BY list_cosine_similarity(cv, qv) DESC, cid
    LIMIT 4
),
assigned AS (
    SELECT e.vec_id, e.label, e.v, cents.cid,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(cents.cv, e.v) DESC, cents.cid
           ) AS rn
    FROM e CROSS JOIN cents
)
SELECT vec_id, label,
       round(list_cosine_similarity(v, qv) + 1e-9, 6) AS cos_sim
FROM assigned, q
WHERE rn = 1 AND cid IN (SELECT cid FROM probe)
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


@register(
    "q31_ivf_ann_topk",
    _Q31_ORACLE,
    "IVF approximate top-10 neighbors of vector 0 (16 deterministic "
    "md5-ordered centroids, probe 4).  The oracle re-derives the same "
    "centroid set, nearest-centroid assignment and probe list in SQL; "
    "full-probe == brute-force is additionally pytest-verified.",
    operators=("sim-ann-ivf",),
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    rest = emb.filter(col("vec_id") != 0)
    qvec = [float(x) for x in emb.filter(col("vec_id") == 0).select("embedding").head()[0]]
    cents = similarity.ivf_centroids(rest, k=16)
    return similarity.ivf_topk(rest, qvec, cents, k=10, n_probe=4).select(
        "vec_id", "label", "cos_sim"
    )


_Q43_THRESHOLD = 0.3

_Q43_ORACLE = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
b AS (
    SELECT vec_id, v, {_bucket_sql("v")} AS bucket FROM e
)
SELECT a.vec_id AS doc_a, b2.vec_id AS doc_b,
       round(list_cosine_similarity(a.v, b2.v) + 1e-9, 6) AS cos_sim
FROM b a
JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE round(list_cosine_similarity(a.v, b2.v) + 1e-9, 6) >= {_Q43_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@register(
    "q43_embedding_near_dups",
    _Q43_ORACLE,
    "Embedding-cosine near-dup pairs (cos ≥ 0.3 — a threshold with "
    "non-empty answers on this corpus, so the gate checks real rows) via "
    "hyperplane-LSH bucketed candidate join; the oracle recomputes the "
    "identical buckets from the shared plane literals.  Recall on planted "
    "near-dups is additionally pytest-verified.",
    operators=("dedup-embedding-cosine",),
)
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_pairs(
        emb, threshold=_Q43_THRESHOLD, planes=_PLANES_8x64
    ).orderBy("doc_a", "doc_b")

# ---------------------------------------------------------------------------
# q46 — near-dup pairs → duplicate CLUSTERS (connected components)
# ---------------------------------------------------------------------------

_Q46_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTES},
sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a
    JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
),
pairs AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE 1.0 * n_common / (sa.n_shingles + sb.n_shingles - n_common)
          >= {_Q25_THRESHOLD}
),
sym AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT a, a FROM sym
    UNION
    SELECT s.a, rr.r FROM sym s JOIN reach rr ON rr.node = s.b
),
comp AS (
    SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
)
SELECT doc_id,
       cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM comp
ORDER BY cluster_id, doc_id
"""


@register(
    "q46_dedup_clusters",
    _Q46_ORACLE,
    "Duplicate-cluster assignment: exact-Jaccard near-dup pairs closed "
    "under transitivity via alternating large-star/small-star connected "
    "components (O(log² n) shuffle rounds — not diameter-bound label "
    "propagation), each doc tagged with its component-min cluster id and "
    "the canonical keeper.  The oracle closes the same pair graph with a "
    "recursive CTE.",
    operators=("dedup-clusters", "graph-cc"),
)
def q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=_Q25_THRESHOLD
    ).select("doc_a", "doc_b")
    cc = graph.connected_components(pairs)
    w = Window.partitionBy("cluster_id")
    return (
        cc.select(col("node").alias("doc_id"), col("component").alias("cluster_id"))
        .select(
            "doc_id",
            "cluster_id",
            F.count("*").over(w).alias("cluster_size"),
            (col("doc_id") == col("cluster_id")).alias("is_canonical"),
        )
        .orderBy("cluster_id", "doc_id")
    )

# ---------------------------------------------------------------------------
# q47 — deterministic hash sampling: stratified per-language sample + split
# ---------------------------------------------------------------------------

_Q47_ORACLE = """
WITH u AS (
    SELECT doc_id, lang,
           ('0x' || substr(md5('strat' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS su,
           ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS pu
    FROM documents
),
ranked AS (
    SELECT doc_id, lang, pu,
           row_number() OVER (PARTITION BY lang ORDER BY su, doc_id) AS rn
    FROM u
)
SELECT doc_id, lang,
       CASE WHEN pu < 0.8 THEN 'train'
            WHEN pu < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM ranked
WHERE rn <= 5
ORDER BY lang, doc_id
"""


@register(
    "q47_deterministic_sampling",
    _Q47_ORACLE,
    "Training-corpus curation sampling: exactly 5 docs per language via "
    "md5-hash-order stratified sampling, each tagged with a stable "
    "80/10/10 train/val/test split.  Hash-derived decisions are layout- "
    "and growth-independent (unlike df.sample's per-partition RNG) and "
    "the oracle recomputes the identical md5 fractions.",
    operators=("sampling-stratified", "sampling-split"),
)
def q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    strat = sampling.stratified_sample_exact(
        docs, ["lang"], 5, "doc_id", salt="strat"
    )
    return (
        sampling.assign_split(
            strat, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="split"
        )
        .select("doc_id", "lang", "split")
        .orderBy("lang", "doc_id")
    )

# ---------------------------------------------------------------------------
# q48 — the full curation funnel: quality gate → near-dup clusters →
# keep canonical → stable split assignment (operators composing end-to-end)
# ---------------------------------------------------------------------------

_Q48_ORACLE = f"""
WITH RECURSIVE q AS (
    SELECT doc_id, lang,
           string_split_regex(lower(text), '\\s+') AS t,
           round((least(1.0 * len(string_split_regex(lower(text), '\\s+')) / 200.0, 1.0)
            + (1.0 - least(5.0 * length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
                           / nullif(length(text), 0), 1.0))
            + least(4.0 * len(list_filter(string_split_regex(lower(text), '\\s+'),
                                          x -> list_contains([{_EN}], x)))
                    / nullif(len(string_split_regex(lower(text), '\\s+')), 0), 1.0)) / 3.0
            + 1e-9, 6) AS quality
    FROM documents
),
kept AS (
    SELECT doc_id, lang, t, quality FROM q WHERE quality >= 0.5
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                  i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS shingle
    FROM kept
),
sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
),
pairs AS (
    SELECT doc_a, doc_b FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE 1.0 * n_common / (sa.n_shingles + sb.n_shingles - n_common) >= {_Q25_THRESHOLD}
),
sym AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT a, a FROM sym
    UNION
    SELECT s.a, rr.r FROM sym s JOIN reach rr ON rr.node = s.b
),
comp AS (
    SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
),
canonical AS (
    -- paired docs survive only as their cluster minimum; singletons survive
    SELECT k.* FROM kept k
    WHERE k.doc_id NOT IN (SELECT node FROM comp WHERE node <> cluster_id)
),
split_assigned AS (
    SELECT lang, len(t) AS n_tokens, quality,
           CASE WHEN ('0x' || substr(md5('cur' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     / 4294967296.0 < 0.9 THEN 'train'
                WHEN ('0x' || substr(md5('cur' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     / 4294967296.0 < 0.95 THEN 'val'
                ELSE 'test' END AS split
    FROM canonical
)
SELECT lang, split,
       count(*) AS n_docs,
       round(avg(n_tokens) + 1e-9, 4) AS avg_tokens,
       round(avg(quality) + 1e-9, 6) AS avg_quality
FROM split_assigned
GROUP BY lang, split
ORDER BY lang, split
"""


@register(
    "q48_curation_funnel",
    _Q48_ORACLE,
    "End-to-end corpus curation: quality-gate the documents (score ≥ 0.5), "
    "cluster the survivors' exact-Jaccard near-dups via connected "
    "components, keep one canonical doc per cluster, assign stable "
    "90/5/5 splits, and report the curated corpus per (lang, split).  "
    "Exercises text-quality → dedup-jaccard → graph-cc → sampling-split "
    "composing in one plan, hash-checked end-to-end.",
    operators=("curation-funnel", "text-quality", "graph-cc", "sampling-split"),
)
def q48(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph, sampling

    docs = load_table_parallel(spark, sf_dir, "documents")
    # pin the gated frame once (core.pins rule): it feeds the shingle
    # explode of the pair join, the canonical semi-join, and the final
    # aggregate — each would otherwise re-evaluate the quality-score
    # expression tree
    kept = pin(
        docs.withColumn("quality", rnd(text.quality_score("text"), 6))
        .filter(col("quality") >= 0.5)
    )
    pairs = dedup.jaccard_pairs(
        kept, "doc_id", "text", n=3, threshold=_Q25_THRESHOLD
    ).select("doc_a", "doc_b")
    assigned = graph.cluster_assignments(kept, pairs, "doc_id")
    canonical = kept.join(
        assigned.filter(col("is_canonical")).select("doc_id"), "doc_id", "left_semi"
    )
    out = sampling.assign_split(
        canonical, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}, salt="cur"
    )
    return (
        out.select("lang", "split", text.token_count("text").alias("n_tokens"), "quality")
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            rnd(F.avg("n_tokens"), 4).alias("avg_tokens"),
            rnd(F.avg("quality"), 6).alias("avg_quality"),
        )
        .orderBy("lang", "split")
    )


# ---------------------------------------------------------------------------
# q49 — Gopher/C4-style quality-rule battery (operators.rules)
# ---------------------------------------------------------------------------

def _q49_oracle() -> str:
    from ..operators import rules as R

    return f"""
WITH t AS (
    SELECT lang, text,
           string_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
m AS (
    SELECT lang,
           len(tk) AS n,
           1.0 * list_sum(list_transform(tk, x -> length(x))) / nullif(len(tk), 0)
               AS mean_len,
           1.0 * len(list_filter(tk, x -> regexp_matches(x, '[^0-9\\s[:punct:]]')))
               / nullif(len(tk), 0) AS alpha_frac,
           1.0 * length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
               / nullif(length(text), 0) AS sym_ratio,
           1.0 - 1.0 * len(list_distinct(tk)) / nullif(len(tk), 0) AS rep_frac,
           2.0 * list_max(list_transform(list_distinct(
                     list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])),
                 g -> len(list_filter(
                     list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]),
                     x -> x = g)))) / nullif(len(tk), 0) AS top2
    FROM t
),
f AS (
    SELECT lang,
           (n < {R.MIN_TOKENS} OR n > {R.MAX_TOKENS}) AS bad_length,
           (mean_len < {R.MEAN_LEN_LO} OR mean_len > {R.MEAN_LEN_HI}) AS bad_mean_len,
           alpha_frac < {R.ALPHA_MIN} AS bad_alpha,
           coalesce(sym_ratio, 0) > {R.SYMBOL_MAX} AS bad_symbols,
           rep_frac > {R.REPEAT_MAX} AS bad_repetition,
           top2 > {R.TOP_BIGRAM_MAX} AS bad_top_bigram
    FROM m
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN NOT (bad_length OR bad_mean_len OR bad_alpha
                               OR bad_symbols OR bad_repetition OR bad_top_bigram)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN bad_length THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_length,
       CAST(sum(CASE WHEN bad_mean_len THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_mean_len,
       CAST(sum(CASE WHEN bad_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_alpha,
       CAST(sum(CASE WHEN bad_symbols THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_symbols,
       CAST(sum(CASE WHEN bad_repetition THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_repetition,
       CAST(sum(CASE WHEN bad_top_bigram THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_top_bigram
FROM f
GROUP BY lang
ORDER BY lang
"""


@register(
    "q49_quality_rule_battery",
    _q49_oracle(),
    "Gopher/C4-style per-document curation rules (length, mean token "
    "length, alpha fraction, symbol ratio, repeated-token fraction, "
    "top-bigram coverage) as one vectorized Arrow batch kernel over "
    "dictionary-encoded tokens — map-only, zero shuffles before the "
    "final tiny per-language aggregate.",
    operators=("rules-gopher", "text-tokens", "A4"),
)
def q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rules

    docs = load_table_parallel(spark, sf_dir, "documents")
    # select first — mapInArrow is opaque to column pruning, so only
    # the two columns the query needs cross the Python boundary
    flagged = rules.apply_rules(docs.select("lang", "text"), "text")
    agg = [F.count("*").cast("long").alias("n_docs"),
           F.sum(col("rules_pass").cast("long")).alias("n_pass")]
    for name in rules.RULE_FLAG_NAMES:
        agg.append(F.sum(col(name).cast("long")).alias(f"n_{name}"))
    return flagged.groupBy("lang").agg(*agg).orderBy("lang")


# ---------------------------------------------------------------------------
# q50 — benchmark decontamination (operators.decontam)
# ---------------------------------------------------------------------------

_Q50_N = 4

_Q50_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
sh AS (
    SELECT doc_id, lang,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(tk) - {_Q50_N - 1}, 1) + 1),
               i -> array_to_string(list_slice(tk, i, i + {_Q50_N - 1}), ' ')))) AS g
    FROM t
),
bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
corpus AS (SELECT doc_id, lang FROM t WHERE doc_id % 50 <> 0),
bad AS (
    SELECT DISTINCT s.doc_id
    FROM sh s
    WHERE s.doc_id % 50 <> 0 AND s.g IN (SELECT g FROM bench)
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_train,
       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM bad) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       round(100.0 * sum(CASE WHEN doc_id IN (SELECT doc_id FROM bad) THEN 1 ELSE 0 END)
             / count(*) + 1e-9, 4) AS contamination_pct
FROM corpus
GROUP BY lang
ORDER BY lang
"""


@register(
    "q50_benchmark_decontamination",
    _Q50_ORACLE,
    f"Training-corpus decontamination: every 50th document stands in for "
    f"a benchmark/eval set; corpus docs sharing any {_Q50_N}-gram with it "
    "are flagged.  The benchmark gram set is broadcast, so the corpus "
    "side is a map-side semi-probe — one pass, no corpus shuffle.",
    operators=("decontam-ngram", "J8", "A4"),
)
def q50(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import decontam

    docs = load_table_parallel(spark, sf_dir, "documents")
    bench = docs.filter(col("doc_id") % 50 == 0)
    corpus = docs.filter(col("doc_id") % 50 != 0)
    bad = decontam.flag_contaminated(corpus, bench, n=_Q50_N).withColumn(
        "is_bad", F.lit(1)
    )
    return (
        corpus.join(bad, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_train"),
            F.sum(F.coalesce(col("is_bad"), F.lit(0)).cast("long")).alias(
                "n_contaminated"
            ),
            rnd(
                F.lit(100.0)
                * F.sum(F.coalesce(col("is_bad"), F.lit(0)))
                / F.count("*"),
                4,
            ).alias("contamination_pct"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q51 — greedy sequence packing (operators.packing, applyInPandas)
# ---------------------------------------------------------------------------

_Q51_BUDGET = 256

_Q51_ORACLE = f"""
WITH RECURSIVE t AS MATERIALIZED (
    -- MATERIALIZED: each recursion step joins t; without it DuckDB
    -- re-tokenizes the corpus per step (50x slower at sf0.1)
    SELECT lang,
           len(string_split_regex(lower(text), '\\s+')) AS n,
           row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
    FROM documents
),
rec AS (
    SELECT lang, rn, n, 0 AS pack_id, n AS fill FROM t WHERE rn = 1
    UNION ALL
    SELECT t.lang, t.rn, t.n,
           CASE WHEN r.fill + t.n > {_Q51_BUDGET} THEN r.pack_id + 1
                ELSE r.pack_id END,
           CASE WHEN r.fill + t.n > {_Q51_BUDGET} THEN t.n
                ELSE r.fill + t.n END
    FROM rec r JOIN t ON t.lang = r.lang AND t.rn = r.rn + 1
)
SELECT lang,
       CAST(max(pack_id) + 1 AS BIGINT) AS n_packs,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       round(1.0 * sum(n) / ((max(pack_id) + 1) * {_Q51_BUDGET}) + 1e-9, 6)
           AS utilization
FROM rec
GROUP BY lang
ORDER BY lang
"""


@register(
    "q51_sequence_packing",
    _Q51_ORACLE,
    f"Greedy no-split sequence packing into {_Q51_BUDGET}-token training "
    "rows, per language stream in doc_id order — the inherently "
    "sequential running-fill state runs as one Arrow-batched "
    "applyInPandas pass per stream; the oracle replays the identical "
    "greedy walk with a recursive CTE.",
    operators=("packing-greedy", "pandas-udf-grouped"),
)
def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import packing, text as T

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", T.token_count("text").alias("n_tokens"))
    )
    packed = packing.pack_greedy(docs, "lang", "doc_id", "n_tokens", _Q51_BUDGET)
    return (
        packing.pack_summary(packed, "lang", "n_tokens", _Q51_BUDGET)
        .select(
            "lang",
            col("n_packs").cast("long"),
            col("n_docs").cast("long"),
            col("n_tokens").cast("long"),
            rnd(col("utilization"), 6).alias("utilization"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q52 — weighted domain-mixture sampling (operators.sampling)
# ---------------------------------------------------------------------------

_Q52_WEIGHTS = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}

_Q52_ORACLE = f"""
WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
w(lang, wt) AS (VALUES {", ".join(f"('{d}', {x})" for d, x in sorted(_Q52_WEIGHTS.items()))}),
feas AS (SELECT min(cnt / wt) AS t FROM c JOIN w USING (lang)),
quota AS (
    SELECT c.lang, CAST(floor(w.wt * feas.t) AS BIGINT) AS n
    FROM c JOIN w ON c.lang = w.lang CROSS JOIN feas
),
ranked AS (
    SELECT doc_id, lang,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY ('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        / 4294967296.0, doc_id) AS rn
    FROM documents
),
kept AS (SELECT r.lang FROM ranked r JOIN quota q ON r.lang = q.lang AND r.rn <= q.n)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_kept,
       round(1.0 * count(*) / sum(count(*)) OVER () + 1e-9, 6) AS kept_share
FROM kept
GROUP BY lang
ORDER BY lang
"""


@register(
    "q52_mixture_sampling",
    _Q52_ORACLE,
    "Domain-mixture rebalancing: downsample each language to the largest "
    "subcorpus matching target weights (en 40%, others 15%), membership "
    "decided by deterministic md5 hash order — one tiny counts aggregate "
    "broadcast back, one window per domain, no driver loop.",
    operators=("sampling-mixture", "sampling-stratified", "W2"),
)
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    kept = sampling.mixture_sample(docs, "lang", _Q52_WEIGHTS, "doc_id", salt="mix")
    total = Window.partitionBy()
    return (
        kept.groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_kept"))
        .withColumn(
            "kept_share",
            rnd(col("n_kept") / F.sum("n_kept").over(total), 6),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q53 — PII scrub (operators.redact); PII is INJECTED deterministically so
# the check is non-vacuous on the synthetic corpus
# ---------------------------------------------------------------------------

def _q53_oracle() -> str:
    from ..operators.redact import PII_PATTERNS

    counts = ",\n           ".join(
        f"len(regexp_extract_all(t2, '{p}')) AS n_{k}"
        for k, p in PII_PATTERNS.items()
    )
    red = "t2"
    for k, p in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{p}', '[PII:{k}]', 'g')"
    sums = ",\n       ".join(
        f"CAST(sum(n_{k}) AS BIGINT) AS total_{k}" for k in PII_PATTERNS
    )
    return f"""
WITH injected AS (
    SELECT lang,
           text || CASE
               WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
               WHEN doc_id % 5 = 0 THEN ' call 212-555-0199'
               WHEN doc_id % 3 = 0 THEN ' card 4111 1111 1111 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               WHEN doc_id % 2 = 0 THEN ' from 192.168.0.1'
               ELSE ''
           END AS t2
    FROM documents
),
m AS (
    SELECT lang,
           {counts},
           length({red}) AS red_len
    FROM injected
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_email + n_card + n_phone + n_ipv4 > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_with_pii,
       {sums},
       CAST(sum(red_len) AS BIGINT) AS redacted_chars
FROM m
GROUP BY lang
ORDER BY lang
"""


@register(
    "q53_pii_scrub",
    _q53_oracle(),
    "PII detection + redaction (emails, card-shaped digit runs, phones, "
    "IPv4) as map-only regexp expressions fused into the scan.  The "
    "synthetic corpus carries no PII, so the query first INJECTS "
    "deterministic PII derived from doc_id — identically in Spark and "
    "the oracle — making the scrub verification non-vacuous.",
    operators=("redact-pii", "scalar-regex", "A4"),
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import redact as R

    docs = load_table_parallel(spark, sf_dir, "documents")
    did = col("doc_id")
    injected = docs.select(
        "lang",
        F.concat(
            col("text"),
            F.when(
                did % 7 == 0,
                F.concat(lit(" contact user"), did.cast("string"), lit("@example.com")),
            )
            .when(did % 5 == 0, lit(" call 212-555-0199"))
            .when(
                did % 3 == 0,
                F.concat(
                    lit(" card 4111 1111 1111 "),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            )
            .when(did % 2 == 0, lit(" from 192.168.0.1"))
            .otherwise(lit("")),
        ).alias("t2"),
    )
    scrubbed = R.scrub_documents(injected, "t2")
    kinds = list(R.PII_PATTERNS)
    return (
        scrubbed.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(col("has_pii").cast("long")).alias("docs_with_pii"),
            *[F.sum(f"n_{k}").cast("long").alias(f"total_{k}") for k in kinds],
            F.sum(F.length("t2")).cast("long").alias("redacted_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q54 — portable HyperLogLog (operators.sketch): an APPROXIMATE operator
# with an EXACT oracle — both engines recompute the identical registers
# ---------------------------------------------------------------------------

_Q54_B = 9


def _q54_oracle() -> str:
    from ..operators.sketch import _alpha

    m = 2**_Q54_B
    w_bits = 32 - _Q54_B
    alpha = _alpha(m)
    fp = "substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 16)"
    return f"""
WITH keys AS (
    SELECT source, {fp} AS fp FROM documents
),
h AS (
    SELECT source, fp,
           ('0x' || substr(md5('hll' || fp), 1, 8))::BIGINT AS hv
    FROM keys
),
r AS (
    SELECT source,
           hv // {2**w_bits} AS bucket,
           max(CASE WHEN hv % {2**w_bits} = 0 THEN {w_bits + 1}
                    ELSE instr(lpad(bin(hv % {2**w_bits}), {w_bits}, '0'), '1')
               END) AS rho
    FROM h
    GROUP BY source, bucket
),
est AS (
    SELECT source,
           count(*) AS used,
           CAST({alpha * m * m!r} AS DOUBLE)
               / (({m} - count(*)) + sum(pow(2.0, -rho))) AS raw
    FROM r
    GROUP BY source
),
corrected AS (
    SELECT source, used,
           CASE WHEN raw <= CAST({2.5 * m!r} AS DOUBLE) AND used < {m}
                THEN CAST({float(m)!r} AS DOUBLE)
                     * ln(CAST({float(m)!r} AS DOUBLE) / ({m} - used))
                ELSE raw END AS hll
    FROM est
),
ex AS (
    SELECT source, count(DISTINCT fp) AS exact_distinct FROM keys GROUP BY source
)
SELECT c.source,
       CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
       round(c.hll + 1e-9, 4) AS hll_distinct,
       CAST(c.used AS BIGINT) AS n_buckets_used,
       round(abs(c.hll - ex.exact_distinct) / ex.exact_distinct + 1e-9, 6)
           AS rel_error
FROM corrected c JOIN ex ON c.source = ex.source
ORDER BY c.source
"""


@register(
    "q54_hll_cardinality",
    _q54_oracle(),
    "Portable HyperLogLog: approximate distinct document fingerprints "
    "per source, built from md5-derived registers as plain column "
    "expressions — bit-identical in the DuckDB oracle (an approximate "
    "operator with an exact conformance gate), shuffling at most "
    f"{2**_Q54_B} register rows per group; exact distinct joined "
    "alongside for the realized relative error.",
    operators=("sketch-hll", "A2", "A11"),
)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketch, text as T

    docs = load_table_parallel(spark, sf_dir, "documents").select(
        "source", T.fingerprint("text").alias("fp")
    )
    est = sketch.approx_distinct(docs, "fp", ["source"], b=_Q54_B)
    exact = docs.groupBy("source").agg(
        F.count_distinct("fp").alias("exact_distinct")
    )
    return (
        est.join(exact, "source")
        .select(
            "source",
            col("exact_distinct").cast("long"),
            rnd(col("hll_distinct"), 4).alias("hll_distinct"),
            col("n_buckets_used").cast("long"),
            rnd(
                F.abs(col("hll_distinct") - col("exact_distinct"))
                / col("exact_distinct"),
                6,
            ).alias("rel_error"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q55 — curation funnel v2: the round-3 operators composing end-to-end
# (rule gate → decontaminate → mixture rebalance → greedy packing)
# ---------------------------------------------------------------------------

_Q55_WEIGHTS = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}
_Q55_BUDGET = 512


def _q55_oracle() -> str:
    from ..operators import rules as R

    weights_values = ", ".join(
        f"('{d}', {x})" for d, x in sorted(_Q55_WEIGHTS.items())
    )
    return f"""
WITH RECURSIVE base AS (
    SELECT doc_id, lang, text,
           string_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
gated AS (
    -- rule battery (same expressions as q49)
    SELECT doc_id, lang, tk
    FROM base
    WHERE NOT (len(tk) < {R.MIN_TOKENS} OR len(tk) > {R.MAX_TOKENS})
      AND 1.0 * list_sum(list_transform(tk, x -> length(x)))
          / nullif(len(tk), 0) BETWEEN {R.MEAN_LEN_LO} AND {R.MEAN_LEN_HI}
      AND 1.0 * len(list_filter(tk, x -> regexp_matches(x, '[^0-9\\s[:punct:]]')))
          / nullif(len(tk), 0) >= {R.ALPHA_MIN}
      AND coalesce(1.0 * length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
          / nullif(length(text), 0), 0) <= {R.SYMBOL_MAX}
      AND 1.0 - 1.0 * len(list_distinct(tk)) / nullif(len(tk), 0) <= {R.REPEAT_MAX}
      AND 2.0 * list_max(list_transform(list_distinct(
                list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])),
            g -> len(list_filter(
                list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]),
                x -> x = g)))) / nullif(len(tk), 0) <= {R.TOP_BIGRAM_MAX}
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, greatest(len(tk) - 3, 1) + 1),
                  i -> array_to_string(list_slice(tk, i, i + 3), ' ')))) AS g
    FROM base
),
bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
clean AS (
    -- decontaminate the gated, non-benchmark corpus
    SELECT * FROM gated
    WHERE doc_id % 50 <> 0
      AND doc_id NOT IN (
          SELECT DISTINCT s.doc_id FROM sh s
          WHERE s.doc_id % 50 <> 0 AND s.g IN (SELECT g FROM bench))
),
counts AS (SELECT lang, count(*) AS cnt FROM clean GROUP BY lang),
w(lang, wt) AS (VALUES {weights_values}),
quota AS (
    SELECT c.lang,
           CAST(floor(w.wt * min(c.cnt / w.wt) OVER ()) AS BIGINT) AS n
    FROM counts c JOIN w ON c.lang = w.lang
),
ranked AS (
    SELECT cl.doc_id, cl.lang, len(cl.tk) AS n_tokens,
           row_number() OVER (
               PARTITION BY cl.lang
               ORDER BY ('0x' || substr(md5('mix' || CAST(cl.doc_id AS VARCHAR)), 1, 8))::BIGINT
                        / 4294967296.0, cl.doc_id) AS srn
    FROM clean cl
),
sampled AS MATERIALIZED (
    -- MATERIALIZED: the greedy recursion below joins this every step;
    -- without it DuckDB re-runs the whole upstream funnel per step
    -- (>200x slower at sf0.1)
    SELECT r.doc_id, r.lang, r.n_tokens,
           row_number() OVER (PARTITION BY r.lang ORDER BY r.doc_id) AS rn
    FROM ranked r JOIN quota q ON r.lang = q.lang AND r.srn <= q.n
),
rec AS (
    SELECT lang, rn, n_tokens AS n, 0 AS pack_id, n_tokens AS fill
    FROM sampled WHERE rn = 1
    UNION ALL
    SELECT s.lang, s.rn, s.n_tokens,
           CASE WHEN r.fill + s.n_tokens > {_Q55_BUDGET} THEN r.pack_id + 1
                ELSE r.pack_id END,
           CASE WHEN r.fill + s.n_tokens > {_Q55_BUDGET} THEN s.n_tokens
                ELSE r.fill + s.n_tokens END
    FROM rec r JOIN sampled s ON s.lang = r.lang AND s.rn = r.rn + 1
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_curated,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(max(pack_id) + 1 AS BIGINT) AS n_packs,
       round(1.0 * sum(n) / ((max(pack_id) + 1) * {_Q55_BUDGET}) + 1e-9, 6)
           AS utilization
FROM rec
GROUP BY lang
ORDER BY lang
"""


@register(
    "q55_curation_funnel_v2",
    _q55_oracle(),
    "The round-3 curation operators composing end-to-end: Gopher-rule "
    "gate -> benchmark decontamination (4-grams vs the doc_id%50 bench "
    "set) -> mixture rebalance to target weights -> greedy "
    f"{_Q55_BUDGET}-token packing; per-language curated counts, pack "
    "counts and utilization, hash-checked through the whole funnel.",
    operators=(
        "curation-funnel",
        "rules-gopher",
        "decontam-ngram",
        "sampling-mixture",
        "packing-greedy",
    ),
    headline=True,
)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import decontam, packing, rules, sampling, text as T

    docs = load_table_parallel(spark, sf_dir, "documents")
    # tokenize ONCE: the gate rules, the decontamination grams, and the
    # token counts all consume the same split — carrying it as a column
    # (and materializing the gated pool, which the funnel reads twice:
    # gram-explode side + anti-join side) stops the funnel re-tokenizing
    # the corpus in three stages (was 24% of the headline bench)
    tk = docs.withColumn("tk", T.tokens("text"))
    gated = rules.filter_by_rules(tk, "text", toks="tk")
    pool = pin(
        gated.filter(col("doc_id") % 50 != 0)
        .select("doc_id", "lang", "tk")
    )
    bench = docs.filter(col("doc_id") % 50 == 0)
    clean = decontam.decontaminate(pool, bench, n=4, toks_col="tk")
    # pin the id-sized post-decontam frame: mixture_sample reads its
    # input TWICE (quota aggregate + windowed main) and packing a third
    # time — without this the gram-explode semi join re-executes per
    # consumer (measured ~3.3 s each at sf0.1, the funnel's top cost)
    curated = pin(clean.select(
        "doc_id", "lang", F.size("tk").alias("n_tokens")
    ))
    sampled = sampling.mixture_sample(
        curated,
        "lang",
        _Q55_WEIGHTS,
        "doc_id",
        salt="mix",
    )
    packed = packing.pack_greedy(sampled, "lang", "doc_id", "n_tokens", _Q55_BUDGET)
    return (
        packing.pack_summary(packed, "lang", "n_tokens", _Q55_BUDGET)
        .select(
            "lang",
            col("n_docs").cast("long").alias("n_curated"),
            col("n_tokens").cast("long"),
            col("n_packs").cast("long"),
            rnd(col("utilization"), 6).alias("utilization"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q56 — unigram-LM quality scoring (operators.lm): two-pass corpus stats
# ---------------------------------------------------------------------------

_Q56_LOW = -3.41  # compared on the 6-rounded score: deterministic cross-engine

_Q56_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, lang,
           len(string_split_regex(lower(text), '\\s+')) AS n,
           unnest(string_split_regex(lower(text), '\\s+')) AS token
    FROM documents
),
stats AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS N, CAST(count(*) AS BIGINT) AS V FROM stats),
scored AS (
    SELECT t.doc_id, t.lang,
           round(sum(ln((s.cnt + 1.0) / (tot.N + 1.0 * tot.V))) / t.n + 1e-9, 6)
               AS score
    FROM toks t JOIN stats s ON t.token = s.token CROSS JOIN tot
    GROUP BY t.doc_id, t.lang, t.n
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(score) + 1e-9, 6) AS avg_logprob,
       CAST(sum(CASE WHEN score < {_Q56_LOW} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_low_quality
FROM scored
GROUP BY lang
ORDER BY lang
"""


@register(
    "q56_unigram_lm_scoring",
    _Q56_ORACLE,
    "Unigram-LM quality scoring: pass 1 builds corpus token statistics "
    "(one token-keyed shuffle, |vocab| rows), pass 2 broadcast-joins "
    "them back and scores each document's add-1-smoothed mean log-"
    "likelihood; per-language means and low-scoring counts (score "
    f"< {_Q56_LOW} on the rounded value, so the threshold compare is "
    "deterministic cross-engine).",
    operators=("lm-unigram", "A3", "A4", "J1"),
)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import lm

    docs = load_table_parallel(spark, sf_dir, "documents")
    scored = lm.doc_logprob_scores(docs, ["doc_id", "lang"]).withColumn(
        "score", rnd(col("avg_logprob"), 6)
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            rnd(F.avg("score"), 6).alias("avg_logprob"),
            F.sum((col("score") < lit(_Q56_LOW)).cast("long")).alias(
                "n_low_quality"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q57 — BM25 corpus retrieval (operators.retrieval)
# ---------------------------------------------------------------------------

_Q57_TERMS = ("table", "scan", "fast")
_Q57_K = 10


def _q57_oracle() -> str:
    from ..operators.retrieval import B, K1

    terms = ", ".join(f"'{t}'" for t in _Q57_TERMS)
    return f"""
WITH lengths AS (
    SELECT doc_id, lang, len(string_split_regex(lower(text), '\\s+')) AS dl
    FROM documents
),
const AS (
    SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lengths
),
hits AS (
    SELECT doc_id, token, count(*) AS tf
    FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
        FROM documents
    )
    WHERE token IN ({terms})
    GROUP BY doc_id, token
),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df_t FROM hits GROUP BY token),
scored AS (
    SELECT h.doc_id,
           sum(
               ln(1.0 + (c.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
               * h.tf * {K1 + 1.0!r}
               / (h.tf + {K1!r} * (1.0 - {B!r} + {B!r} * l.dl / c.avgdl))
           ) AS bm25,
           count(*) AS n_terms_matched
    FROM hits h
    JOIN dfreq d ON h.token = d.token
    JOIN lengths l ON h.doc_id = l.doc_id
    CROSS JOIN const c
    GROUP BY h.doc_id
)
SELECT s.doc_id, l.lang,
       round(s.bm25 + 1e-9, 6) AS bm25,
       CAST(s.n_terms_matched AS BIGINT) AS n_terms_matched
FROM scored s JOIN lengths l ON s.doc_id = l.doc_id
-- sort on the ROUNDED score (like the Spark side) so boundary ties at
-- the k-th rank break identically in both engines
ORDER BY round(s.bm25 + 1e-9, 6) DESC, s.doc_id
LIMIT {_Q57_K}
"""


@register(
    "q57_bm25_retrieval",
    _q57_oracle(),
    "Okapi BM25 corpus retrieval for a literal term query: the token "
    "IN-filter lands inside the explode projection so only matching "
    "(doc, term) rows shuffle; per-term document frequencies and the "
    "corpus constants broadcast back; top-k via TakeOrderedAndProject.",
    operators=("retrieval-bm25", "O1", "J1", "A3"),
)
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import retrieval

    docs = load_table_parallel(spark, sf_dir, "documents")
    scored = retrieval.bm25_scores(docs, list(_Q57_TERMS), ["doc_id", "lang"])
    return (
        scored.select(
            "doc_id",
            "lang",
            rnd(col("bm25"), 6).alias("bm25"),
            col("n_terms_matched").cast("long"),
        )
        .orderBy(col("bm25").desc(), "doc_id")
        .limit(_Q57_K)
    )


# ---------------------------------------------------------------------------
# q58 — corpus heavy hitters: top-k frequent word bigrams
# ---------------------------------------------------------------------------

_Q58_N = 2
_Q58_K = 25

_Q58_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
    FROM documents
),
bg AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) - {_Q58_N} + 2),
                                 i -> array_to_string(t[i:i+{_Q58_N}-1], ' '))) AS ngram
    FROM toks
),
per_doc AS (
    SELECT ngram, doc_id, count(*) AS c
    FROM bg
    GROUP BY ngram, doc_id
)
SELECT ngram,
       CAST(sum(c) AS BIGINT) AS occurrences,
       count(*) AS doc_freq
FROM per_doc
GROUP BY ngram
ORDER BY occurrences DESC, ngram
LIMIT {_Q58_K}
"""


@register(
    "q58_ngram_heavy_hitters",
    _Q58_ORACLE,
    "Corpus-wide top-25 most frequent word bigrams with occurrence and "
    "document-frequency counts — the frequent-sequence diagnostic a "
    "dedup/quality pipeline runs before choosing shingle widths.  "
    "Two-level aggregate (map-side combine on (ngram, doc), then one "
    "row per pair to the ngram reduce); top-k via TakeOrderedAndProject.",
    operators=("text-heavy-hitters", "A1", "A8", "O1"),
    headline=True,
)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    return text.ngram_heavy_hitters(docs, "doc_id", "text", n=_Q58_N, k=_Q58_K)


# ---------------------------------------------------------------------------
# q59 — incremental gold refresh: base partial + delta partial == full scan
# ---------------------------------------------------------------------------

_Q59_CUTOFF = "1999-01-01"

_Q59_ORACLE = f"""
SELECT n_name,
       extract(year FROM o_orderdate) AS order_year,
       count(*) AS n_orders,
       round(sum(o_totalprice) + 1e-9, 4) AS total_value,
       round(sum(o_totalprice) / count(*) + 1e-9, 4) AS avg_value
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, order_year
HAVING count(*) >= 5
ORDER BY n_name, order_year
"""


@register(
    "q59_incremental_gold_merge",
    _Q59_ORACLE,
    "Incremental gold maintenance: the nation×year revenue aggregate is "
    "produced by merging a BASE partial (orders before the cutoff) with "
    "a DELTA partial (orders after), and must equal the oracle's full "
    "recompute exactly.  Partials carry only additive components "
    "(count, sum); avg is re-derived after the merge.  The merge "
    "shuffles |keys| rows, not fact rows — the refresh cost a 100 TB "
    "gold pipeline pays is the delta scan alone.",
    operators=("incremental-merge", "A3", "A8", "J1"),
)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import incremental

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    # customer scales WITH the fact tables (TPC-H SF) — no forced
    # broadcast (AQE decides); nation is a bounded 25-row dim
    enriched = o.join(c, col("o_custkey") == col("c_custkey")).join(
        F.broadcast(nat), col("c_nationkey") == col("n_nationkey")
    )

    def partial(batch: DataFrame) -> DataFrame:
        return batch.groupBy(
            "n_name", F.year("o_orderdate").alias("order_year")
        ).agg(
            F.count("*").alias("n_orders"),
            F.sum("o_totalprice").alias("total_value"),
        )

    base = partial(enriched.filter(col("o_orderdate") < lit(_Q59_CUTOFF)))
    delta = partial(enriched.filter(col("o_orderdate") >= lit(_Q59_CUTOFF)))
    merged = incremental.merge_partials(
        [base, delta],
        keys=["n_name", "order_year"],
        merge_spec={"n_orders": "count", "total_value": "sum"},
    )
    return (
        merged.filter(col("n_orders") >= 5)
        .select(
            "n_name",
            "order_year",
            "n_orders",
            rnd(col("total_value"), 4).alias("total_value"),
            rnd(col("total_value") / col("n_orders"), 4).alias("avg_value"),
        )
        .orderBy("n_name", "order_year")
    )


# ---------------------------------------------------------------------------
# q60 — edit-distance near-dup pairs (prefix-blocked banded levenshtein)
# ---------------------------------------------------------------------------

_Q60_MAX_DIST = 8
_Q60_PREFIX = 16

_Q60_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS txt
    FROM documents
),
b AS (
    SELECT doc_id, txt,
           substr(txt, 1, {_Q60_PREFIX}) AS blk,
           length(txt) AS ln
    FROM d
)
SELECT a.doc_id AS doc_a,
       c.doc_id AS doc_b,
       CAST(levenshtein(a.txt, c.txt) AS INT) AS edit_dist
FROM b a
JOIN b c ON a.blk = c.blk
        AND a.doc_id < c.doc_id
        AND abs(a.ln - c.ln) <= {_Q60_MAX_DIST}
WHERE levenshtein(a.txt, c.txt) <= {_Q60_MAX_DIST}
ORDER BY doc_a, doc_b
"""


@register(
    "q60_edit_distance_near_dups",
    _Q60_ORACLE,
    "Character-level near-dup pairs: edit distance ≤ 8 among docs "
    "sharing a 16-char normalized prefix block.  Candidate generation "
    "is the block equi-join (never all-pairs); the length-difference "
    "prefilter is a free edit-distance lower bound; verification uses "
    "the thresholded banded levenshtein (O(d·len), not O(len²)).",
    operators=("dedup-edit-distance", "J1", "P7"),
)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    pairs = dedup.edit_distance_pairs(
        docs, "doc_id", "text", max_dist=_Q60_MAX_DIST, prefix_len=_Q60_PREFIX
    )
    return pairs.withColumn("edit_dist", col("edit_dist").cast("int")).orderBy(
        "doc_a", "doc_b"
    )


# ---------------------------------------------------------------------------
# q61 — per-source corpus health dashboard (dup rate × lang-ID × tokens)
# ---------------------------------------------------------------------------

def _q61_oracle() -> str:
    langs = sorted(text.LANG_STOPWORDS)
    hits = ",\n           ".join(
        f"{_hits_sql(text.LANG_STOPWORDS[lang])} AS h_{lang}" for lang in langs
    )
    best = ", ".join(f"h_{lang}" for lang in langs)
    pred_cases = "\n                ".join(
        f"WHEN h_{lang} = best THEN '{lang}'" for lang in langs
    )
    return f"""
WITH t AS (
    SELECT source, lang,
           string_split_regex(lower(text), '\\s+') AS toks,
           substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 16) AS fp
    FROM documents
),
scored AS (
    SELECT source, lang, toks, fp,
           {hits},
           greatest({best}) AS best
    FROM t
),
pred AS (
    SELECT source, lang, toks, fp,
           CASE WHEN best = 0 THEN 'und'
                {pred_cases}
           END AS pred_lang
    FROM scored
)
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT fp) AS n_unique,
       round(100.0 * (1 - 1.0 * count(DISTINCT fp) / count(*)) + 1e-9, 4) AS dup_pct,
       round(avg(len(toks)) + 1e-9, 4) AS avg_tokens,
       round(100.0 * sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) / count(*) + 1e-9, 4) AS langid_agree_pct
FROM pred
GROUP BY source
ORDER BY source
"""


@register(
    "q61_source_health_dashboard",
    _q61_oracle(),
    "Per-source corpus health: exact-dup rate (distinct fingerprints vs "
    "docs), mean token count, and label-vs-predicted language agreement "
    "— the triage view that decides which source gets recrawled, "
    "re-cleaned, or dropped.  Single scan, one aggregate; every metric "
    "is a column expression (fingerprint/lang-ID shared with q23/q24).",
    operators=("text-dashboard", "A2", "A4"),
)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    enriched = docs.select(
        "source",
        "lang",
        text.fingerprint("text").alias("fp"),
        text.token_count("text").alias("n_toks"),
        text.predicted_lang("text").alias("pred_lang"),
    )
    return (
        enriched.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
            rnd(
                100.0 * (1 - F.countDistinct("fp") / F.count("*")), 4
            ).alias("dup_pct"),
            rnd(F.avg("n_toks"), 4).alias("avg_tokens"),
            rnd(
                100.0
                * F.sum(F.when(col("pred_lang") == col("lang"), 1).otherwise(0))
                / F.count("*"),
                4,
            ).alias("langid_agree_pct"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q62 — distributed k-means (Lloyd), oracle-checked iteration trajectory
# ---------------------------------------------------------------------------

#: k ∝ corpus size (SemDeDup's regime — clusters stay ~small): 16 keeps
#: mean cluster size ≈ 125 at the sf0.1 corpus, cutting q64's
#: within-cluster pair volume 4× vs the old fixed k=4 while staying a
#: fixed literal the unrolled DuckDB oracle can replicate.
_Q62_K = 16
_Q62_ITERS = 2


def _kmeans_ctes(
    k: int,
    iters: int,
    vsql: str = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
    prefix: str = "",
) -> tuple[str, str]:
    """Lloyd iterations unrolled as chained CTEs: returns (cte_block,
    final_assignment_cte_name); the final assignment carries (vec_id, v,
    cid, dist2) under the last centroids ``{prefix}c{iters}``.  Both
    engines round centroids and distances (nudged, 6 dp) at every step
    and break argmin ties by lowest cluster id, so the full trajectory —
    not just the final stats — is deterministic across engines.
    Shared by q62 (cluster summary), q64 (SemDeDup pair join) and q164
    (centroid re-train remediation, via ``vsql``/``prefix`` over the
    drifted corpus CTE)."""
    vname = f"{prefix}v"

    def assign(cent_cte: str, name: str) -> str:
        return f"""{name}_d AS (
    SELECT v.vec_id, v.v, c.cid,
           round(list_sum(list_transform(range(1, len(v.v) + 1),
                 i -> (v.v[i] - c.c[i]) * (v.v[i] - c.c[i]))) + 1e-9, 6) AS dist2
    FROM {vname} v CROSS JOIN {cent_cte} c
),
{name} AS (
    SELECT vec_id, v, cid, dist2
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
          FROM {name}_d)
    WHERE rn = 1
)"""

    def update(assign_cte: str, name: str, prev_cent: str) -> str:
        # a cluster that received no members keeps its previous centroid
        # (LEFT JOIN + coalesce) — matching kmeans_fit, which only
        # overwrites coordinates for cids present in the update aggregate
        return f"""{name}_new AS (
    SELECT cid, list(m ORDER BY pos) AS c
    FROM (
        SELECT cid, u.pos AS pos, round(avg(u.x) + 1e-9, 6) AS m
        FROM (SELECT cid, unnest(list_transform(range(1, len(v) + 1),
                     i -> {{'pos': i, 'x': v[i]}})) AS u
              FROM {assign_cte}) q
        GROUP BY cid, u.pos
    ) m
    GROUP BY cid
),
{name} AS (
    SELECT p.cid, coalesce(n.c, p.c) AS c
    FROM {prev_cent} p LEFT JOIN {name}_new n ON p.cid = n.cid
)"""

    parts = [
        f"""{vname} AS (
    {vsql}
)""",
        f"""{prefix}c0 AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
    FROM (SELECT vec_id, v FROM {vname} ORDER BY vec_id LIMIT {k}) seed
)""",
    ]
    cent = f"{prefix}c0"
    for it in range(1, iters + 1):
        parts.append(assign(cent, f"{prefix}a{it}"))
        parts.append(update(f"{prefix}a{it}", f"{prefix}c{it}", cent))
        cent = f"{prefix}c{it}"
    parts.append(assign(cent, f"{prefix}af"))
    return ",\n".join(parts), f"{prefix}af"


def _q62_oracle(k: int = _Q62_K, iters: int = _Q62_ITERS) -> str:
    ctes, af = _kmeans_ctes(k, iters)
    return f"""
WITH {ctes}
SELECT {af}.cid AS cluster_id,
       count(*) AS n_members,
       round(avg({af}.dist2) + 1e-9, 6) AS avg_dist2,
       any_value(c.c[1]) AS centroid_c1
FROM {af} JOIN c{iters} c ON {af}.cid = c.cid
GROUP BY {af}.cid
ORDER BY cluster_id
"""


@register(
    "q62_kmeans_clusters",
    _q62_oracle(),
    "Distributed Lloyd k-means (k=4, 2 iterations, deterministic "
    "first-k init) over the embedding corpus: assignment is a pure map "
    "against broadcast centroid literals, the update a k×dim aggregate "
    "— per-iteration cost is one scan, driver traffic is the centroid "
    "matrix only.  Rounded centroids+distances at every step make the "
    "whole iterative trajectory oracle-checkable (the usual k-means "
    "float-association drift is frozen out).",
    operators=("cluster-kmeans", "A3", "W2"),
)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cluster

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    return cluster.kmeans_summary(
        emb, "vec_id", "embedding", k=_Q62_K, iters=_Q62_ITERS
    )


# ---------------------------------------------------------------------------
# q63 — weighted PageRank over the nation trade graph
# ---------------------------------------------------------------------------

_Q63_ITERS = 3
_Q63_D = 0.85


def _q63_oracle(iters: int = _Q63_ITERS) -> str:
    """Unrolled PageRank sweeps.  The edge list is the nation→nation
    order-flow graph (customer nation → supplier nation, weight = item
    count); both engines round ranks after every sweep and spell the
    teleport arithmetic identically."""
    parts = [
        """edges AS MATERIALIZED (
    SELECT cn.n_name AS src, sn.n_name AS dst, count(*) AS w
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    GROUP BY cn.n_name, sn.n_name
)""",
        """nodes AS (
    SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ) u
)""",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        """outw AS (
    SELECT src, sum(w) AS ow FROM edges GROUP BY src
)""",
        """e_norm AS (
    SELECT e.src, e.dst, 1.0 * e.w / o.ow AS share
    FROM edges e JOIN outw o ON e.src = o.src
)""",
        """r0 AS (
    SELECT node, round(1.0 / nn.n + 1e-9, 6) AS rank
    FROM nodes CROSS JOIN nn
)""",
    ]
    prev = "r0"
    for it in range(1, iters + 1):
        parts.append(f"""contrib{it} AS (
    SELECT e.dst AS node, sum(r.rank * e.share) AS c
    FROM e_norm e JOIN {prev} r ON e.src = r.node
    GROUP BY e.dst
)""")
        parts.append(f"""dang{it} AS (
    SELECT coalesce(sum(r.rank), 0.0) AS dm
    FROM {prev} r LEFT JOIN outw o ON r.node = o.src
    WHERE o.src IS NULL
)""")
        parts.append(f"""r{it} AS (
    SELECT n.node,
           round((1.0 - {_Q63_D}) / nn.n
                 + {_Q63_D} * (coalesce(c.c, 0.0) + d.dm / nn.n) + 1e-9, 6) AS rank
    FROM nodes n
    LEFT JOIN contrib{it} c ON n.node = c.node
    CROSS JOIN nn CROSS JOIN dang{it} d
)""")
        prev = f"r{it}"
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT node AS n_name, rank AS pagerank
FROM {prev}
ORDER BY pagerank DESC, n_name
"""


@register(
    "q63_nation_pagerank",
    _q63_oracle(),
    "Weighted PageRank (3 sweeps, damping 0.85, dangling redistribution) "
    "over the nation→nation order-flow graph.  Ranks stay a distributed "
    "node-keyed table; each sweep is one edges⋈ranks shuffle + a "
    "dst aggregate + a broadcast 1-row dangling term.  Per-sweep rank "
    "rounding freezes float-association drift, making the iterative "
    "trajectory oracle-checkable — the graph companion to q62's k-means.",
    operators=("graph-pagerank", "J1", "A3"),
)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    cn = nat.select(col("n_nationkey").alias("cn_key"), col("n_name").alias("src"))
    sn = nat.select(col("n_nationkey").alias("sn_key"), col("n_name").alias("dst"))
    edges = (
        li.join(o, col("l_orderkey") == col("o_orderkey"))
        # customer/supplier scale with SF — AQE decides their joins;
        # the nation role frames stay broadcast (25 rows, bounded)
        .join(c, col("o_custkey") == col("c_custkey"))
        .join(F.broadcast(cn), col("c_nationkey") == col("cn_key"))
        .join(s, col("l_suppkey") == col("s_suppkey"))
        .join(F.broadcast(sn), col("s_nationkey") == col("sn_key"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    ranks = graph.pagerank(edges, iters=_Q63_ITERS, damping=_Q63_D)
    return ranks.select(col("node").alias("n_name"), col("rank").alias("pagerank")).orderBy(
        col("pagerank").desc(), "n_name"
    )


# ---------------------------------------------------------------------------
# q64 — SemDeDup: semantic near-dup pairs under k-means cluster blocking
# ---------------------------------------------------------------------------

_Q64_THRESHOLD = 0.25
#: oversized-cluster subdivision: clusters beyond this size split on
#: hyperplane sign bits (ceil(log2(n/cap)) bits).  At sf0.01/sf0.001
#: every cluster is under the cap (depth 0 — subdivision is the
#: identity), so the driver gate checks the UNsplit semantics too; at
#: 10×-scale corpora the cap bounds the within-cluster pair join.
_Q64_MAXC = 128
_Q64_NPLANES = 16
_PLANES_16x64 = similarity.random_hyperplanes(_Q64_NPLANES, 64, seed=42)


def _bucket16_sql(vexpr: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN list_dot_product({vexpr}, {_plane_sql(p)}) > 0 "
        f"THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i, p in enumerate(_PLANES_16x64)
    )
    return f"({terms})"


def _q64_oracle() -> str:
    ctes, af = _kmeans_ctes(_Q62_K, _Q62_ITERS)
    return f"""
WITH {ctes},
sizes AS (SELECT cid, count(*) AS n FROM {af} GROUP BY cid),
depths AS (
    SELECT cid,
           least(greatest(CAST(ceil(log2(n / {float(_Q64_MAXC)!r})) AS INT), 0),
                 {_Q64_NPLANES}) AS depth
    FROM sizes
),
sub AS (
    SELECT {af}.vec_id, {af}.v, {af}.cid,
           {_bucket16_sql(f"{af}.v")} % CAST(pow(2, d.depth) AS BIGINT) AS sb
    FROM {af} JOIN depths d ON {af}.cid = d.cid
),
pairs AS (
    SELECT a.cid AS cluster_id,
           a.vec_id AS doc_a,
           b2.vec_id AS doc_b,
           round(list_cosine_similarity(a.v, b2.v) + 1e-9, 6) AS cos_sim
    FROM sub a
    JOIN sub b2 ON a.cid = b2.cid AND a.sb = b2.sb AND a.vec_id < b2.vec_id
)
SELECT cluster_id, doc_a, doc_b, cos_sim
FROM pairs
WHERE cos_sim >= {_Q64_THRESHOLD}
ORDER BY cluster_id, doc_a, doc_b
"""


@register(
    "q64_semdedup_pairs",
    _q64_oracle(),
    "SemDeDup (Abbas et al. 2023): semantic near-dup pairs compared "
    "ONLY within a k-means cluster — the clustering is the candidate "
    "blocker, sharing q62's oracle-checkable rounded-trajectory "
    f"assignment; clusters beyond {_Q64_MAXC} members subdivide on "
    "hyperplane sign bits (oracle-replicated from the same plane "
    "literals), so within-cluster pair work is bounded at any corpus "
    "size.  doc_b (the higher id) is the drop candidate.",
    operators=("dedup-semantic", "cluster-kmeans"),
    headline=True,
)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cluster

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    pairs = cluster.semdedup_pairs(
        emb, "vec_id", "embedding", k=_Q62_K, iters=_Q62_ITERS,
        threshold=_Q64_THRESHOLD, max_cluster_size=_Q64_MAXC,
        n_planes=_Q64_NPLANES, seed=42,
    )
    return pairs.orderBy("cluster_id", "doc_a", "doc_b")


# ---------------------------------------------------------------------------
# q65 — TF-IDF characteristic terms per language (corpus profiling)
# ---------------------------------------------------------------------------

_Q65_TOPK = 5

_Q65_ORACLE = f"""
WITH toks AS (
    SELECT lang, doc_id,
           unnest(string_split_regex(lower(text), '\\s+')) AS term
    FROM documents
),
toks_ne AS (SELECT * FROM toks WHERE term <> ''),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
tf AS (SELECT lang, term, count(*) AS tf FROM toks_ne GROUP BY lang, term),
dfreq AS (
    SELECT term, count(*) AS doc_freq
    FROM (SELECT DISTINCT doc_id, term FROM toks_ne)
    GROUP BY term
),
scored AS (
    SELECT tf.lang, tf.term, tf.tf, dfreq.doc_freq,
           round(tf.tf * ln(1.0 * n.n_docs / dfreq.doc_freq) + 1e-9, 6)
               AS tfidf
    FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY tfidf DESC, term
    ) AS rank
    FROM scored
)
SELECT lang, CAST(rank AS BIGINT) AS rank, term,
       CAST(tf AS BIGINT) AS tf, CAST(doc_freq AS BIGINT) AS doc_freq, tfidf
FROM ranked WHERE rank <= {_Q65_TOPK}
ORDER BY lang, rank
"""


@register(
    "q65_tfidf_lang_terms",
    _Q65_ORACLE,
    "Top characteristic terms per language by aggregate TF-IDF "
    "(group-level tf × corpus-wide ln(N/df)) — the corpus-profiling "
    "diagnostic for what vocabulary distinguishes each slice.  One "
    "explode, two additive aggregates with map-side combine, a "
    "broadcast N scalar, and a per-group top-k window over the "
    "vocabulary-sized score table; nothing pair-shaped.",
    operators=("text-tfidf", "A1", "A8", "W2", "O1"),
)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import retrieval

    docs = load_table_parallel(spark, sf_dir, "documents")
    return retrieval.tfidf_group_terms(
        docs, "doc_id", "text", "lang", top_k=_Q65_TOPK
    ).orderBy("lang", "rank")


# ---------------------------------------------------------------------------
# q66 — Count-Min sketch token frequencies (portable, mergeable)
# ---------------------------------------------------------------------------

_Q66_D = 4
_Q66_W = 256
_Q66_PROBES = 10


def _q66_oracle() -> str:
    return f"""
WITH toks AS (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
    FROM documents
),
toks_ne AS (SELECT * FROM toks WHERE token <> ''),
cells AS (
    SELECT i.i AS row_i,
           ('0x' || substr(md5('cms:' || i.i || ':' || token), 1, 8))::BIGINT
               % {_Q66_W} AS bucket,
           count(*) AS cnt
    FROM toks_ne CROSS JOIN (SELECT unnest(range({_Q66_D})) AS i) i
    GROUP BY row_i, bucket
),
exact AS (
    SELECT token, count(*) AS exact_count
    FROM toks_ne GROUP BY token
    ORDER BY exact_count DESC, token LIMIT {_Q66_PROBES}
),
probe_cells AS (
    SELECT e.token, e.exact_count, i.i AS row_i,
           ('0x' || substr(md5('cms:' || i.i || ':' || e.token), 1, 8))::BIGINT
               % {_Q66_W} AS bucket
    FROM exact e CROSS JOIN (SELECT unnest(range({_Q66_D})) AS i) i
)
SELECT p.token,
       CAST(p.exact_count AS BIGINT) AS exact_count,
       CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_count
FROM probe_cells p LEFT JOIN cells c
  ON p.row_i = c.row_i AND p.bucket = c.bucket
GROUP BY p.token, p.exact_count
ORDER BY exact_count DESC, token
"""


@register(
    "q66_countmin_frequencies",
    _q66_oracle(),
    "Portable Count-Min sketch over token occurrences (md5 row hashes, "
    f"{_Q66_D}×{_Q66_W} cells — bit-identical in the DuckDB oracle, like "
    "the q54 HLL): the top-10 exact tokens probed against the sketch, "
    "estimate ≥ truth with collision-mass overestimate only.  Partials "
    "are additive (union + sum-merge across shards/days) and the whole "
    "sketch is model-sized, so the incremental-rollup shuffle never "
    "scales with the data.",
    operators=("sketch-countmin", "A1", "A8"),
)
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketch, text as T

    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = docs.select(F.explode(T.tokens("text")).alias("token")).filter(
        col("token") != ""
    )
    partials = sketch.cms_partials(toks, "token", d=_Q66_D, w=_Q66_W)
    exact = (
        toks.groupBy("token")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(col("exact_count").desc(), "token")
        .limit(_Q66_PROBES)
    )
    est = sketch.cms_estimate(
        partials, exact, "token", d=_Q66_D, w=_Q66_W
    )
    return est.select(
        "token",
        col("exact_count").cast("long"),
        col("cms_count").cast("long"),
    ).orderBy(col("exact_count").desc(), "token")


# ---------------------------------------------------------------------------
# q67 — deterministic weighted sampling without replacement (E-S top-k)
# ---------------------------------------------------------------------------

_Q67_K = 20

_Q67_ORACLE = f"""
WITH keyed AS (
    SELECT doc_id, lang, n_chars,
           round(ln(-ln(
               (('0x' || substr(md5('ws' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   + 0.5) / 4294967296.0))
               - ln(n_chars) + 1e-9, 9) AS es_key
    FROM documents
    WHERE n_chars > 0
)
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, es_key
FROM keyed
ORDER BY es_key ASC, doc_id
LIMIT {_Q67_K}
"""


@register(
    "q67_weighted_sample",
    _Q67_ORACLE,
    "Deterministic weighted sampling WITHOUT replacement (Efraimidis-"
    "Spirakis): rank by ln(-ln u) - ln w (the log form of u^(1/w) — "
    "immune to the rounding collapse the direct form suffers at large "
    f"weights), take the {_Q67_K} smallest (TakeOrderedAndProject) — "
    "inclusion probability proportional to n_chars in ONE pass, no "
    "per-row state, stable across layouts/engines/re-runs (9-dp "
    "rank-rounding + doc_id tie-break absorbs last-ulp libm drift).",
    operators=("sampling-weighted", "O1"),
)
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = sampling.weighted_sample(docs, "doc_id", "n_chars", k=_Q67_K)
    return out.select(
        "doc_id", "lang", col("n_chars").cast("long"), "es_key"
    ).orderBy(col("es_key").asc(), "doc_id")


# ---------------------------------------------------------------------------
# q68 — duplicated n-gram span statistics (exact-substring dedup signal)
# ---------------------------------------------------------------------------

_Q68_N = 10


def _q68_oracle() -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, source,
           string_split_regex(lower(text), '\\s+') AS t
    FROM documents
),
pos AS (
    SELECT doc_id, source,
           unnest(list_transform(
               range(1, greatest(len(t) - {_Q68_N - 1}, 1) + 1),
               i -> array_to_string(t[i:i+{_Q68_N - 1}], ' ')
           )) AS gram
    FROM toks
),
dup AS (
    SELECT gram
    FROM (SELECT DISTINCT doc_id, gram FROM pos)
    GROUP BY gram HAVING count(*) >= 2
),
per_doc AS (
    SELECT p.doc_id, any_value(p.source) AS source,
           count(*) AS n_spans,
           sum(CASE WHEN d.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
    FROM pos p LEFT JOIN dup d ON p.gram = d.gram
    GROUP BY p.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(1.0 * n_dup / n_spans) + 1e-9, 6) AS avg_dup_frac,
       CAST(sum(CASE WHEN 1.0 * n_dup / n_spans > 0.5 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_heavy_dup,
       CAST(sum(n_dup) AS BIGINT) AS total_dup_spans
FROM per_doc
GROUP BY source
ORDER BY source
"""


@register(
    "q68_duplicated_spans",
    _q68_oracle(),
    "Exact duplicated-span statistics (Lee et al. 2022 exact-substring "
    f"dedup signal): fraction of each document's token {_Q68_N}-gram "
    "POSITIONS whose n-gram occurs in ≥2 documents, rolled up per "
    "source.  xxhash64 position table + one count_distinct "
    "doc-frequency shuffle + one left-semi equi-join on the gram hash "
    "— O(total tokens), never pair-shaped.",
    headline=True,
    operators=("dedup-span", "A1", "A8", "J8"),
)
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    docs = load_table_parallel(spark, sf_dir, "documents")
    return D.duplicated_span_stats(
        docs, "doc_id", "text", n=_Q68_N, group_col="source"
    )


# ---------------------------------------------------------------------------
# q69 — Zipf-law fit of the token frequency distribution
# ---------------------------------------------------------------------------

_Q69_TOPR = 100

_Q69_ORACLE = f"""
WITH toks AS (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
    FROM documents
),
toks_ne AS (SELECT * FROM toks WHERE token <> ''),
freq AS (SELECT token, count(*) AS cnt FROM toks_ne GROUP BY token),
ranked AS (
    SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank
    FROM freq
),
fit AS (
    SELECT regr_slope(ln(cnt), ln(rank)) AS slope,
           regr_r2(ln(cnt), ln(rank)) AS r2
    FROM ranked WHERE rank <= {_Q69_TOPR}
)
SELECT CAST((SELECT sum(cnt) FROM freq) AS BIGINT) AS n_tokens,
       CAST((SELECT count(*) FROM freq) AS BIGINT) AS vocab_size,
       round(fit.slope + 1e-9, 6) AS zipf_slope,
       round(fit.r2 + 1e-9, 6) AS zipf_r2
FROM fit
"""


@register(
    "q69_zipf_fit",
    _Q69_ORACLE,
    "Zipf-law diagnostic: OLS slope/R² of ln(freq) vs ln(rank) over the "
    f"top-{_Q69_TOPR} token ranks (a natural corpus fits slope ≈ −1; "
    "synthetic or heavily-duplicated text departs visibly — a one-row "
    "corpus fingerprint cheap enough to run per ingest batch).  One "
    "explode + two-level count, a top-R rank window, and a built-in "
    "regression aggregate; all JVM-side.",
    operators=("text-zipf", "A1", "A8", "W2", "A-regr"),
)
def q69(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import text as T

    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = docs.select(F.explode(T.tokens("text")).alias("token")).filter(
        col("token") != ""
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    # Distributed top-R (TakeOrderedAndProject) FIRST, then rank inside
    # the bounded R-row frame — never a global row_number window over
    # the full vocabulary (that would single-partition-sort 10⁸ rows at
    # 100 TB; limit() pushes a per-partition top-R before the merge).
    top = freq.orderBy(col("cnt").desc(), col("token")).limit(_Q69_TOPR)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(col("cnt").desc(), col("token"))
        ),
    )
    fit = ranked.agg(
        F.regr_slope(F.log("cnt"), F.log("rank")).alias("slope"),
        F.regr_r2(F.log("cnt"), F.log("rank")).alias("r2"),
    )
    totals = freq.agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
    )
    return totals.crossJoin(F.broadcast(fit)).select(
        "n_tokens",
        "vocab_size",
        rnd(col("slope"), 6).alias("zipf_slope"),
        rnd(col("r2"), 6).alias("zipf_r2"),
    )


# ---------------------------------------------------------------------------
# q70 — column profiler (data-quality introspection over any table)
# ---------------------------------------------------------------------------

_Q70_ORACLE = """
SELECT 'doc_id' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
       CAST(min(doc_id) AS VARCHAR) AS min_value,
       CAST(max(doc_id) AS VARCHAR) AS max_value
FROM documents
UNION ALL
SELECT 'lang', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT lang) AS BIGINT),
       CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'source', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT source) AS BIGINT),
       CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'n_chars', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT n_chars) AS BIGINT),
       CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
FROM documents
ORDER BY column_name
"""


@register(
    "q70_column_profile",
    _Q70_ORACLE,
    "Generic column profiler (operators/profile.py): per-column row/"
    "null/distinct counts and min/max over the documents table — the "
    "ingest-time data-quality introspection every warehouse runs.  ONE "
    "pass over the table: all columns' aggregates are computed in a "
    "single grouped-aggregate stage (count_distinct per column in the "
    "same agg), then unpivoted to the per-column report shape; never "
    "one scan per column.",
    operators=("profile-table", "A1", "A2", "A3", "S17"),
)
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import profile

    docs = load_table_parallel(spark, sf_dir, "documents")
    return profile.profile_columns(
        docs, ["doc_id", "lang", "source", "n_chars"]
    ).orderBy("column_name")


# ---------------------------------------------------------------------------
# q71 — ordered event funnel (view → click → purchase conversion)
# ---------------------------------------------------------------------------

_Q71_ORACLE = """
WITH v AS (
    SELECT user_id, min(ts) AS t_view FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(e.ts) AS t_click
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t_view
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, min(e.ts) AS t_purchase
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    GROUP BY e.user_id
),
counts AS (
    SELECT 1 AS step, 'view' AS stage, (SELECT count(*) FROM v) AS n_users
    UNION ALL
    SELECT 2, 'click_after_view', (SELECT count(*) FROM c)
    UNION ALL
    SELECT 3, 'purchase_after_click', (SELECT count(*) FROM p)
)
SELECT CAST(step AS BIGINT) AS step, stage,
       CAST(n_users AS BIGINT) AS n_users,
       round(1.0 * n_users
             / nullif((SELECT n_users FROM counts WHERE step = 1), 0) + 1e-9, 6)
           AS pct_of_top
FROM counts
ORDER BY step
"""


@register(
    "q71_event_funnel",
    _Q71_ORACLE,
    "Ordered conversion funnel: users with a view, whose FIRST click "
    "follows their first view, whose first purchase follows THAT click "
    "— the sequencing (each stage anchored to the previous stage's "
    "timestamp, not mere event presence) is what funnel analysis means. "
    " Three per-user min-aggregates chained by join; every shuffle key "
    "is user_id, so at scale one repartition serves all three stages.",
    operators=("funnel-ordered", "A3", "J1", "A10"),
)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(col("event_type") == "click")
        .join(v, "user_id")
        .filter(col("ts") > col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(col("ts") > col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    counts = (
        v.agg(F.count("*").alias("n_users")).select(
            lit(1).cast("long").alias("step"), lit("view").alias("stage"), "n_users"
        )
        .unionByName(
            c.agg(F.count("*").alias("n_users")).select(
                lit(2).cast("long").alias("step"),
                lit("click_after_view").alias("stage"),
                "n_users",
            )
        )
        .unionByName(
            p.agg(F.count("*").alias("n_users")).select(
                lit(3).cast("long").alias("step"),
                lit("purchase_after_click").alias("stage"),
                "n_users",
            )
        )
    )
    top = v.agg(F.count("*").alias("top_n"))
    return (
        counts.crossJoin(F.broadcast(top))
        .select(
            "step",
            "stage",
            col("n_users").cast("long"),
            rnd(col("n_users") / F.nullif(col("top_n"), lit(0)), 6).alias(
                "pct_of_top"
            ),
        )
        .orderBy("step")
    )


# ---------------------------------------------------------------------------
# q72 — weekly retention cohorts
# ---------------------------------------------------------------------------

#: week index anchored to a fixed date, not date_trunc('week', ...):
#: week-start conventions are an engine setting; day-diff // 7 is not.
_Q72_EPOCH = "2024-01-01"

_Q72_ORACLE = f"""
WITH wk AS (
    SELECT user_id,
           CAST(floor(date_diff('day', DATE '{_Q72_EPOCH}', CAST(ts AS DATE)) / 7.0)
                AS BIGINT) AS week
    FROM events
),
cohort AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY user_id),
activity AS (SELECT DISTINCT user_id, week FROM wk)
SELECT c.cohort_week AS cohort_week,
       a.week - c.cohort_week AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active,
       round(1.0 * count(DISTINCT a.user_id)
             / nullif(max(sz.n_cohort), 0) + 1e-9, 6) AS retention
FROM activity a
JOIN cohort c ON a.user_id = c.user_id
JOIN (SELECT cohort_week, count(*) AS n_cohort FROM cohort GROUP BY cohort_week) sz
  ON sz.cohort_week = c.cohort_week
GROUP BY c.cohort_week, a.week - c.cohort_week
ORDER BY c.cohort_week, week_offset
"""


@register(
    "q72_retention_cohorts",
    _Q72_ORACLE,
    "Weekly retention: users grouped by first-activity week, retention "
    "= active users at each week offset / cohort size.  The week index "
    "is an anchored day-diff // 7 (engine week-start conventions never "
    "enter); per-user first week + distinct (user, week) activity + one "
    "grouped join — all shuffles on user_id or the tiny cohort key.",
    operators=("retention-cohort", "A2", "A3", "J7"),
)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id",
        F.floor(
            F.datediff(col("ts").cast("date"), F.to_date(lit(_Q72_EPOCH))) / 7.0
        ).cast("long").alias("week"),
    )
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = wk.distinct()
    sizes = cohort.groupBy("cohort_week").agg(F.count("*").alias("n_cohort"))
    return (
        activity.join(cohort, "user_id")
        .withColumn("week_offset", col("week") - col("cohort_week"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            col("n_active").cast("long"),
            rnd(col("n_active") / F.nullif(col("n_cohort"), lit(0)), 6).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# q73 — explicit GROUPING SETS (multi-grain aggregate in one pass)
# ---------------------------------------------------------------------------

_Q73_ORACLE = """
SELECT coalesce(source, 'ALL') AS src,
       coalesce(lang, 'ALL') AS lng,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY GROUPING SETS ((source), (lang), ())
ORDER BY src, lng
"""


@register(
    "q73_grouping_sets",
    _Q73_ORACLE,
    "Explicit GROUPING SETS — per-source totals, per-language totals, "
    "and the grand total in ONE aggregate pass (ROLLUP/CUBE's general "
    "form, q40/q45's sibling): Spark expands the sets into a single "
    "Expand + Aggregate, so the corpus is scanned once however many "
    "grains the report needs.",
    operators=("grouping-sets", "A1", "A3", "A8"),
)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    return (
        docs.groupingSets([["source"], ["lang"], []], "source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            F.coalesce(col("source"), lit("ALL")).alias("src"),
            F.coalesce(col("lang"), lit("ALL")).alias("lng"),
            "n_docs",
            "total_chars",
        )
        .orderBy("src", "lng")
    )


# ---------------------------------------------------------------------------
# q74 — coverage (diversity) sampling over the embedding space
# ---------------------------------------------------------------------------

_Q74_PER_BUCKET = 2


def _q74_oracle() -> str:
    return f"""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
b AS (
    SELECT vec_id, label, {_bucket_sql("v")} AS bucket FROM e
),
r AS (
    SELECT vec_id, label, bucket,
           row_number() OVER (
               PARTITION BY bucket
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           ) AS rn
    FROM b
)
SELECT bucket, vec_id, label
FROM r WHERE rn <= {_Q74_PER_BUCKET}
ORDER BY bucket, vec_id
"""


@register(
    "q74_coverage_sample",
    _q74_oracle(),
    "Diversity-preserving coverage sample: hyperplane-sign buckets over "
    f"the embedding space, the {_Q74_PER_BUCKET} lowest-md5 rows kept "
    "per occupied bucket — every mode of the corpus contributes "
    "regardless of density (the distributed stand-in for sequential "
    "greedy k-center/MMR subset selection).  Map-side bucket expression "
    "+ one per-bucket window; the oracle recomputes the same buckets "
    "from the shared plane literals.",
    operators=("sampling-coverage", "W2", "sim-ann-lsh"),
)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    out = sampling.coverage_sample(
        emb, "vec_id", "embedding", _PLANES_8x64, per_bucket=_Q74_PER_BUCKET
    )
    return out.select("bucket", "vec_id", "label").orderBy("bucket", "vec_id")

# ---------------------------------------------------------------------------
# q75 — exact duplicated-span REMOVAL (the dedup step q68 diagnoses)
# ---------------------------------------------------------------------------

_Q75_N = 10

_Q75_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, source, string_split_regex(lower(text), '\\s+') AS t
    FROM documents
),
pos AS (
    SELECT doc_id, i AS start,
           array_to_string(t[i:i+{_Q75_N - 1}], ' ') AS gram
    FROM (SELECT doc_id, t,
                 unnest(range(1, greatest(len(t) - {_Q75_N - 1}, 1) + 1)) AS i
          FROM toks)
),
dup AS (
    SELECT gram
    FROM (SELECT DISTINCT doc_id, gram FROM pos)
    GROUP BY gram HAVING count(*) >= 2
),
starts AS (
    SELECT p.doc_id, p.start FROM pos p JOIN dup d ON p.gram = d.gram
),
covered AS (
    SELECT DISTINCT s.doc_id, s.start + u.o AS j
    FROM starts s, UNNEST(range(0, {_Q75_N})) AS u(o)
),
removed AS (
    SELECT c.doc_id, count(*) AS n_removed
    FROM covered c JOIN toks tk ON c.doc_id = tk.doc_id AND c.j <= len(tk.t)
    GROUP BY c.doc_id
),
per_doc AS (
    SELECT tk.doc_id, tk.source, len(tk.t) AS n_tokens,
           coalesce(r.n_removed, 0) AS n_removed
    FROM toks tk LEFT JOIN removed r ON tk.doc_id = r.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_docs_affected,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_removed) AS BIGINT) AS total_removed,
       round(1.0 * sum(n_removed) / sum(n_tokens) + 1e-9, 6) AS removed_frac
FROM per_doc
GROUP BY source
ORDER BY source
"""


@register(
    "q75_span_removal",
    _Q75_ORACLE,
    "Exact duplicated-span REMOVAL (Lee et al. 2022 'Deduplicating "
    "Training Data Makes Language Models Better' — the removal step of "
    "the diagnostic q68 computes): every token position covered by a "
    f"{_Q75_N}-gram occurring in ≥2 documents is dropped and the corpus "
    "rebuilt; per-source removal report.  Position table carries "
    "xxhash64 gram values (8-byte shuffle keys); flagged span starts "
    "come back as one doc-keyed bounded array; the token mask is a "
    "map-side array expression — O(total tokens), never pair-shaped.",
    headline=True,
    operators=("dedup-span-removal", "A1", "A3", "J8"),
)
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    docs = load_table_parallel(spark, sf_dir, "documents")
    cleaned = D.remove_duplicated_spans(
        docs, "doc_id", "text", n=_Q75_N, keep_cols=["source"]
    )
    return (
        cleaned.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((col("n_removed") > 0).cast("long")).alias("n_docs_affected"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_removed").cast("long").alias("total_removed"),
            rnd(F.sum("n_removed") / F.sum("n_tokens"), 6).alias("removed_frac"),
        )
        .orderBy("source")
    )

# ---------------------------------------------------------------------------
# q76 — span-level benchmark decontamination (redact, don't drop)
# ---------------------------------------------------------------------------

_Q76_N = 4

_Q76_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS t
    FROM documents WHERE doc_id % 50 <> 0
),
btoks AS (
    SELECT string_split_regex(lower(text), '\\s+') AS t
    FROM documents WHERE doc_id % 50 = 0
),
pos AS (
    SELECT doc_id, i AS start,
           array_to_string(t[i:i+{_Q76_N - 1}], ' ') AS gram
    FROM (SELECT doc_id, t,
                 unnest(range(1, greatest(len(t) - {_Q76_N - 1}, 1) + 1)) AS i
          FROM toks)
),
bgrams AS (
    SELECT DISTINCT array_to_string(t[i:i+{_Q76_N - 1}], ' ') AS gram
    FROM (SELECT t,
                 unnest(range(1, greatest(len(t) - {_Q76_N - 1}, 1) + 1)) AS i
          FROM btoks)
),
starts AS (
    SELECT p.doc_id, p.start FROM pos p JOIN bgrams b ON p.gram = b.gram
),
covered AS (
    SELECT DISTINCT s.doc_id, s.start + u.o AS j
    FROM starts s, UNNEST(range(0, {_Q76_N})) AS u(o)
),
removed AS (
    SELECT c.doc_id, count(*) AS n_removed
    FROM covered c JOIN toks tk ON c.doc_id = tk.doc_id AND c.j <= len(tk.t)
    GROUP BY c.doc_id
),
per_doc AS (
    SELECT tk.doc_id, tk.lang, len(tk.t) AS n_tokens,
           coalesce(r.n_removed, 0) AS n_removed
    FROM toks tk LEFT JOIN removed r ON tk.doc_id = r.doc_id
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_docs_redacted,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_removed) AS BIGINT) AS tokens_redacted,
       round(1.0 * sum(n_removed) / sum(n_tokens) + 1e-9, 6) AS redacted_frac
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


@register(
    "q76_span_decontamination",
    _Q76_ORACLE,
    "SPAN-level benchmark decontamination: q50 drops whole documents "
    f"sharing any {_Q76_N}-gram with the benchmark; this redacts only "
    "the covered token positions and rebuilds the text — the curation "
    "policy when the corpus is too valuable to discard.  Corpus "
    "position table with xxhash64 gram values; the benchmark gram-hash "
    "set is BROADCAST so flagging is a map-side semi probe; flagged "
    "span starts return as one doc-keyed bounded array; the mask is "
    "map-side array expressions (machinery shared with q75).",
    operators=("decontam-span", "dedup-span-removal", "J8", "A3"),
)
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import decontam

    docs = load_table_parallel(spark, sf_dir, "documents")
    corpus = docs.filter(col("doc_id") % 50 != 0)
    bench = docs.filter(col("doc_id") % 50 == 0)
    redacted = decontam.redact_contaminated_spans(
        corpus, bench, n=_Q76_N, keep_cols=["lang"]
    )
    return (
        redacted.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((col("n_removed") > 0).cast("long")).alias("n_docs_redacted"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_removed").cast("long").alias("tokens_redacted"),
            rnd(F.sum("n_removed") / F.sum("n_tokens"), 6).alias("redacted_frac"),
        )
        .orderBy("lang")
    )

# ---------------------------------------------------------------------------
# q77 — leakage-safe splits: near-dup clusters never straddle train/val/test
# ---------------------------------------------------------------------------

_Q77_SALT = "leak"

_Q77_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTES},
sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a
    JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
),
pairs AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE 1.0 * n_common / (sa.n_shingles + sb.n_shingles - n_common)
          >= {_Q25_THRESHOLD}
),
sym AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT a, a FROM sym
    UNION
    SELECT s.a, rr.r FROM sym s JOIN reach rr ON rr.node = s.b
),
comp AS (
    SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
),
grp AS (
    SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS g
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
assigned AS (
    SELECT doc_id, g,
           CASE WHEN ('0x' || substr(md5('{_Q77_SALT}' || CAST(g AS VARCHAR)), 1, 8))::BIGINT
                     / 4294967296.0 < 0.9 THEN 'train'
                WHEN ('0x' || substr(md5('{_Q77_SALT}' || CAST(g AS VARCHAR)), 1, 8))::BIGINT
                     / 4294967296.0 < 0.95 THEN 'val'
                ELSE 'test' END AS split
    FROM grp
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT g) AS BIGINT) AS n_groups
FROM assigned
GROUP BY split
ORDER BY split
"""


@register(
    "q77_leakage_safe_splits",
    _Q77_ORACLE,
    "Leakage-safe train/val/test assignment: documents are split by "
    "their near-dup CLUSTER (pairs closed under transitivity, "
    "singletons their own group), so a near-duplicate of a training "
    "document can never land in the eval split — the group-aware split "
    "step every published pipeline applies AFTER dedup diagnostics.  "
    "One md5 hash of the group key cuts the [0,1) line at the "
    "cumulative weights; membership is stable as the corpus grows.  "
    "This registration runs sampling.leakage_safe_splits in its exact "
    "pair_source='jaccard' mode so the recursive-CTE oracle can verify "
    "recall-1.0 clustering; the operator's DEFAULT is the MinHash-LSH "
    "pair source, the bucket-bounded 100 TB path (measured ~2.4× pair "
    "growth at 10× vs ~5.6× exact).",
    operators=("sampling-split", "graph-cc", "dedup-jaccard"),
)
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assigned = sampling.leakage_safe_splits(
        docs,
        "doc_id",
        "text",
        {"train": 0.9, "val": 0.05, "test": 0.05},
        salt=_Q77_SALT,
        pair_source="jaccard",
        n=3,
        threshold=_Q25_THRESHOLD,
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_distinct("g").alias("n_groups"),
        )
        .orderBy("split")
    )

# ---------------------------------------------------------------------------
# q78 — incremental corpus refresh: new batch vs the standing fingerprint set
# ---------------------------------------------------------------------------

_Q78_ORACLE = """
WITH fp AS (
    SELECT doc_id, source,
           substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 16) AS fp,
           doc_id % 3 = 0 AS is_new
    FROM documents
),
store AS (SELECT DISTINCT fp FROM fp WHERE NOT is_new),
batch AS (SELECT doc_id, source, fp FROM fp WHERE is_new),
vs_existing AS (
    SELECT b.* FROM batch b WHERE b.fp IN (SELECT fp FROM store)
),
fresh AS (
    SELECT b.* FROM batch b WHERE b.fp NOT IN (SELECT fp FROM store)
),
survivors AS (
    SELECT * FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep FROM fresh
    ) WHERE doc_id = keep
)
SELECT b.source,
       CAST(count(*) AS BIGINT) AS n_batch,
       CAST(coalesce(v.n, 0) AS BIGINT) AS n_dup_vs_existing,
       CAST(count(*) - coalesce(v.n, 0) - coalesce(s.n, 0) AS BIGINT)
           AS n_dup_in_batch,
       CAST(coalesce(s.n, 0) AS BIGINT) AS n_new
FROM batch b
LEFT JOIN (SELECT source, count(*) AS n FROM vs_existing GROUP BY source) v
       ON b.source = v.source
LEFT JOIN (SELECT source, count(*) AS n FROM survivors GROUP BY source) s
       ON b.source = s.source
GROUP BY b.source, v.n, s.n
ORDER BY b.source
"""


@register(
    "q78_incremental_refresh",
    _Q78_ORACLE,
    "Incremental corpus refresh: an incoming batch (doc_id%3=0 stands in "
    "for the new crawl) classified against the standing corpus by exact "
    "text fingerprint — already-ingested duplicates, within-batch "
    "duplicates, and genuinely new documents, per source.  The standing "
    "corpus contributes only its DISTINCT fingerprint column; the batch "
    "joins it with one left-semi/anti on the uniform md5 key.  Never "
    "pair-shaped, no skew; the counts partition the batch exactly.",
    operators=("dedup-incremental", "S9", "J8", "A1"),
)
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    new_batch = docs.filter(col("doc_id") % 3 == 0)
    existing = docs.filter(col("doc_id") % 3 != 0)
    return dedup.incremental_dedup_report(
        new_batch, existing, "doc_id", "text", "source"
    )

# ---------------------------------------------------------------------------
# q79 — quality-classifier inference as columnar expressions (filter tier)
# ---------------------------------------------------------------------------

#: fixed logistic weights over 4 document features — the shape of the
#: fastText/FineWeb "educational quality" filter tier, with the model
#: frozen as literals (real pipelines broadcast the trained weights;
#: inference is identical).  Features: tokens/200 (capped), mean token
#: length/10 (capped), EN-stopword ratio, punctuation ratio.
_Q79_W = (1.8, 1.1, 2.6, -3.5)
_Q79_B = -1.2
_Q79_CUT = 0.5

_Q79_ORACLE = f"""
WITH f AS (
    SELECT lang,
           least(len(string_split_regex(lower(text), '\\s+')) / 200.0, 1.0) AS f1,
           least(list_sum(list_transform(string_split_regex(lower(text), '\\s+'),
                                          x -> length(x)))
                 / nullif(len(string_split_regex(lower(text), '\\s+')), 0) / 10.0,
                 1.0) AS f2,
           1.0 * len(list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> list_contains([{{EN}}], x)))
               / nullif(len(string_split_regex(lower(text), '\\s+')), 0) AS f3,
           1.0 * length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
               / nullif(length(text), 0) AS f4
    FROM documents
),
scored AS (
    SELECT lang,
           round(1.0 / (1.0 + exp(-({_Q79_W[0]} * f1 + {_Q79_W[1]} * f2
                 + {_Q79_W[2]} * f3 + {_Q79_W[3]} * f4 + {_Q79_B}))) + 1e-9, 6)
               AS score
    FROM f
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(score) + 1e-9, 6) AS avg_score,
       CAST(sum(CASE WHEN score >= {_Q79_CUT} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass,
       round(1.0 * sum(CASE WHEN score >= {_Q79_CUT} THEN 1 ELSE 0 END)
             / count(*) + 1e-9, 6) AS pass_rate
FROM scored
GROUP BY lang
ORDER BY lang
""".replace("{EN}", _EN)


@register(
    "q79_quality_classifier",
    _Q79_ORACLE,
    "Model-inference-as-columnar-expression: a frozen logistic quality "
    "classifier (the fastText/FineWeb filter-tier shape) scored fully "
    "inside whole-stage codegen — 4 features (capped token count, "
    "capped mean token length, EN-stopword ratio, punctuation ratio), "
    "sigmoid of the dot product, per-language score stats and pass "
    "rate at 0.5.  No Python, no shuffle before the per-language "
    "aggregate; a trained model swaps in as a broadcast weight row "
    "with the same plan.  Per-document scores are rounded (6 dp) so "
    "the exp() is cross-engine hash-checkable like q56's logs.",
    operators=("quality-classifier", "text-quality", "A3", "A4"),
)
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rules as R, text as T

    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = T.tokens("text")
    f1 = F.least(F.size(toks) / lit(200.0), lit(1.0))
    f2 = F.least(
        R.mean_token_length(toks) / lit(10.0), lit(1.0)
    )
    f3 = T.stopword_ratio("text", T.LANG_STOPWORDS["en"])
    f4 = T.punct_ratio("text")
    z = (
        lit(_Q79_W[0]) * f1
        + lit(_Q79_W[1]) * f2
        + lit(_Q79_W[2]) * f3
        + lit(_Q79_W[3]) * f4
        + lit(_Q79_B)
    )
    scored = docs.select(
        "lang", rnd(lit(1.0) / (lit(1.0) + F.exp(-z)), 6).alias("score")
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            rnd(F.avg("score"), 6).alias("avg_score"),
            F.sum((col("score") >= lit(_Q79_CUT)).cast("long")).alias("n_pass"),
            rnd(
                F.sum((col("score") >= lit(_Q79_CUT)).cast("int"))
                / F.count("*"),
                6,
            ).alias("pass_rate"),
        )
        .orderBy("lang")
    )

# ---------------------------------------------------------------------------
# q80 — temperature-based mixture rebalancing (w ∝ c^alpha)
# ---------------------------------------------------------------------------

_Q80_ALPHA = 0.5

_Q80_ORACLE = f"""
WITH counts AS (
    SELECT lang, count(*) AS c FROM documents GROUP BY lang
),
z AS (SELECT sum(pow(c, {_Q80_ALPHA})) AS z FROM counts),
quota AS (
    SELECT lang, c,
           floor(round(
               (pow(c, {_Q80_ALPHA}) / z.z)
               * min(c / (pow(c, {_Q80_ALPHA}) / z.z)) OVER ()
               + 1e-9, 6)) AS n
    FROM counts CROSS JOIN z
),
ranked AS (
    SELECT d.lang, d.doc_id,
           row_number() OVER (
               PARTITION BY d.lang
               ORDER BY ('0x' || substr(md5('mixT' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                        / 4294967296.0, d.doc_id) AS rn
    FROM documents d
),
kept AS (
    SELECT r.lang FROM ranked r JOIN quota q ON r.lang = q.lang AND r.rn <= q.n
),
tot AS (SELECT count(*) AS raw_total FROM documents),
ktot AS (SELECT count(*) AS kept_total FROM kept)
SELECT c.lang,
       CAST(c.c AS BIGINT) AS n_raw,
       CAST(k.n_kept AS BIGINT) AS n_kept,
       round(1.0 * c.c / tot.raw_total + 1e-9, 6) AS share_raw,
       round(1.0 * k.n_kept / ktot.kept_total + 1e-9, 6) AS share_kept
FROM counts c
JOIN (SELECT lang, count(*) AS n_kept FROM kept GROUP BY lang) k
  ON c.lang = k.lang
CROSS JOIN tot CROSS JOIN ktot
ORDER BY c.lang
"""


@register(
    "q80_temperature_mixture",
    _Q80_ORACLE,
    "Temperature-based mixture rebalancing: target weights derived from "
    f"the corpus itself as w ∝ count^{_Q80_ALPHA} (the multilingual "
    "mBERT/XLM standard — up-weights low-resource languages without "
    "flattening the mixture), then the largest feasible subcorpus at "
    "those weights via deterministic hash-order quotas.  The c^alpha "
    "normalization runs inside the |domains|-row quota frame (1-row sum "
    "broadcast back) — no collect, no driver-side weight dict; quota "
    "products nudge-round before floor so pow() drift can't flip a row "
    "count.  Reports raw vs rebalanced shares per language.",
    operators=("sampling-mixture", "sampling-temperature", "A3", "W2"),
)
def q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table_parallel(spark, sf_dir, "documents")
    kept = sampling.mixture_sample_temperature(
        docs.select("doc_id", "lang"), "lang", _Q80_ALPHA, "doc_id", salt="mixT"
    )
    n_raw = docs.groupBy("lang").agg(F.count("*").alias("n_raw"))
    n_kept = kept.groupBy("lang").agg(F.count("*").alias("n_kept"))
    raw_total = n_raw.agg(F.sum("n_raw").alias("__rt"))
    kept_total = n_kept.agg(F.sum("n_kept").alias("__kt"))
    return (
        n_raw.join(n_kept, "lang")
        .crossJoin(F.broadcast(raw_total))
        .crossJoin(F.broadcast(kept_total))
        .select(
            "lang",
            col("n_raw").cast("long"),
            col("n_kept").cast("long"),
            rnd(col("n_raw") / col("__rt"), 6).alias("share_raw"),
            rnd(col("n_kept") / col("__kt"), 6).alias("share_kept"),
        )
        .orderBy("lang")
    )

# ---------------------------------------------------------------------------
# q81 — FULL OUTER calendar reconciliation (coverage diff of two facts)
# ---------------------------------------------------------------------------

_Q81_ORACLE = """
WITH o AS (
    SELECT strftime(o_orderdate, '%m-%d') AS md, count(*) AS n_orders
    FROM orders GROUP BY 1
),
e AS (
    SELECT strftime(ts, '%m-%d') AS md, count(*) AS n_events
    FROM events GROUP BY 1
),
j AS (
    SELECT coalesce(o.md, e.md) AS month_day,
           CASE WHEN o.md IS NOT NULL AND e.md IS NOT NULL THEN 'both'
                WHEN o.md IS NOT NULL THEN 'orders_only'
                ELSE 'events_only' END AS presence,
           coalesce(o.n_orders, 0) AS n_orders,
           coalesce(e.n_events, 0) AS n_events
    FROM o FULL OUTER JOIN e ON o.md = e.md
)
SELECT presence,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(n_orders) AS BIGINT) AS total_orders,
       CAST(sum(n_events) AS BIGINT) AS total_events
FROM j
GROUP BY presence
ORDER BY presence
"""


@register(
    "q81_calendar_reconciliation",
    _Q81_ORACLE,
    "FULL OUTER reconciliation: per-(month, day) order activity vs event "
    "activity joined with full-outer semantics — days covered by both "
    "facts, days only one side has (the ops 'what's missing from which "
    "feed' diff).  Exercises the one join type the catalog lacked; both "
    "sides are pre-aggregated (day-keyed, ≤366 rows) so the outer join "
    "is broadcast-sized whatever the fact volume.",
    operators=("J-full-outer", "A1", "A3"),
)
def q81(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    o = (
        orders.select(F.date_format("o_orderdate", "MM-dd").alias("md"))
        .groupBy("md")
        .agg(F.count("*").alias("n_orders"))
    )
    e = (
        events.select(F.date_format("ts", "MM-dd").alias("md"))
        .groupBy("md")
        .agg(F.count("*").alias("n_events"))
    )
    j = (
        o.withColumnRenamed("md", "o_md")
        .join(e.withColumnRenamed("md", "e_md"), col("o_md") == col("e_md"), "full_outer")
        .select(
            F.when(col("o_md").isNotNull() & col("e_md").isNotNull(), "both")
            .when(col("o_md").isNotNull(), "orders_only")
            .otherwise("events_only")
            .alias("presence"),
            F.coalesce("n_orders", lit(0)).alias("n_orders"),
            F.coalesce("n_events", lit(0)).alias("n_events"),
        )
    )
    return (
        j.groupBy("presence")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("n_orders").cast("long").alias("total_orders"),
            F.sum("n_events").cast("long").alias("total_events"),
        )
        .orderBy("presence")
    )


# ---------------------------------------------------------------------------
# q82 — nested (array-valued) results: per-language top-k source list
# ---------------------------------------------------------------------------

_Q82_K = 3

_Q82_ORACLE = f"""
WITH c AS (
    SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source
),
r AS (
    SELECT lang, source, n,
           row_number() OVER (PARTITION BY lang ORDER BY n DESC, source) AS rk
    FROM c
)
SELECT lang,
       CAST(sum(n) AS BIGINT) AS n_docs_top,
       array_to_string(list(source ORDER BY rk), '|') AS top_sources
FROM r WHERE rk <= {_Q82_K}
GROUP BY lang
ORDER BY lang
"""


@register(
    "q82_top_sources_nested",
    _Q82_ORACLE,
    f"Nested top-k results through the driver comparator: each "
    f"language's top-{_Q82_K} sources by document count as an ORDERED, "
    "'|'-joined string (rank-ordered collect over a per-lang window on "
    "the grouped counts — the window input is the (lang, source) "
    "aggregate, never the corpus).  The ordered list is built as "
    "array<string> internally and emitted via array_join / "
    "array_to_string so the result schema is comparator-hashable "
    "scalars in both engines (pandas canonicalizers can't sort list "
    "cells).",
    operators=("A-nested-array", "W2", "A1"),
)
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table_parallel(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(col("n").desc(), "source")
    r = c.withColumn("rk", F.row_number().over(w)).filter(col("rk") <= _Q82_K)
    return (
        r.groupBy("lang")
        .agg(
            F.sum("n").cast("long").alias("n_docs_top"),
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("rk", "source"))
                ).getField("source"),
                "|",
            ).alias("top_sources"),
        )
        .orderBy("lang")
    )

# ---------------------------------------------------------------------------
# q83 — scale-safe decile bucketing (cutpoints + map-side assign, NOT ntile)
# ---------------------------------------------------------------------------

_Q83_QS = [i / 10.0 for i in range(1, 10)]

_Q83_ORACLE = f"""
WITH cuts AS (
    SELECT lang,
           list_transform(quantile_cont(n_chars, {_Q83_QS}),
                          c -> round(c + 1e-9, 6)) AS cuts
    FROM documents GROUP BY lang
),
b AS (
    SELECT d.lang, d.n_chars,
           1 + len(list_filter(c.cuts, x -> x < d.n_chars)) AS decile
    FROM documents d JOIN cuts c ON d.lang = c.lang
)
SELECT lang,
       CAST(decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_chars) + 1e-9, 4) AS avg_chars
FROM b
GROUP BY lang, decile
ORDER BY lang, decile
"""


@register(
    "q83_length_deciles",
    _Q83_ORACLE,
    "Per-language decile bucketing done the SCALE-SAFE way: decile "
    "cutpoints from one exact-percentile aggregate (array form, single "
    "buffer per language), broadcast back, bucket assignment as a "
    "map-side array comparison — the 100 TB replacement for "
    "ntile()-over-a-corpus-window, which would globally sort every "
    "language partition.  Cutpoints are nudge-rounded in both engines "
    "before the boundary compare so interpolation drift can't flip a "
    "document at a cut.",
    operators=("A6", "W-ntile-safe", "J1", "A3"),
)
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents").select(
        "lang", "n_chars"
    )
    qs = F.array(*[lit(q) for q in _Q83_QS])
    cuts = docs.groupBy("lang").agg(
        F.transform(
            F.percentile("n_chars", qs), lambda c: rnd(c, 6)
        ).alias("cuts")
    )
    b = docs.join(F.broadcast(cuts), "lang").withColumn(
        "decile",
        (
            lit(1)
            + F.size(F.filter(col("cuts"), lambda x: x < col("n_chars")))
        ).cast("long"),
    )
    return (
        b.groupBy("lang", "decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            rnd(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang", "decile")
    )


# ---------------------------------------------------------------------------
# q85 — overlapping token-window chunking + chunk-level dedup ratio
# ---------------------------------------------------------------------------

_Q85_WINDOW = 64
_Q85_STRIDE = 32

_Q85_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source, string_split_regex(lower(text), '\\s+') AS toks
    FROM documents
),
u AS (
    SELECT doc_id, source, toks,
           unnest(range(0, greatest(len(toks), 1), {_Q85_STRIDE})) AS s
    FROM t
),
c AS (
    SELECT source,
           md5(array_to_string(list_slice(toks, s + 1, s + {_Q85_WINDOW}), ' ')) AS fp,
           least({_Q85_WINDOW}, len(toks) - s) AS chunk_toks
    FROM u
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_chunks,
       round(avg(chunk_toks) + 1e-9, 4) AS avg_chunk_toks
FROM c
GROUP BY source
ORDER BY source
"""


@register(
    "q85_chunking_overlap",
    _Q85_ORACLE,
    "RAG/pretraining document chunking: overlapping 64-token windows at "
    "stride 32 (sequence + explode + slice — all map-side; a document "
    "never leaves its partition), then chunk-level fingerprint dedup "
    "ratio per source.  The only shuffles are the final per-source "
    "aggregate and its DISTINCT-fingerprint partial; chunk text itself "
    "is hashed map-side and never materialized.",
    operators=("text-chunking", "explode", "A2", "S9"),
    headline=True,
)
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    t = docs.select("source", text.tokens("text").alias("toks"))
    c = t.select(
        "source",
        "toks",
        F.explode(text.chunk_starts(col("toks"), _Q85_STRIDE)).alias("s"),
    ).select(
        "source",
        F.md5(
            F.concat_ws(" ", F.slice(col("toks"), col("s") + 1, lit(_Q85_WINDOW)))
        ).alias("fp"),
        F.least(lit(_Q85_WINDOW), F.size("toks") - col("s")).alias("chunk_toks"),
    )
    return (
        c.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.countDistinct("fp").cast("long").alias("n_unique_chunks"),
            rnd(F.avg("chunk_toks"), 4).alias("avg_chunk_toks"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q88 — per-dimension embedding standardization (z-score feature scaling)
# ---------------------------------------------------------------------------

_Q88_ORACLE = """
WITH x AS (
    SELECT vec_id, i AS pos, embedding[i + 1] AS x
    FROM (SELECT vec_id, embedding,
                 unnest(range(0, len(embedding))) AS i
          FROM embeddings)
),
stats AS (
    SELECT pos,
           round(avg(x) + 1e-9, 6) AS mu,
           round(stddev_samp(x) + 1e-9, 6) AS sigma,
           CAST(count(*) AS BIGINT) AS n
    FROM x
    GROUP BY pos
),
z AS (
    SELECT x.pos, s.mu, s.sigma, s.n,
           round((x.x - s.mu) / s.sigma + 1e-9, 6) AS z
    FROM x JOIN stats s USING (pos)
)
SELECT pos, mu, sigma, n,
       round(avg(z) + 1e-9, 4) + 0.0 AS z_mean,
       round(max(abs(z)) + 1e-9, 6) AS z_max_abs
FROM z
GROUP BY pos, mu, sigma, n
ORDER BY pos
"""


@register(
    "q88_embedding_standardize",
    _Q88_ORACLE,
    "Per-dimension z-score standardization of the embedding corpus "
    "(feature scaling before clustering/ANN): posexplode to (pos, x), "
    "one shuffle on the |dim|-key pos for mu/sigma, broadcast the "
    "|dim|-row stats frame back, standardize map-side, verify z_mean~0 "
    "and the max |z| outlier per dimension.  mu/sigma are nudge-rounded "
    "before the division so z is bit-identical cross-engine; only the "
    "z_mean average (summation-order-sensitive) needs its own rounding.",
    operators=("explode-pos", "A5", "J1", "embedding-scaling"),
)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    x = emb.select(F.posexplode("embedding").alias("pos", "x"))
    stats = x.groupBy("pos").agg(
        rnd(F.avg("x"), 6).alias("mu"),
        rnd(F.stddev_samp("x"), 6).alias("sigma"),
        F.count("*").cast("long").alias("n"),
    )
    z = (
        x.join(F.broadcast(stats), "pos")
        .withColumn("z", rnd((col("x") - col("mu")) / col("sigma"), 6))
    )
    return (
        z.groupBy("pos", "mu", "sigma", "n")
        .agg(
            # + 0.0 normalizes IEEE -0.0 to 0.0 (a -1e-7 mean rounds to
            # the signed zero in one engine but not the other; the
            # stringified hash would differ on "-0.0" vs "0.0")
            (rnd(F.avg("z"), 4) + lit(0.0)).alias("z_mean"),
            rnd(F.max(F.abs(col("z"))), 6).alias("z_max_abs"),
        )
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# q91 — Bloom-filter membership sketch as a decontamination prefilter
# ---------------------------------------------------------------------------

_Q91_M = 4096
_Q91_K = 3
_Q91_N = 3  # gram width


def _q91_pos_sql(i: int) -> str:
    return f"(('0x' || substr(md5('bloom:{i}:' || g), 1, 8))::BIGINT % {_Q91_M})"


_Q91_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source, string_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
sh AS (
    SELECT doc_id, source,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(tk) - {_Q91_N - 1}, 1) + 1),
               i -> array_to_string(list_slice(tk, i, i + {_Q91_N - 1}), ' ')))) AS g
    FROM t
),
bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
probe AS (SELECT DISTINCT source, g FROM sh WHERE doc_id % 50 <> 0),
bloom AS (
    SELECT DISTINCT pos FROM (
        SELECT unnest([{", ".join(_q91_pos_sql(i).replace('g,', 'g,') for i in range(_Q91_K))}]) AS pos
        FROM bench)
),
hits AS (
    SELECT source,
           ({_q91_pos_sql(0)} IN (SELECT pos FROM bloom)
            AND {_q91_pos_sql(1)} IN (SELECT pos FROM bloom)
            AND {_q91_pos_sql(2)} IN (SELECT pos FROM bloom)) AS bloom_hit,
           g IN (SELECT g FROM bench) AS exact_hit
    FROM probe
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS bloom_hits,
       CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS exact_hits,
       round(1.0 * sum(CASE WHEN bloom_hit AND NOT exact_hit THEN 1 ELSE 0 END)
             / nullif(count(*) - sum(CASE WHEN exact_hit THEN 1 ELSE 0 END), 0)
             + 1e-9, 6) AS measured_fpp,
       (SELECT CAST(count(*) AS BIGINT) FROM bloom) AS bits_set,
       (SELECT round(pow(1.0 * count(*) / {_Q91_M}, {_Q91_K}) + 1e-9, 6) FROM bloom)
           AS est_fpp
FROM hits
GROUP BY source
ORDER BY source
"""


@register(
    "q91_bloom_prefilter",
    _Q91_ORACLE,
    "Bloom-filter membership sketch (operators.sketch.bloom_*) used as "
    "the decontamination PREFILTER: build the <=m-row set-bit table "
    "from the benchmark grams (mergeable: distinct positions), "
    "broadcast it, and tag every corpus gram map-side with all-k-"
    "positions membership; compare against the exact semi-join to "
    "report the measured vs occupancy-predicted false-positive rate.  "
    "At 100 TB the bloom (m bits) replaces broadcasting the full bench "
    "gram STRING set for the first pass; only bloom-hit grams proceed "
    "to exact verification — same never-false-negative guarantee, "
    "fraction-of-the-memory broadcast.  md5-derived positions make the "
    "filter bit-identical cross-engine (exact oracle on an approximate "
    "operator, like q54/q66).",
    operators=("sketch-bloom", "decontam-ngram", "J8", "A4"),
    headline=True,
)
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import decontam, sketch

    docs = load_table_parallel(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(decontam.word_ngrams("text", _Q91_N)).alias("g"),
    )
    # the bench gram set is read by TWO consumers (bloom build + the
    # exact-hit join) and each would re-run the corpus gram explode —
    # pin the small distinct set once (2% of docs, distinct grams)
    bench = pin(
        grams.filter(col("doc_id") % 50 == 0)
        .select("g")
        .distinct()
    )
    probe = (
        grams.filter(col("doc_id") % 50 != 0).select("source", "g").distinct()
    )
    bloom = sketch.bloom_build(bench, "g", m=_Q91_M, k=_Q91_K)
    tagged = sketch.bloom_probe(probe, bloom, "g", m=_Q91_M, k=_Q91_K)
    exact = tagged.join(
        bench.withColumnRenamed("g", "g_b"),
        col("g") == col("g_b"),
        "left",
    ).withColumn("exact_hit", col("g_b").isNotNull()).drop("g_b")
    bloom_stats = bloom.agg(
        F.count("*").cast("long").alias("bits_set"),
        rnd(sketch.bloom_fpp(F.count("*"), _Q91_M, _Q91_K), 6).alias("est_fpp"),
    )
    fp = F.sum(F.when(col("bloom_hit") & ~col("exact_hit"), 1).otherwise(0))
    n_exact = F.sum(F.when(col("exact_hit"), 1).otherwise(0))
    return (
        exact.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(col("bloom_hit"), 1).otherwise(0))
            .cast("long")
            .alias("bloom_hits"),
            n_exact.cast("long").alias("exact_hits"),
            rnd(fp / F.nullif(F.count("*") - n_exact, lit(0)), 6).alias(
                "measured_fpp"
            ),
        )
        .crossJoin(F.broadcast(bloom_stats))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q92 — interval-×-interval overlap join (co-activity detection)
# ---------------------------------------------------------------------------

_Q92_ORACLE = """
WITH v AS (
    SELECT user_id, date_trunc('day', ts)::DATE AS day,
           min(ts) AS s, max(ts) AS e
    FROM events WHERE event_type = 'view'
    GROUP BY user_id, day
),
p AS (
    SELECT user_id, date_trunc('day', ts)::DATE AS day,
           min(ts) AS s, max(ts) AS e
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, day
),
j AS (
    SELECT v.user_id,
           date_diff('second', greatest(v.s, p.s), least(v.e, p.e)) AS osec
    FROM v JOIN p ON v.user_id = p.user_id AND v.day = p.day
       AND v.s < p.e AND p.s < v.e
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_overlap_days,
       CAST(sum(osec) AS BIGINT) AS total_overlap_s
FROM j
GROUP BY user_id
ORDER BY user_id
"""


@register(
    "q92_interval_overlap_join",
    _Q92_ORACLE,
    "Interval-×-interval overlap join (operators.temporal."
    "interval_overlap_join): daily view-activity intervals vs daily "
    "purchase-activity intervals per user, matched on the strict "
    "half-open overlap l.start < r.end AND r.start < l.end — the third "
    "temporal primitive after as-of (q38) and point-in-range (q39).  "
    "Keyed path here: equi-join on (user_id, day) with the overlap "
    "predicate as a post-filter — one shuffle, no inequality-join "
    "explosion; the keyless path buckets both sides to time-bucket "
    "equi-joins (tested against the naive inequality join).  Overlap "
    "durations are integer epoch seconds — exact cross-engine, no FP.",
    operators=("J-interval-overlap", "W2", "A4"),
)
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scalar import to_epoch
    from ..operators import temporal

    ev = load_table(spark, sf_dir, "events")

    def ivs(t: str) -> DataFrame:
        return (
            ev.filter(col("event_type") == t)
            .groupBy("user_id", col("ts").cast("date").alias("day"))
            .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
        )

    joined = temporal.interval_overlap_join(
        ivs("view"), ivs("purchase"), "s", "e", "s", "e",
        keys=["user_id", "day"],
    )
    osec = to_epoch(F.least(col("e"), col("e_r"))) - to_epoch(
        F.greatest(col("s"), col("s_r"))
    )
    return (
        joined.select("user_id", osec.alias("osec"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_overlap_days"),
            F.sum("osec").cast("long").alias("total_overlap_s"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q93 — classifier calibration report (reliability diagram)
# ---------------------------------------------------------------------------

_Q93_ORACLE = f"""
WITH f AS (
    SELECT n_chars,
           least(len(string_split_regex(lower(text), '\\s+')) / 200.0, 1.0) AS f1,
           least(list_sum(list_transform(string_split_regex(lower(text), '\\s+'),
                                          x -> length(x)))
                 / nullif(len(string_split_regex(lower(text), '\\s+')), 0) / 10.0,
                 1.0) AS f2,
           1.0 * len(list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> list_contains([{{EN}}], x)))
               / nullif(len(string_split_regex(lower(text), '\\s+')), 0) AS f3,
           1.0 * length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
               / nullif(length(text), 0) AS f4
    FROM documents
),
scored AS (
    SELECT n_chars,
           round(1.0 / (1.0 + exp(-({_Q79_W[0]} * f1 + {_Q79_W[1]} * f2
                 + {_Q79_W[2]} * f3 + {_Q79_W[3]} * f4 + {_Q79_B}))) + 1e-9, 6)
               AS score
    FROM f
),
binned AS (
    SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
           score,
           CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS label
    FROM scored
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(score) + 1e-9, 6) AS mean_predicted,
       round(avg(label) + 1e-9, 6) AS frac_positive,
       round(avg(score) - avg(label) + 1e-9, 6) AS calibration_gap
FROM binned
GROUP BY bin
ORDER BY bin
""".replace("{EN}", _EN)


@register(
    "q93_classifier_calibration",
    _Q93_ORACLE,
    "Reliability diagram for the q79 filter-tier classifier: equal-"
    "width score deciles × (mean predicted score, empirical positive "
    "rate against the long-document proxy label, calibration gap) — "
    "the standard check before a score threshold becomes a corpus "
    "gate.  Same single-scan, codegen-only shape as q79: bin "
    "assignment is a map-side floor, one hash-agg on the 10-key bin.",
    operators=("quality-classifier", "calibration", "A3", "A4"),
)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rules as R, text as T

    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = T.tokens("text")
    f1 = F.least(F.size(toks) / lit(200.0), lit(1.0))
    f2 = F.least(R.mean_token_length(toks) / lit(10.0), lit(1.0))
    f3 = T.stopword_ratio("text", T.LANG_STOPWORDS["en"])
    f4 = T.punct_ratio("text")
    z = (
        lit(_Q79_W[0]) * f1
        + lit(_Q79_W[1]) * f2
        + lit(_Q79_W[2]) * f3
        + lit(_Q79_W[3]) * f4
        + lit(_Q79_B)
    )
    score = rnd(lit(1.0) / (lit(1.0) + F.exp(-z)), 6)
    return (
        docs.select(
            F.least(F.floor(score * 10), lit(9)).cast("long").alias("bin"),
            score.alias("score"),
            F.when(col("n_chars") >= 300, 1).otherwise(0).alias("label"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            rnd(F.avg("score"), 6).alias("mean_predicted"),
            rnd(F.avg("label"), 6).alias("frac_positive"),
            rnd(F.avg("score") - F.avg("label"), 6).alias("calibration_gap"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q94 — map-typed column pipeline (map_from_entries / map_filter /
# map_zip-style lookup)
# ---------------------------------------------------------------------------

_Q94_MIN_DOCS = 3

_Q94_ORACLE = f"""
WITH per AS (
    SELECT source, lang,
           count(*) AS n_docs,
           round(avg(n_chars) + 1e-9, 2) AS avg_chars
    FROM documents
    GROUP BY source, lang
),
keep AS (SELECT * FROM per WHERE n_docs >= {_Q94_MIN_DOCS})
SELECT source,
       CAST(count(*) AS BIGINT) AS n_langs,
       array_to_string(
           list_sort(list(lang || ':' || CAST(n_docs AS VARCHAR)
                          || ':' || CAST(avg_chars AS VARCHAR))),
           '|') AS langs
FROM keep
GROUP BY source
ORDER BY source
"""


@register(
    "q94_map_column_pipeline",
    _Q94_ORACLE,
    "Map-typed column pipeline: per-source lang→count and lang→avg_chars "
    "maps built with map_from_entries over sorted collect_list, pruned "
    "with map_filter (count >= 3), cross-looked-up with element_at, and "
    "emitted as a sorted, '|'-joined string of 'lang:count:avg' entries "
    "(the portable stringification — Spark Row vs DuckDB struct "
    "literals would hash-differ, and the driver's pandas canonicalizer "
    "can't sort list cells, so the final column is a scalar string via "
    "array_join / array_to_string: the q82 technique).  "
    "Maps stay per-row and bounded (|langs| entries): collect_list here "
    "aggregates a 5-key grouped frame, never raw documents.",
    operators=("map-functions", "A4", "A8"),
)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"), rnd(F.avg("n_chars"), 2).alias("avg_chars")
    )
    m = per.groupBy("source").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("lang", "n_docs")))
        ).alias("m_counts"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("lang", "avg_chars")))
        ).alias("m_chars"),
    )
    kept = F.map_filter(col("m_counts"), lambda k, v: v >= _Q94_MIN_DOCS)
    entry = lambda e: F.concat_ws(  # noqa: E731
        ":",
        e["key"],
        e["value"].cast("string"),
        F.element_at(col("m_chars"), e["key"]).cast("string"),
    )
    return (
        m.select(
            "source",
            F.size(kept).cast("long").alias("n_langs"),
            F.array_join(
                F.sort_array(F.transform(F.map_entries(kept), entry)),
                "|",
            ).alias("langs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q95 — MinHash estimate-vs-exact Jaccard calibration
# ---------------------------------------------------------------------------

_Q95_ORACLE = f"""
WITH {{SHINGLES}},
mh AS (
    SELECT doc_id, k,
           min(substr(md5((k // 4) || ':' || shingle), (k % 4) * 8 + 1, 8)) AS h
    FROM sh CROSS JOIN range(16) r(k)
    GROUP BY doc_id, k
),
sig AS (
    SELECT doc_id, list(h ORDER BY k) AS signature FROM mh GROUP BY doc_id
),
banded AS (
    SELECT doc_id, b,
           md5(array_to_string(list_slice(signature, b * 4 + 1, b * 4 + 4), ',')) AS bucket
    FROM sig CROSS JOIN range(4) rb(b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM banded a
    JOIN banded b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
),
est AS (
    SELECT doc_a, doc_b,
           round(1.0 * len(list_filter(range(1, 17),
                                       i -> sa.signature[i] = sb.signature[i]))
                 / 16 + 1e-9, 6) AS est_j
    FROM cand
    JOIN sig sa ON doc_a = sa.doc_id
    JOIN sig sb ON doc_b = sb.doc_id
),
docsh AS (
    SELECT doc_id, list(shingle) AS shset FROM sh GROUP BY doc_id
),
exact AS (
    SELECT doc_a, doc_b,
           round(1.0 * len(list_intersect(sa.shset, sb.shset))
                 / (len(sa.shset) + len(sb.shset)
                    - len(list_intersect(sa.shset, sb.shset))) + 1e-9, 6) AS ex_j
    FROM cand
    JOIN docsh sa ON doc_a = sa.doc_id
    JOIN docsh sb ON doc_b = sb.doc_id
)
SELECT CAST(least(floor(est_j * 5), 4) AS BIGINT) AS est_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(est_j) + 1e-9, 6) AS avg_est,
       round(avg(ex_j) + 1e-9, 6) AS avg_exact,
       round(avg(est_j - ex_j) + 1e-9, 6) AS mean_bias
FROM est
JOIN exact USING (doc_a, doc_b)
GROUP BY est_bucket
ORDER BY est_bucket
""".replace("{SHINGLES}", _SHINGLE_CTES)


@register(
    "q95_minhash_calibration",
    _Q95_ORACLE,
    "Sketch-calibration report for the MinHash pipeline: on the LSH "
    "candidate pairs, the signature-agreement Jaccard ESTIMATE "
    "(matching components / 16) vs the exact shingle-set Jaccard, "
    "bucketed by estimate — the measured-vs-predicted check (q91's "
    "Bloom FPP analogue) that sizes num_hashes before a 100 TB dedup "
    "run.  Exact verification is LSH-BOUNDED: only candidate pairs pay "
    "the shingle-intersection cost (zero-common band collisions kept "
    "via left join + coalesce) — the production verify pattern itself.",
    operators=("dedup-minhash-lsh", "sketch-calibration", "A4"),
)
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=16)
    cands = dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4)
    sa = sigs.select(col("doc").alias("doc_a"), col("signature").alias("sig_a"))
    sb = sigs.select(col("doc").alias("doc_b"), col("signature").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with(col("sig_a"), col("sig_b"), lambda x, y: x == y),
            lambda b: b,
        )
    )
    est = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", rnd(agree / lit(16.0), 6).alias("est_j"))
    )
    # exact side in the ARRAY form (q167's r12 fix): per-doc shingle
    # sets joined per candidate endpoint — the exploded (doc, shingle)
    # join gets mis-sized and BROADCAST by Catalyst at 100× data
    per_doc = dedup.doc_shingles(docs, "doc_id", "text", n=3)
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
                n_common / (F.size("sh_a") + F.size("sh_b") - n_common),
                6,
            ).alias("ex_j"),
        )
    )
    return (
        est.join(ex, ["doc_a", "doc_b"])
        .select(
            F.least(F.floor(col("est_j") * 5), lit(4))
            .cast("long")
            .alias("est_bucket"),
            "est_j",
            "ex_j",
        )
        .groupBy("est_bucket")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            rnd(F.avg("est_j"), 6).alias("avg_est"),
            rnd(F.avg("ex_j"), 6).alias("avg_exact"),
            rnd(F.avg(col("est_j") - col("ex_j")), 6).alias("mean_bias"),
        )
        .orderBy("est_bucket")
    )


# ---------------------------------------------------------------------------
# q96 — token-budget curation threshold from a score histogram
# ---------------------------------------------------------------------------

_Q96_BINS = 20
_Q96_BUDGET_FRAC = 0.3  # keep the best-quality ~30% of each lang's tokens

_Q96_ORACLE = f"""
WITH f AS (
    SELECT lang,
           len(string_split_regex(lower(text), '\\s+')) AS n_tokens,
           least(len(string_split_regex(lower(text), '\\s+')) / 200.0, 1.0) AS f1,
           least(list_sum(list_transform(string_split_regex(lower(text), '\\s+'),
                                          x -> length(x)))
                 / nullif(len(string_split_regex(lower(text), '\\s+')), 0) / 10.0,
                 1.0) AS f2,
           1.0 * len(list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> list_contains([{{EN}}], x)))
               / nullif(len(string_split_regex(lower(text), '\\s+')), 0) AS f3,
           1.0 * length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
               / nullif(length(text), 0) AS f4
    FROM documents
),
binned AS (
    SELECT lang, n_tokens,
           CAST(least(floor(round(1.0 / (1.0 + exp(-({_Q79_W[0]} * f1
                 + {_Q79_W[1]} * f2 + {_Q79_W[2]} * f3 + {_Q79_W[3]} * f4
                 + {_Q79_B}))) + 1e-9, 6) * {_Q96_BINS}), {_Q96_BINS - 1})
               AS BIGINT) AS bin
    FROM f
),
hist AS (
    SELECT lang, bin,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           CAST(count(*) AS BIGINT) AS bin_docs
    FROM binned
    GROUP BY lang, bin
),
cum AS (
    SELECT lang, bin, bin_tokens, bin_docs,
           CAST(sum(bin_tokens) OVER (PARTITION BY lang ORDER BY bin DESC
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens,
           CAST(floor({_Q96_BUDGET_FRAC} * sum(bin_tokens) OVER (PARTITION BY lang))
               AS BIGINT) AS budget_tokens
    FROM hist
)
SELECT lang,
       max(budget_tokens) AS budget_tokens,
       min(CASE WHEN cum_tokens <= budget_tokens THEN bin END) AS threshold_bin,
       CAST(coalesce(sum(CASE WHEN cum_tokens <= budget_tokens
                              THEN bin_tokens END), 0) AS BIGINT)
           AS selected_tokens,
       CAST(coalesce(sum(CASE WHEN cum_tokens <= budget_tokens
                              THEN bin_docs END), 0) AS BIGINT)
           AS n_selected_docs
FROM cum
GROUP BY lang
ORDER BY lang
""".replace("{EN}", _EN)


@register(
    "q96_token_budget_threshold",
    _Q96_ORACLE,
    "Token-budget curation WITHOUT a global sort: pick the per-language "
    "quality-score threshold that keeps ~30% of tokens by scoring docs "
    "(the q79 classifier), histogramming tokens into 20 score bins "
    "map-side, and walking the cumulative histogram top-down — the "
    "cumulative window runs over the BOUNDED |langs|x20 frame, never "
    "the corpus.  The naive form (ORDER BY score DESC + running-sum "
    "cutoff) is a per-lang global sort of every document — the exact "
    "anti-pattern q83/q69 replace; at 100 TB only the histogram walk "
    "survives.  All threshold arithmetic is integer token counts — "
    "FP-free cross-engine.",
    operators=("quality-classifier", "curation-budget", "W2", "A3"),
)
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import rules as R, text as T

    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = T.tokens("text")
    f1 = F.least(F.size(toks) / lit(200.0), lit(1.0))
    f2 = F.least(R.mean_token_length(toks) / lit(10.0), lit(1.0))
    f3 = T.stopword_ratio("text", T.LANG_STOPWORDS["en"])
    f4 = T.punct_ratio("text")
    z = (
        lit(_Q79_W[0]) * f1
        + lit(_Q79_W[1]) * f2
        + lit(_Q79_W[2]) * f3
        + lit(_Q79_W[3]) * f4
        + lit(_Q79_B)
    )
    score = rnd(lit(1.0) / (lit(1.0) + F.exp(-z)), 6)
    binned = docs.select(
        "lang",
        F.size(toks).alias("n_tokens"),
        F.least(F.floor(score * _Q96_BINS), lit(_Q96_BINS - 1))
        .cast("long")
        .alias("bin"),
    )
    hist = binned.groupBy("lang", "bin").agg(
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
        F.count("*").cast("long").alias("bin_docs"),
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy(col("bin").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("lang")
    cum = hist.withColumn(
        "cum_tokens", F.sum("bin_tokens").over(w_cum).cast("long")
    ).withColumn(
        "budget_tokens",
        F.floor(lit(_Q96_BUDGET_FRAC) * F.sum("bin_tokens").over(w_all)).cast(
            "long"
        ),
    )
    sel = col("cum_tokens") <= col("budget_tokens")
    return (
        cum.groupBy("lang")
        .agg(
            F.max("budget_tokens").alias("budget_tokens"),
            F.min(F.when(sel, col("bin"))).alias("threshold_bin"),
            F.coalesce(F.sum(F.when(sel, col("bin_tokens"))), lit(0))
            .cast("long")
            .alias("selected_tokens"),
            F.coalesce(F.sum(F.when(sel, col("bin_docs"))), lit(0))
            .cast("long")
            .alias("n_selected_docs"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q97 — HLL over sliding windows (mergeable sketch × time windows)
# ---------------------------------------------------------------------------

_Q97_B = 9  # 512 registers, ~4.6% standard error
_Q97_DAYS = 7


def _q97_oracle() -> str:
    from ..operators.sketch import _alpha

    m = 2**_Q97_B
    w_bits = 32 - _Q97_B
    alpha = _alpha(m)
    return f"""
WITH days AS (
    SELECT DISTINCT date_trunc('day', ts)::DATE AS wday FROM events
),
h AS (
    SELECT date_trunc('day', ts)::DATE AS d,
           ('0x' || substr(md5('hll' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS hv
    FROM events
),
contrib AS (
    -- each day's registers contribute to the {_Q97_DAYS} windows ending
    -- on day .. day+{_Q97_DAYS - 1}; windows are keyed by their END day
    SELECT w.wday, hv // {2**w_bits} AS bucket,
           max(CASE WHEN hv % {2**w_bits} = 0 THEN {w_bits + 1}
                    ELSE instr(lpad(bin(hv % {2**w_bits}), {w_bits}, '0'), '1')
               END) AS rho
    FROM h
    JOIN days w
      ON h.d <= w.wday AND h.d > w.wday - {_Q97_DAYS}
    GROUP BY w.wday, bucket
),
est AS (
    SELECT wday, count(*) AS used,
           CAST({alpha * m * m!r} AS DOUBLE)
               / (({m} - count(*)) + sum(pow(2.0, -rho))) AS raw
    FROM contrib
    GROUP BY wday
),
hll AS (
    SELECT wday,
           round(CASE WHEN raw <= CAST({2.5 * m!r} AS DOUBLE) AND used < {m}
                      THEN CAST({float(m)!r} AS DOUBLE)
                           * ln(CAST({float(m)!r} AS DOUBLE) / ({m} - used))
                      ELSE raw END + 1e-9, 4) AS hll_users
    FROM est
)
SELECT wday AS window_end,
       CAST(used AS BIGINT) AS n_buckets_used,
       hll.hll_users
FROM hll JOIN est USING (wday)
ORDER BY window_end
"""


def _q97_audit_oracle() -> str:
    return f"""
WITH sk AS ({_q97_oracle().replace("ORDER BY window_end", "")})
, days AS (
    SELECT DISTINCT date_trunc('day', ts)::DATE AS wday FROM events
),
exact AS (
    SELECT w.wday, CAST(count(DISTINCT e.user_id) AS BIGINT) AS exact_users
    FROM events e
    JOIN days w
      ON date_trunc('day', e.ts)::DATE <= w.wday
     AND date_trunc('day', e.ts)::DATE > w.wday - {_Q97_DAYS}
    GROUP BY w.wday
)
SELECT sk.window_end,
       exact.exact_users,
       sk.hll_users,
       round(abs(sk.hll_users - exact.exact_users) / exact.exact_users + 1e-9, 6)
           AS rel_err
FROM sk
JOIN exact ON sk.window_end = exact.wday
ORDER BY window_end
"""


def _q97_sketch(spark: SparkSession, sf_dir: str):
    """Shared sketch side: (wday, n_buckets_used, hll_users) — bounded at
    |days| × m register rows end-to-end."""
    from ..operators import sketch

    ev = load_table(spark, sf_dir, "events").select(
        col("ts").cast("date").alias("d"), "user_id"
    )
    days = ev.select(col("d").alias("wday")).distinct()
    daily = sketch.hll_partials(ev, "user_id", ["d"], b=_Q97_B)
    # explode each day's registers into the windows (end days) it covers,
    # keeping only end days that actually exist in the data
    contrib = (
        daily.withColumn(
            "wday",
            F.explode(
                F.sequence(
                    col("d"), F.date_add(col("d"), _Q97_DAYS - 1)
                )
            ),
        )
        .join(days, "wday")
        .drop("d")
    )
    merged = sketch.hll_merge(contrib, ["wday"])
    return ev, days, sketch.hll_estimate(merged, ["wday"], b=_Q97_B).select(
        "wday",
        col("n_buckets_used").cast("long"),
        rnd(col("hll_distinct"), 4).alias("hll_users"),
    )


@register(
    "q97_sliding_window_hll",
    _q97_oracle(),
    "Mergeable-sketch × sliding-window composition, PRODUCTION shape: "
    "7-day rolling distinct users where each DAY's HLL register table "
    "(bounded: |days| × m rows) is max-merged into the 7 windows it "
    "covers — the 100 TB form of sliding COUNT DISTINCT, where the raw "
    "stream is sketched ONCE per day (one linear pass) and windows only "
    "merge register partials, so window count never multiplies the raw "
    "data.  Portable md5 registers keep the approximate path "
    "hash-checkable (the q54 contract).  The exact-distinct audit that "
    "reports realized error lives in q110_sliding_hll_audit — kept OUT "
    "of this registration so the timed cost reflects the bounded "
    "register merge, not a 7× raw-id explode.",
    operators=("sketch-hll", "W-sliding-merge", "A2", "A4"),
)
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, hll = _q97_sketch(spark, sf_dir)
    return hll.select(
        col("wday").alias("window_end"), "n_buckets_used", "hll_users"
    ).orderBy("window_end")


@register(
    "q110_sliding_hll_audit",
    _q97_audit_oracle(),
    "AUDIT mode of q97: the same merged 7-day HLL estimates joined "
    "against the exact sliding COUNT DISTINCT (one shuffle per window "
    "over raw user ids — deliberately the expensive side, ~6× growth "
    "at 10× data) to report realized relative error vs the sketch's "
    "~4.6% standard error at b=9.  Run on samples/backfills to validate "
    "sketch sizing; q97 is the production query.",
    operators=("sketch-hll", "A2", "audit"),
)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev, days, hll = _q97_sketch(spark, sf_dir)
    exact = (
        ev.withColumn(
            "wday",
            F.explode(F.sequence(col("d"), F.date_add(col("d"), _Q97_DAYS - 1))),
        )
        .join(days, "wday")
        .groupBy("wday")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
    )
    return (
        hll.join(exact, "wday")
        .select(
            col("wday").alias("window_end"),
            "exact_users",
            "hll_users",
            rnd(
                F.abs(col("hll_users") - col("exact_users"))
                / col("exact_users"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("window_end")
    )


# ---------------------------------------------------------------------------
# q98 — weighted label propagation (community detection)
# ---------------------------------------------------------------------------

_Q98_ITERS = 4


def _q98_oracle(iters: int = _Q98_ITERS) -> str:
    """Unrolled synchronous label-propagation sweeps over the nation
    trade graph (the q63 edge list, undirected).  String labels +
    integer weights: the trajectory needs NO rounding anywhere."""
    parts = [
        """edges AS (
    SELECT cn.n_name AS src, sn.n_name AS dst, count(*) AS w
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    GROUP BY cn.n_name, sn.n_name
)""",
        """und AS MATERIALIZED (
    SELECT e_src, e_dst, sum(w) AS w FROM (
        SELECT src AS e_src, dst AS e_dst, w FROM edges
        UNION ALL
        SELECT dst AS e_src, src AS e_dst, w FROM edges
    ) u
    GROUP BY e_src, e_dst
)""",
        "nodes AS (SELECT DISTINCT e_src AS node FROM und)",
        "l0 AS (SELECT node, node AS label FROM nodes)",
    ]
    prev = "l0"
    for it in range(1, iters + 1):
        parts.append(f"""sc{it} AS MATERIALIZED (
    SELECT e.e_src AS nd, l.label, sum(e.w) AS s
    FROM und e JOIN {prev} l ON e.e_dst = l.node
    GROUP BY e.e_src, l.label
)""")
        parts.append(
            f"b{it} AS (SELECT nd, max(s) AS ms FROM sc{it} GROUP BY nd)"
        )
        parts.append(f"""l{it} AS MATERIALIZED (
    SELECT s.nd AS node, min(s.label) AS label
    FROM sc{it} s JOIN b{it} b ON s.nd = b.nd AND s.s = b.ms
    GROUP BY s.nd
)""")
        prev = f"l{it}"
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes},
sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS community_size
          FROM {prev} GROUP BY label)
SELECT f.node AS n_name, f.label AS community, s.community_size
FROM {prev} f JOIN sizes s ON f.label = s.label
ORDER BY n_name
"""


@register(
    "q98_label_propagation",
    _q98_oracle(),
    "Weighted synchronous label propagation (Raghavan et al. 2007) over "
    "the undirected nation trade graph — the third iterative graph "
    "operator beside connected components (q46) and PageRank (q63).  "
    "Deterministic tie-break (largest incident weight, then smallest "
    "label) and integer-weight/string-label state make the ENTIRE "
    "4-sweep trajectory FP-free: the oracle unrolls the same sweeps "
    "with no rounding at all.  Per sweep: one (node, label) groupBy + "
    "a max-equality join — no window, no collect; labels frame "
    "localCheckpoints per sweep (the CC/PageRank lineage contract).",
    operators=("graph-label-propagation", "J7", "A3"),
)
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(
        col("n_nationkey").alias("c_nk"), col("n_name").alias("src")
    )
    sn = n.select(
        col("n_nationkey").alias("s_nk"), col("n_name").alias("dst")
    )
    edges = (
        # nation (25 rows) is bounded by construction → forced broadcast;
        # customer/supplier GROW with the scale factor, so their join
        # strategy is left to the planner — a parquet scan's size
        # estimate is reliable (unlike explode fan-out), AQE broadcasts
        # them while they fit and shuffles beyond, never OOMing on a
        # forced hint (the round-9 estimate-blind-broadcast class)
        li.join(o, col("l_orderkey") == col("o_orderkey"))
        .join(
            c.select("c_custkey", "c_nationkey"),
            col("o_custkey") == col("c_custkey"),
        )
        .join(
            s.select("s_suppkey", "s_nationkey"),
            col("l_suppkey") == col("s_suppkey"),
        )
        .join(F.broadcast(cn), col("c_nationkey") == col("c_nk"))
        .join(F.broadcast(sn), col("s_nationkey") == col("s_nk"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    labels = graph.label_propagation(edges, iters=_Q98_ITERS)
    sizes = labels.groupBy("label").agg(
        F.count("*").cast("long").alias("community_size")
    )
    return (
        labels.join(sizes, "label")
        .select(
            col("node").alias("n_name"),
            col("label").alias("community"),
            "community_size",
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q99 — containment (quote-inclusion) near-dup pairs
# ---------------------------------------------------------------------------

_Q99_THRESHOLD = 0.8

_Q99_ORACLE = f"""
WITH {_SHINGLE_CTES},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, n_common,
       sa.n_sh AS size_a, sb.n_sh AS size_b,
       round(1.0 * n_common / least(sa.n_sh, sb.n_sh) + 1e-9, 6) AS containment
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE 1.0 * n_common / least(sa.n_sh, sb.n_sh) >= {_Q99_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@register(
    "q99_containment_pairs",
    _Q99_ORACLE,
    "Containment near-dup pairs n_common/min(sizes) ≥ 0.8 — the "
    "asymmetric measure that catches QUOTE INCLUSION (a short document "
    "embedded in a long one), which Jaccard dilutes toward zero as the "
    "long side grows.  EXACT via the min-side prefix filter "
    "(Bayardo/Vernica): candidates come from the smaller doc's "
    "rarest-shingle prefix joined against full shingle sets, so hot "
    "boilerplate shingles never self-join; the naive all-shared-"
    "shingle-pairs formula is the oracle.  16x faster than the naive "
    "plan at sf0.1 with identical results.",
    operators=("dedup-containment", "J7", "A4"),
)
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.containment_pairs(
        docs, "doc_id", "text", n=3, threshold=_Q99_THRESHOLD
    )
    return pairs.withColumn("containment", rnd("containment", 6)).orderBy(
        "doc_a", "doc_b"
    )


# ---------------------------------------------------------------------------
# q100 — period-over-period growth (lag over the bounded month frame)
# ---------------------------------------------------------------------------

_Q100_ORACLE = """
WITH m AS (
    SELECT date_trunc('month', o_orderdate)::DATE AS mon,
           round(sum(o_totalprice) + 1e-9, 2) AS rev
    FROM orders
    GROUP BY mon
)
SELECT mon, rev,
       round(rev - lag(rev) OVER (ORDER BY mon) + 1e-9, 2) AS delta,
       round(100.0 * (rev - lag(rev) OVER (ORDER BY mon))
             / nullif(lag(rev) OVER (ORDER BY mon), 0) + 1e-9, 4) AS pct_change
FROM m
ORDER BY mon
"""


@register(
    "q100_mom_growth",
    _Q100_ORACLE,
    "Month-over-month revenue growth: lag() over the PRE-AGGREGATED "
    "month frame — the global window is bounded at |months| rows "
    "(audited in the plan-lint allowlist), never the orders table; the "
    "only fact-sized stage is the month groupBy.  The q84/q83/q69 rule "
    "again: reduce first, window the bounded frame.",
    operators=("W-lag", "A3", "periodic-report"),
)
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.trunc(col("o_orderdate").cast("date"), "month").alias("mon")).agg(
        rnd(F.sum("o_totalprice"), 2).alias("rev")
    )
    w = Window.orderBy("mon")
    prev = F.lag("rev").over(w)
    return (
        m.withColumn("delta", rnd(col("rev") - prev, 2))
        .withColumn(
            "pct_change",
            rnd(lit(100.0) * (col("rev") - prev) / F.nullif(prev, lit(0)), 4),
        )
        .orderBy("mon")
    )


# ---------------------------------------------------------------------------
# q101 — MAD (median absolute deviation) robust outlier detection
# ---------------------------------------------------------------------------

_Q101_K = 3.5  # robust-z cutoff (Iglewicz-Hoaglin recommended 3.5)

_Q101_ORACLE = f"""
WITH med AS (
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5) + 1e-9, 6) AS med
    FROM lineitem GROUP BY l_returnflag
),
mad AS (
    SELECT l.l_returnflag, m.med,
           round(quantile_cont(abs(l.l_extendedprice - m.med), 0.5) + 1e-9, 6) AS mad
    FROM lineitem l JOIN med m USING (l_returnflag)
    GROUP BY l.l_returnflag, m.med
)
SELECT l.l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       m.med, m.mad,
       CAST(sum(CASE WHEN abs(0.6745 * (l.l_extendedprice - m.med) / nullif(m.mad, 0))
                          > {_Q101_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(1.0 * sum(CASE WHEN abs(0.6745 * (l.l_extendedprice - m.med) / nullif(m.mad, 0))
                            > {_Q101_K} THEN 1 ELSE 0 END) / count(*) + 1e-9, 6)
           AS outlier_rate
FROM lineitem l
JOIN mad m USING (l_returnflag)
GROUP BY l.l_returnflag, m.med, m.mad
ORDER BY l.l_returnflag
"""


@register(
    "q101_mad_outliers",
    _Q101_ORACLE,
    "Robust outlier detection by modified z-score (Iglewicz–Hoaglin: "
    "0.6745·(x−median)/MAD > 3.5) — the robust-stats complement to "
    "q86's winsorization: median and MAD don't move when the outliers "
    "themselves grow, unlike mean/stddev.  Two grouped exact-median "
    "passes (A6 single-buffer posture, approx escape at 100 TB), each "
    "result broadcast back; flagging is map-side.  Medians are nudge-"
    "rounded in both engines before the deviation pass so the MAD "
    "baseline is cross-engine identical.",
    operators=("A6", "robust-stats", "J1", "A4"),
)
def q101(spark: SparkSession, sf_dir: str, approx: bool = False) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    med = li.groupBy("l_returnflag").agg(
        rnd(pct("l_extendedprice", lit(0.5), approx), 6).alias("med")
    )
    mad = (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag", "med")
        .agg(
            rnd(
                pct(F.abs(col("l_extendedprice") - col("med")), lit(0.5), approx),
                6,
            ).alias("mad")
        )
    )
    rz = F.abs(
        lit(0.6745)
        * (col("l_extendedprice") - col("med"))
        / F.nullif(col("mad"), lit(0))
    )
    out = F.sum(F.when(rz > _Q101_K, 1).otherwise(0))
    return (
        li.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag", "med", "mad")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            out.cast("long").alias("n_outliers"),
            rnd(out / F.count("*"), 6).alias("outlier_rate"),
        )
        .select(
            "l_returnflag", "n_items", "med", "mad", "n_outliers", "outlier_rate"
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# q102 — event-type co-occurrence PMI (pointwise mutual information)
# ---------------------------------------------------------------------------

_Q102_ORACLE = """
WITH ud AS (
    SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day, event_type
    FROM events
),
n_ctx AS (
    SELECT count(*) AS n FROM (SELECT DISTINCT user_id, day FROM ud) t
),
singles AS (
    SELECT event_type, count(*) AS c FROM ud GROUP BY event_type
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS c_ab
    FROM ud a
    JOIN ud b ON a.user_id = b.user_id AND a.day = b.day
              AND a.event_type < b.event_type
    GROUP BY type_a, type_b
)
SELECT p.type_a, p.type_b,
       CAST(p.c_ab AS BIGINT) AS n_cooccur,
       round(ln((1.0 * p.c_ab * n.n) / (1.0 * sa.c * sb.c)) + 1e-9, 6) AS pmi
FROM pairs p
JOIN singles sa ON p.type_a = sa.event_type
JOIN singles sb ON p.type_b = sb.event_type
CROSS JOIN n_ctx n
ORDER BY p.type_a, p.type_b
"""


@register(
    "q102_event_pmi",
    _Q102_ORACLE,
    "Pointwise mutual information between event types over (user, day) "
    "contexts: PMI = ln(P(a,b) / P(a)P(b)) — the association measure "
    "behind word2vec-era co-occurrence analysis, here as a "
    "per-context distinct + self-join on the CONTEXT key (bounded "
    "fan-out: ≤ |event types| rows per context, so the join is "
    "|contexts|·k², never corpus²) + two broadcast marginal frames.  "
    "Output is the k·(k−1)/2 type-pair matrix.",
    operators=("J7", "A2", "association-pmi"),
)
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", col("ts").cast("date").alias("day"), "event_type"
    ).distinct()
    # 1-row context-count frame broadcast onto the pair matrix (the
    # q14/q56 scalar pattern — no eager driver-side count job)
    n_ctx = (
        ud.select("user_id", "day").distinct().agg(F.count("*").alias("n"))
    )
    singles = ud.groupBy("event_type").agg(F.count("*").alias("c"))
    a = ud.select("user_id", "day", col("event_type").alias("type_a"))
    b = ud.select("user_id", "day", col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "day"])
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("c_ab"))
    )
    return (
        pairs.join(
            F.broadcast(singles.select(col("event_type").alias("type_a"), col("c").alias("c_a"))),
            "type_a",
        )
        .join(
            F.broadcast(singles.select(col("event_type").alias("type_b"), col("c").alias("c_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n_ctx))
        .select(
            "type_a",
            "type_b",
            col("c_ab").cast("long").alias("n_cooccur"),
            rnd(
                F.log(
                    (col("c_ab") * col("n").cast("double"))
                    / (col("c_a") * col("c_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# q103 — first-order event transition matrix (Markov chain estimate)
# ---------------------------------------------------------------------------

_Q103_ORACLE = """
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
    FROM events
),
trans AS (
    SELECT event_type AS from_type, next_type AS to_type, count(*) AS c
    FROM ordered
    WHERE next_type IS NOT NULL
    GROUP BY from_type, to_type
),
outc AS (
    SELECT from_type, sum(c) AS total FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type,
       CAST(t.c AS BIGINT) AS n_transitions,
       round(1.0 * t.c / o.total + 1e-9, 6) AS p_transition
FROM trans t JOIN outc o USING (from_type)
ORDER BY t.from_type, t.to_type
"""


@register(
    "q103_event_transitions",
    _Q103_ORACLE,
    "First-order Markov transition matrix over the event stream: "
    "lead() per user (one shuffle on the entity key, the q87 posture), "
    "transition counts, and row-normalized probabilities from a "
    "broadcast per-source-state marginal — the order-SENSITIVE "
    "companion to q102's order-free PMI.  Output is the k×k matrix.",
    operators=("W-lead", "A3", "markov-transitions"),
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(col("next_type").isNotNull())
        .groupBy(
            col("event_type").alias("from_type"),
            col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("c"))
    )
    outc = trans.groupBy("from_type").agg(F.sum("c").alias("total"))
    return (
        trans.join(F.broadcast(outc), "from_type")
        .select(
            "from_type",
            "to_type",
            col("c").cast("long").alias("n_transitions"),
            rnd(col("c") / col("total"), 6).alias("p_transition"),
        )
        .orderBy("from_type", "to_type")
    )


# ---------------------------------------------------------------------------
# q104 — inter-arrival-time histogram (log-scale latency buckets)
# ---------------------------------------------------------------------------

_Q104_ORACLE = """
WITH ordered AS (
    SELECT user_id, ts, event_id,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
),
gaps AS (
    SELECT date_diff('second', prev_ts, ts) AS gap_s
    FROM ordered WHERE prev_ts IS NOT NULL
),
b AS (
    SELECT CASE WHEN gap_s <= 0 THEN -1
                ELSE CAST(floor(round(ln(gap_s) / ln(10) + 1e-9, 9))
                          AS BIGINT) END AS bucket,
           gap_s
    FROM gaps
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_s) AS BIGINT) AS min_gap_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s,
       round(avg(gap_s) + 1e-9, 4) AS avg_gap_s
FROM b
GROUP BY bucket
ORDER BY bucket
"""


@register(
    "q104_interarrival_histogram",
    _Q104_ORACLE,
    "Inter-arrival-time distribution on a log10 scale: lag() per user "
    "(entity-key shuffle), integer-second gaps, map-side decade "
    "bucketing (bucket -1 holds zero-gap same-second pairs), then a "
    "bounded ~10-key aggregate — the latency-histogram shape used for "
    "SLO/heartbeat monitoring, FP-free except the per-bucket mean.",
    operators=("W-lag", "A3", "latency-histogram"),
)
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.scalar import to_epoch

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = to_epoch("ts") - to_epoch("prev_ts")
    b = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(col("prev_ts").isNotNull())
        .select(gap.alias("gap_s"))
        .withColumn(
            "bucket",
            F.when(col("gap_s") <= 0, lit(-1)).otherwise(
                # round-then-floor (q93/q96 bin convention): Spark's
                # Math.log and DuckDB's libm can differ by 1 ulp at exact
                # powers of 10 (gap = 10/100/1000 s), which would flip
                # the floor — the 9-dp nudge-round absorbs that
                F.floor(rnd(
                    F.log(col("gap_s").cast("double")) / F.log(lit(10.0)), 9
                ))
            ).cast("long"),
        )
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            F.min("gap_s").cast("long").alias("min_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
            rnd(F.avg("gap_s"), 4).alias("avg_gap_s"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q105 — corpus drift: Jensen–Shannon divergence of token distributions
# ---------------------------------------------------------------------------

_Q105_ORACLE = """
WITH t AS (
    SELECT lang, doc_id % 2 AS half,
           unnest(string_split_regex(lower(text), '\\s+')) AS tok
    FROM documents
),
c AS (SELECT lang, half, tok, count(*) AS c FROM t GROUP BY lang, half, tok),
tot AS (SELECT lang, half, sum(c) AS n FROM c GROUP BY lang, half),
p AS (
    SELECT c.lang, c.tok,
           coalesce(max(CASE WHEN c.half = 0 THEN 1.0 * c.c / tot.n END), 0) AS p0,
           coalesce(max(CASE WHEN c.half = 1 THEN 1.0 * c.c / tot.n END), 0) AS p1
    FROM c JOIN tot ON c.lang = tot.lang AND c.half = tot.half
    GROUP BY c.lang, c.tok
),
contrib AS (
    SELECT lang, tok, p0, p1, (p0 + p1) / 2 AS m,
           0.5 * (CASE WHEN p0 > 0 THEN p0 * ln(p0 / ((p0 + p1) / 2)) ELSE 0 END)
         + 0.5 * (CASE WHEN p1 > 0 THEN p1 * ln(p1 / ((p0 + p1) / 2)) ELSE 0 END)
               AS js_term
    FROM p
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_tokens_union,
       round(sum(js_term) / ln(2.0) + 1e-9, 4) AS js_divergence_bits
FROM contrib
GROUP BY lang
ORDER BY lang
"""


@register(
    "q105_token_drift_js",
    _Q105_ORACLE,
    "Corpus-drift detection: Jensen–Shannon divergence (bits) between "
    "the token distributions of two corpus halves (doc_id parity "
    "stands in for yesterday/today snapshots), per language — the "
    "distribution-shift monitor a continuously-ingesting training "
    "pipeline runs per refresh.  One explode + (lang, half, token) "
    "count, a full-outer-style pivot to (p0, p1) on the vocab key, "
    "map-side JS terms, vocab-keyed sum.  Per-token probabilities are "
    "exact ratios of integer counts (bit-identical cross-engine); only "
    "the final vocab-sized sum needs the nudge-round (4 dp).",
    operators=("A3", "J9", "drift-js-divergence"),
)
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        (col("doc_id") % 2).alias("half"),
        F.explode(text.tokens("text")).alias("tok"),
    )
    c = t.groupBy("lang", "half", "tok").agg(F.count("*").alias("c"))
    tot = c.groupBy("lang", "half").agg(F.sum("c").alias("n"))
    p = (
        c.join(F.broadcast(tot), ["lang", "half"])
        .groupBy("lang", "tok")
        .agg(
            F.coalesce(
                F.max(F.when(col("half") == 0, col("c") / col("n"))), lit(0.0)
            ).alias("p0"),
            F.coalesce(
                F.max(F.when(col("half") == 1, col("c") / col("n"))), lit(0.0)
            ).alias("p1"),
        )
    )
    m = (col("p0") + col("p1")) / 2
    js_term = lit(0.5) * F.when(
        col("p0") > 0, col("p0") * F.log(col("p0") / m)
    ).otherwise(0.0) + lit(0.5) * F.when(
        col("p1") > 0, col("p1") * F.log(col("p1") / m)
    ).otherwise(0.0)
    return (
        p.select("lang", js_term.alias("js_term"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_tokens_union"),
            rnd(F.sum("js_term") / F.log(lit(2.0)), 4).alias(
                "js_divergence_bits"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q106 — lexical diversity report (entropy, TTR, hapax rate)
# ---------------------------------------------------------------------------

_Q106_ORACLE = """
WITH t AS (
    SELECT lang, unnest(string_split_regex(lower(text), '\\s+')) AS tok
    FROM documents
),
c AS (SELECT lang, tok, count(*) AS c FROM t GROUP BY lang, tok),
tot AS (SELECT lang, sum(c) AS n FROM c GROUP BY lang)
SELECT c.lang,
       CAST(max(tot.n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(1.0 * count(*) / max(tot.n) + 1e-9, 6) AS type_token_ratio,
       round(1.0 * sum(CASE WHEN c.c = 1 THEN 1 ELSE 0 END) / count(*) + 1e-9, 6)
           AS hapax_rate,
       round(-sum((1.0 * c.c / tot.n) * ln(1.0 * c.c / tot.n)) / ln(2.0) + 1e-9, 4)
           AS entropy_bits
FROM c JOIN tot ON c.lang = tot.lang
GROUP BY c.lang
ORDER BY c.lang
"""


@register(
    "q106_lexical_diversity",
    _Q106_ORACLE,
    "Lexical-diversity corpus report per language: Shannon entropy "
    "(bits) of the token distribution, type–token ratio, and hapax-"
    "legomena rate — the classical vocabulary-health metrics a corpus "
    "card publishes.  One explode + (lang, token) count + broadcast "
    "lang totals + vocab-keyed fold; per-token probabilities are exact "
    "integer ratios, only the entropy sum is nudge-rounded.",
    operators=("A3", "text-entropy", "corpus-card"),
)
def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    t = docs.select("lang", F.explode(text.tokens("text")).alias("tok"))
    c = t.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    tot = c.groupBy("lang").agg(F.sum("c").alias("n"))
    p = col("c") / col("n")
    return (
        c.join(F.broadcast(tot), "lang")
        .groupBy("lang")
        .agg(
            F.max("n").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_types"),
            rnd(F.count("*") / F.max("n"), 6).alias("type_token_ratio"),
            rnd(
                F.sum(F.when(col("c") == 1, 1).otherwise(0)) / F.count("*"), 6
            ).alias("hapax_rate"),
            rnd(-F.sum(p * F.log(p)) / F.log(lit(2.0)), 4).alias(
                "entropy_bits"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q107 — pairwise language similarity matrix (JS divergence on tokens)
# ---------------------------------------------------------------------------

_Q107_ORACLE = """
WITH t AS (
    SELECT lang, unnest(string_split_regex(lower(text), '\\s+')) AS tok
    FROM documents
),
c AS (SELECT lang, tok, count(*) AS c FROM t GROUP BY lang, tok),
tot AS (SELECT lang, sum(c) AS n FROM c GROUP BY lang),
p AS (
    SELECT c.lang, c.tok, 1.0 * c.c / tot.n AS p
    FROM c JOIN tot ON c.lang = tot.lang
),
pairs AS (
    SELECT a.lang AS lang_a, b.lang AS lang_b, a.tok,
           coalesce(a.p, 0) AS pa, coalesce(b.p, 0) AS pb
    FROM p a FULL OUTER JOIN p b
      ON a.tok = b.tok AND a.lang < b.lang
    WHERE a.lang IS NOT NULL AND b.lang IS NOT NULL
),
terms AS (
    SELECT lang_a, lang_b,
           0.5 * (CASE WHEN pa > 0 THEN pa * ln(pa / ((pa + pb) / 2)) ELSE 0 END)
         + 0.5 * (CASE WHEN pb > 0 THEN pb * ln(pb / ((pa + pb) / 2)) ELSE 0 END)
               AS js_term,
           pa, pb
    FROM pairs
),
-- tokens exclusive to one language contribute 0.5*p*ln(2) from that side;
-- the inner-join pair rows above only cover SHARED tokens, so add the
-- exclusive mass per pair from the marginals
shared AS (
    SELECT lang_a, lang_b,
           sum(js_term) AS js_shared,
           sum(pa) AS pa_shared, sum(pb) AS pb_shared
    FROM terms GROUP BY lang_a, lang_b
)
SELECT lang_a, lang_b,
       round((js_shared
              + 0.5 * (1 - pa_shared) * ln(2.0)
              + 0.5 * (1 - pb_shared) * ln(2.0)) / ln(2.0) + 1e-9, 4)
           AS js_divergence_bits
FROM shared
ORDER BY lang_a, lang_b
"""


@register(
    "q107_lang_similarity_matrix",
    _Q107_ORACLE,
    "Pairwise language-similarity matrix: Jensen–Shannon divergence "
    "between every pair of language token distributions, computed from "
    "ONE (lang, token, p) frame self-joined on the token key — the "
    "k·(k−1)/2 matrix costs one vocab-keyed join however many "
    "languages share it, never a per-pair scan.  Tokens exclusive to "
    "one side contribute closed-form 0.5·p·ln2 mass, folded in from "
    "the shared-probability marginals instead of materializing the "
    "disjoint-vocab rows (the full-outer explosion).",
    operators=("J7", "A3", "drift-js-divergence"),
)
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    t = docs.select("lang", F.explode(text.tokens("text")).alias("tok"))
    c = t.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    tot = c.groupBy("lang").agg(F.sum("c").alias("n"))
    p = c.join(F.broadcast(tot), "lang").select(
        "lang", "tok", (col("c") / col("n")).alias("p")
    )
    a = p.select(col("lang").alias("lang_a"), "tok", col("p").alias("pa"))
    b = p.select(col("lang").alias("lang_b"), "tok", col("p").alias("pb"))
    m = (col("pa") + col("pb")) / 2
    js_term = lit(0.5) * col("pa") * F.log(col("pa") / m) + lit(0.5) * col(
        "pb"
    ) * F.log(col("pb") / m)
    shared = (
        a.join(b, "tok")
        .filter(col("lang_a") < col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(
            F.sum(js_term).alias("js_shared"),
            F.sum("pa").alias("pa_shared"),
            F.sum("pb").alias("pb_shared"),
        )
    )
    ln2 = F.log(lit(2.0))
    return (
        shared.select(
            "lang_a",
            "lang_b",
            rnd(
                (
                    col("js_shared")
                    + lit(0.5) * (lit(1.0) - col("pa_shared")) * ln2
                    + lit(0.5) * (lit(1.0) - col("pb_shared")) * ln2
                )
                / ln2,
                4,
            ).alias("js_divergence_bits"),
        )
        .orderBy("lang_a", "lang_b")
    )


# ---------------------------------------------------------------------------
# q108 — snapshot novelty rate (corpus freshness between refreshes)
# ---------------------------------------------------------------------------

_Q108_N = 3

_Q108_ORACLE = f"""
WITH t AS (
    SELECT lang, doc_id % 2 AS half,
           string_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
sh AS (
    SELECT lang, half,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(tk) - {_Q108_N - 1}, 1) + 1),
               i -> array_to_string(list_slice(tk, i, i + {_Q108_N - 1}), ' ')))) AS g
    FROM t
),
old AS (SELECT DISTINCT lang, g FROM sh WHERE half = 0),
new AS (SELECT DISTINCT lang, g FROM sh WHERE half = 1)
SELECT n.lang,
       CAST(count(*) AS BIGINT) AS n_new_grams,
       CAST(sum(CASE WHEN o.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(1.0 * sum(CASE WHEN o.g IS NULL THEN 1 ELSE 0 END) / count(*) + 1e-9, 6)
           AS novelty_rate
FROM new n
LEFT JOIN old o ON n.lang = o.lang AND n.g = o.g
GROUP BY n.lang
ORDER BY n.lang
"""


@register(
    "q108_snapshot_novelty",
    _Q108_ORACLE,
    "Corpus-freshness monitor: the fraction of the NEW snapshot's "
    "distinct word 3-grams unseen in the OLD snapshot, per language "
    "(doc_id parity stands in for refresh generations) — the "
    "complement of q78's document-level incremental refresh and "
    "q105's distribution drift: novelty says how much genuinely new "
    "TEXT arrived, not how the mix shifted.  Two distinct-gram "
    "frames, one left join on the (lang, gram) key — at 100 TB the "
    "standing side is the fingerprint store, exactly the q78 posture.",
    operators=("J-left-anti-share", "A4", "corpus-freshness"),
)
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import decontam

    docs = load_table_parallel(spark, sf_dir, "documents")
    grams = docs.select(
        "lang",
        (col("doc_id") % 2).alias("half"),
        F.explode(decontam.word_ngrams("text", _Q108_N)).alias("g"),
    )
    old = (
        grams.filter(col("half") == 0)
        .select(col("lang").alias("lang_o"), col("g").alias("g_old"))
        .distinct()
    )
    new = grams.filter(col("half") == 1).select("lang", "g").distinct()
    return (
        new.join(
            old,
            (col("lang") == col("lang_o")) & (col("g") == col("g_old")),
            "left",
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_new_grams"),
            F.sum(F.when(col("g_old").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
            rnd(
                F.sum(F.when(col("g_old").isNull(), 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("novelty_rate"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q109 — duplication profile (dedup-savings report from CC clusters)
# ---------------------------------------------------------------------------

_Q109_ORACLE = """
WITH fp AS (
    SELECT doc_id, source,
           substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 16)
               AS f
    FROM documents
),
groups AS (
    SELECT source, f, count(*) AS group_size FROM fp GROUP BY source, f
),
b AS (
    SELECT source,
           CASE WHEN group_size = 1 THEN 'unique'
                WHEN group_size = 2 THEN 'pair'
                ELSE '3plus' END AS bucket,
           group_size
    FROM groups
)
SELECT source, bucket,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(group_size) AS BIGINT) AS n_docs,
       CAST(sum(group_size - 1) AS BIGINT) AS n_removable
FROM b
GROUP BY source, bucket
ORDER BY source, bucket
"""


@register(
    "q109_duplication_profile",
    _Q109_ORACLE,
    "Dedup-savings report: exact-duplicate group sizes (normalized-md5 "
    "fingerprint) bucketed into unique/pair/3plus per source, with the "
    "removable-document count (group_size − 1 per group) — the report "
    "that decides whether a corpus is worth a dedup pass before one "
    "runs.  One fingerprint groupBy + a bounded per-source rollup; the "
    "same shape feeds from near-dup CC clusters (q46) when fuzzy "
    "groups are wanted.",
    operators=("dedup-profile", "A3", "A4"),
)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    groups = (
        docs.select("source", text.fingerprint("text").alias("f"))
        .groupBy("source", "f")
        .agg(F.count("*").alias("group_size"))
    )
    bucket = (
        F.when(col("group_size") == 1, "unique")
        .when(col("group_size") == 2, "pair")
        .otherwise("3plus")
    )
    return (
        groups.select("source", bucket.alias("bucket"), "group_size")
        .groupBy("source", "bucket")
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.sum("group_size").cast("long").alias("n_docs"),
            F.sum(col("group_size") - 1).cast("long").alias("n_removable"),
        )
        .orderBy("source", "bucket")
    )


# ---------------------------------------------------------------------------
# q111 — DSIR importance resampling (target-matched data selection)
# ---------------------------------------------------------------------------

_Q111_K = 25

_Q111_ORACLE = f"""
WITH tt AS (
    SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
    FROM documents WHERE lang = 'en'
),
tr AS (
    SELECT doc_id, lang,
           len(string_split_regex(lower(text), '\\s+')) AS n,
           unnest(string_split_regex(lower(text), '\\s+')) AS token
    FROM documents WHERE lang <> 'en'
),
ct AS (SELECT token, count(*) AS c FROM tt GROUP BY token),
cr AS (SELECT token, count(*) AS c FROM tr GROUP BY token),
u AS (
    SELECT coalesce(ct.token, cr.token) AS token,
           coalesce(ct.c, 0) AS ct, coalesce(cr.c, 0) AS cr
    FROM ct FULL JOIN cr ON ct.token = cr.token
),
tot AS (SELECT sum(ct) AS NT, sum(cr) AS NR, count(*) AS V FROM u),
scored AS (
    SELECT r.doc_id, r.lang,
           round(sum(ln((u.ct + 1.0) / (tot.NT + tot.V))
                   - ln((u.cr + 1.0) / (tot.NR + tot.V))) / r.n + 1e-9, 9) AS logw
    FROM tr r JOIN u ON r.token = u.token CROSS JOIN tot
    GROUP BY r.doc_id, r.lang, r.n
),
keyed AS (
    SELECT doc_id, lang, logw,
           round(-ln(-ln((('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                          + 0.5) / 4294967296.0)) + 1e-9, 9) AS g
    FROM scored
),
sel AS (SELECT * FROM keyed ORDER BY logw + g DESC, doc_id LIMIT {_Q111_K})
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_selected,
       round(avg(logw) + 1e-9, 6) AS avg_logratio
FROM sel
GROUP BY lang
ORDER BY lang
"""


@register(
    "q111_dsir_selection",
    _Q111_ORACLE,
    "Data Selection via Importance Resampling (DSIR, Xie et al. 2023, "
    "unigram features): non-English documents are Gumbel-top-k sampled "
    "proportionally to exp(mean log p̂_target/p̂_raw), target = the "
    "English subcorpus — the published 'pick raw data that looks like "
    "the in-domain set' selector.  Two token-keyed count shuffles "
    "full-outer-merged over the union vocab, 1-row totals broadcast, "
    "one scoring join, one TakeOrdered top-k; the Gumbel noise is "
    "md5-derived (q67 convention), so the 'random' resample is "
    "deterministic and hash-checked cross-engine.",
    operators=("sampling-dsir", "lm-unigram", "A3", "A4", "O1"),
)
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table_parallel(spark, sf_dir, "documents")
    target = docs.filter(col("lang") == "en")
    raw = docs.filter(col("lang") != "en")
    sel = sampling.dsir_importance_select(
        raw, target, ["doc_id", "lang"], k=_Q111_K
    )
    return (
        sel.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_selected"),
            rnd(F.avg("logw"), 6).alias("avg_logratio"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q112 — dense daily series with forward fill (gapfill + locf)
# ---------------------------------------------------------------------------

_Q112_ORACLE = """
WITH daily AS (
    SELECT event_type, date_trunc('day', ts)::DATE AS day,
           round(sum(value) + 1e-9, 4) AS v
    FROM events GROUP BY event_type, day
),
bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
spine AS (
    SELECT t.event_type, d.day
    FROM (SELECT DISTINCT event_type FROM daily) t
    CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
                FROM bounds) d
),
j AS (
    SELECT s.event_type, s.day, daily.v
    FROM spine s
    LEFT JOIN daily ON s.event_type = daily.event_type AND s.day = daily.day
),
f AS (
    SELECT event_type, day,
           last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vf,
           v IS NULL AS filled
    FROM j
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(CASE WHEN filled THEN 1 ELSE 0 END) AS BIGINT) AS n_gap_days,
       round(sum(vf) + 1e-9, 2) AS total_value_filled,
       round(avg(vf) + 1e-9, 4) AS avg_daily_value
FROM f
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "q112_gapfill_forward",
    _Q112_ORACLE,
    "Dense daily time series with forward fill (the hypertable "
    "time_bucket_gapfill + locf primitive): per-type daily sums joined "
    "onto the full type × day spine (S14 sequence+explode from a 1-row "
    "min/max broadcast — no collect), gaps carried forward by ONE "
    "last(ignorenulls) window per type (the as-of-join machinery "
    "re-keyed to the spine).  Daily values are nudge-rounded BEFORE "
    "the fill so the carried value is cross-engine identical; days "
    "before a type's first observation stay NULL (nothing to carry) "
    "and are excluded by SQL null-skipping aggregates identically in "
    "both engines.",
    operators=("W-fill", "S14", "J3", "A2"),
)
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import temporal

    ev = load_table(spark, sf_dir, "events")
    f = temporal.gap_fill_daily(ev, "ts", "event_type", "value")
    return (
        f.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum(col("filled").cast("long")).alias("n_gap_days"),
            rnd(F.sum("value_filled"), 2).alias("total_value_filled"),
            rnd(F.avg("value_filled"), 4).alias("avg_daily_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q113 — content-defined chunking (FastCDC-style) chunk-level dedup
# ---------------------------------------------------------------------------

_Q113_DIV = 8

_Q113_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source, string_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
tok AS (
    -- zipped unnests (equal-length lists) — the scalar-list form of a
    -- positional explode; range() can't take lateral column args
    SELECT doc_id, source,
           unnest(range(1, len(tk) + 1)) AS pos,
           unnest(tk) AS token,
           unnest(list_transform(range(1, len(tk) + 1),
                  i -> CASE WHEN i < len(tk) THEN tk[i] || ' ' || tk[i + 1]
                            ELSE tk[i] END)) AS gram
    FROM t
),
b AS (
    SELECT *, CASE WHEN ('0x' || substr(md5('cdc:' || gram), 1, 8))::BIGINT
                        % {_Q113_DIV} = 0 THEN 1 ELSE 0 END AS bnd
    FROM tok
),
c AS (
    SELECT *, coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
    FROM b
),
ch AS (
    SELECT doc_id, source, chunk_idx,
           md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_fp,
           count(*) AS n_tokens
    FROM c GROUP BY doc_id, source, chunk_idx
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT chunk_fp) AS BIGINT) AS n_unique_chunks,
       round(1.0 - 1.0 * count(DISTINCT chunk_fp) / count(*) + 1e-9, 6) AS dup_ratio,
       round(avg(n_tokens) + 1e-9, 4) AS avg_chunk_tokens
FROM ch
GROUP BY source
ORDER BY source
"""


@register(
    "q113_cdc_chunk_dedup",
    _Q113_ORACLE,
    "Content-defined chunking (the FastCDC/rsync idea on token "
    "streams): chunk boundaries open where md5(2-token gram) mod "
    f"{_Q113_DIV} == 0, so an edit re-chunks O(1) chunks instead of "
    "shifting every fixed-stride boundary — chunk-level exact dedup "
    "(md5 fingerprints, q24 posture) then still matches everything "
    "after an insertion.  One posexplode + one doc-keyed window "
    "(boundary running count) + one (doc, chunk) reassembly aggregate; "
    "per-source duplicated-chunk ratio is the is-chunk-dedup-worth-it "
    "report.",
    operators=("dedup-cdc", "W-lag", "A1", "A4"),
)
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    ch = dedup.cdc_chunks(docs, "doc_id", "text", gram_width=2, divisor=_Q113_DIV)
    ch = ch.join(docs.select("doc_id", "source"), "doc_id")
    return (
        ch.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.count_distinct("chunk_fp").cast("long").alias("n_unique_chunks"),
            rnd(
                lit(1.0) - F.count_distinct("chunk_fp") / F.count("*"), 6
            ).alias("dup_ratio"),
            rnd(F.avg("n_tokens"), 4).alias("avg_chunk_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q114 — duplicate-cluster canonical selection by quality (keep-best)
# ---------------------------------------------------------------------------

_Q114_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTES},
sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a
    JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
),
pairs AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE 1.0 * n_common / (sa.n_shingles + sb.n_shingles - n_common)
          >= {_Q25_THRESHOLD}
),
sym AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT a, a FROM sym
    UNION
    SELECT s.a, rr.r FROM sym s JOIN reach rr ON rr.node = s.b
),
comp AS (
    SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
),
docs AS (
    SELECT d.doc_id,
           d.source,
           len(string_split_regex(lower(d.text), '\\s+')) AS n_tokens,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d
    LEFT JOIN comp c ON d.doc_id = c.doc_id
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n_tokens DESC, doc_id) = 1 AS keep
    FROM docs
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
       CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
           AS tokens_kept,
       round(1.0 * sum(CASE WHEN keep THEN n_tokens ELSE 0 END)
             / sum(n_tokens) + 1e-9, 6) AS token_retention
FROM ranked
GROUP BY source
ORDER BY source
"""


@register(
    "q114_canonical_keep_best",
    _Q114_ORACLE,
    "Duplicate-cluster canonical selection by QUALITY: exact-Jaccard "
    "near-dup pairs closed into components (q46 posture), then each "
    "cluster keeps its LONGEST member (token count desc, id tie-break) "
    "instead of the min-id — the production dedup rule that retains the "
    "best copy of each near-dup family.  Per-source retention report.  "
    "The oracle replays the closure with a recursive CTE and the same "
    "(n_tokens DESC, doc_id) window.  This registration pins the EXACT "
    "pair source so the oracle can replay it; the operator's default is "
    "MinHash-LSH (q137 registers that production mode).",
    operators=("dedup-canonical", "graph-cc", "W1", "A4"),
)
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = dedup.canonical_dedup(
        docs.select(
            "doc_id", "source", "text",
            text.token_count("text").alias("n_tokens"),
        ),
        "doc_id",
        "text",
        "n_tokens",
        pair_source="jaccard",
        n=3,
        threshold=_Q25_THRESHOLD,
    )
    keep_tok = F.when(col("keep"), col("n_tokens")).otherwise(lit(0))
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_distinct("cluster_id").cast("long").alias("n_clusters"),
            F.sum(col("keep").cast("long")).cast("long").alias("n_kept"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.sum(keep_tok).cast("long").alias("tokens_kept"),
            rnd(F.sum(keep_tok) / F.sum("n_tokens"), 6).alias("token_retention"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q115 — Z-order layout: per-file min/max profile + probe prunability
# ---------------------------------------------------------------------------

_Q115_BITS = 16
_Q115_BUCKETS = 64
# probe predicates a scan would push down against the file footer stats
_Q115_PK_LO, _Q115_PK_HI = 100, 199
_Q115_SK_LO, _Q115_SK_HI = 10, 19


def _zorder_sql(dims: list[str], bits: int) -> str:
    """DuckDB twin of layout.zorder_key: the same unrolled interleave
    (disjoint bits, so summing the terms equals OR-ing them)."""
    n = len(dims)
    terms = [
        f"((({d} >> {b}) & 1) << {b * n + i})"
        for i, d in enumerate(dims)
        for b in range(bits)
    ]
    return " + ".join(terms)


_Q115_SHIFT = _Q115_BITS * 2 - max(_Q115_BUCKETS - 1, 1).bit_length()

_Q115_ORACLE = f"""
WITH z AS (
    SELECT l_partkey, l_suppkey,
           ({_zorder_sql(['l_partkey', 'l_suppkey'], _Q115_BITS)})
               >> {_Q115_SHIFT} AS file_id
    FROM lineitem
),
prof AS (
    SELECT file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_partkey) AS BIGINT) AS min_l_partkey,
           CAST(max(l_partkey) AS BIGINT) AS max_l_partkey,
           CAST(min(l_suppkey) AS BIGINT) AS min_l_suppkey,
           CAST(max(l_suppkey) AS BIGINT) AS max_l_suppkey
    FROM z
    GROUP BY file_id
)
SELECT file_id,
       n_rows,
       min_l_partkey, max_l_partkey, min_l_suppkey, max_l_suppkey,
       min_l_partkey <= {_Q115_PK_HI} AND max_l_partkey >= {_Q115_PK_LO}
           AS scan_pk_probe,
       min_l_suppkey <= {_Q115_SK_HI} AND max_l_suppkey >= {_Q115_SK_LO}
           AS scan_sk_probe
FROM prof
ORDER BY file_id
"""


@register(
    "q115_zorder_layout",
    _Q115_ORACLE,
    "Z-order (Morton) clustering for multi-dimensional data skipping: "
    "interleave (l_partkey, l_suppkey) bits into a Z-key — a pure "
    "codegen'd column expression — bucket rows into 64 files by the "
    "key's top bits (the boundaries a range-partitioned Z-write "
    "produces), and report each file's min/max footer stats plus "
    "whether a partkey-range and a suppkey-range probe must scan it.  "
    "A Z-layout prunes on BOTH dimensions; a single-column sort prunes "
    "on one.  The writer twin (layout.write_zordered) materializes the "
    "same layout via repartitionByRange + sortWithinPartitions.",
    operators=("layout-zorder", "A3", "O3"),
)
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import layout

    li = load_table_parallel(spark, sf_dir, "lineitem")
    prof = layout.zorder_file_profile(
        li.select("l_partkey", "l_suppkey"),
        ["l_partkey", "l_suppkey"],
        bits=_Q115_BITS,
        n_buckets=_Q115_BUCKETS,
    )
    return prof.select(
        "file_id",
        "n_rows",
        "min_l_partkey",
        "max_l_partkey",
        "min_l_suppkey",
        "max_l_suppkey",
        (
            (col("min_l_partkey") <= lit(_Q115_PK_HI))
            & (col("max_l_partkey") >= lit(_Q115_PK_LO))
        ).alias("scan_pk_probe"),
        (
            (col("min_l_suppkey") <= lit(_Q115_SK_HI))
            & (col("max_l_suppkey") >= lit(_Q115_SK_LO))
        ).alias("scan_sk_probe"),
    ).orderBy("file_id")


# ---------------------------------------------------------------------------
# q116 — balanced training shards: scalable global rank + serpentine deal
# ---------------------------------------------------------------------------

_Q116_SHARDS = 8

_Q116_ORACLE = f"""
WITH sized AS (
    SELECT doc_id,
           len(string_split_regex(lower(text), '\\s+')) AS n_tokens
    FROM documents
),
ranked AS (
    SELECT doc_id, n_tokens,
           row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rank
    FROM sized
),
dealt AS (
    SELECT *,
           CASE WHEN (rank - 1) % {2 * _Q116_SHARDS} < {_Q116_SHARDS}
                THEN (rank - 1) % {2 * _Q116_SHARDS}
                ELSE {2 * _Q116_SHARDS - 1} - (rank - 1) % {2 * _Q116_SHARDS}
           END AS shard
    FROM ranked
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       CAST(min(rank) AS BIGINT) AS first_rank,
       CAST(max(n_tokens) AS BIGINT) AS largest_doc
FROM dealt
GROUP BY shard
ORDER BY shard
"""


@register(
    "q116_serpentine_shards",
    _Q116_ORACLE,
    "Balanced training-shard assignment: size-rank every document with "
    "the two-pass range-partitioned global row_number (NO single-"
    "partition window — the terasort shape: range shuffle, local rank, "
    "per-partition offsets broadcast back), then deal ranks out "
    "boustrophedon over 8 shards so each round gives every shard one "
    "large and one small pick (near-LPT balance, fully parallel).  The "
    "oracle replays with a plain ROW_NUMBER and the same serpentine "
    "formula.",
    operators=("layout-shards", "layout-global-rank", "W2", "A4"),
)
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import layout

    docs = load_table_parallel(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", text.token_count("text").alias("n_tokens")
    )
    dealt = layout.serpentine_shards(
        sized, "n_tokens", "doc_id", _Q116_SHARDS
    )
    return (
        dealt.groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("shard_tokens"),
            F.min("rank").cast("long").alias("first_rank"),
            F.max("n_tokens").cast("long").alias("largest_doc"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# q117 — bigram-LM perplexity filter (CCNet-style, one order above q56)
# ---------------------------------------------------------------------------

_Q117_K = 1.0
_Q117_HIGH = 3.4  # rounded log-perplexity above this → "filter" tier

_Q117_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, source, string_split_regex(lower(text), '\\s+') AS t
    FROM documents
),
big AS (
    SELECT doc_id, source, len(t) - 1 AS nb,
           unnest(list_transform(range(2, len(t) + 1),
                  i -> t[i - 1] || ' ' || t[i])) AS bigram
    FROM toks
    WHERE len(t) >= 2
),
c2 AS (SELECT bigram, count(*) AS c2 FROM big GROUP BY bigram),
cp AS (
    SELECT split_part(bigram, ' ', 1) AS prev, count(*) AS cprev
    FROM big GROUP BY prev
),
vocab AS (
    SELECT count(DISTINCT token) AS V
    FROM (SELECT unnest(t) AS token FROM toks)
),
scored AS (
    SELECT b.doc_id, b.source,
           round(-sum(ln((c2.c2 + {_Q117_K})
                         / (cp.cprev + {_Q117_K} * vocab.V))) / b.nb
                 + 1e-9, 6) AS log_ppl
    FROM big b
    JOIN c2 USING (bigram)
    JOIN cp ON split_part(b.bigram, ' ', 1) = cp.prev
    CROSS JOIN vocab
    GROUP BY b.doc_id, b.source, b.nb
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(log_ppl) + 1e-9, 6) AS avg_log_ppl,
       round(quantile_cont(log_ppl, 0.9) + 1e-9, 6) AS p90_log_ppl,
       CAST(sum(CASE WHEN log_ppl > {_Q117_HIGH} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_filtered
FROM scored
GROUP BY source
ORDER BY source
"""


@register(
    "q117_bigram_perplexity",
    _Q117_ORACLE,
    "Bigram-LM perplexity filtering (the CCNet recipe one order above "
    "q56's unigram): corpus bigram + context counts and vocab V (two "
    "token-keyed aggregates + a 1-row broadcast), add-1-smoothed "
    "-mean-ln p(cur|prev) per document (rounded 6 dp so the filter "
    "threshold compares deterministically cross-engine), per-source "
    "mean / exact p90 / filtered count.  Sub-2-token docs have no "
    "bigrams and drop out in both engines.",
    operators=("lm-bigram", "A3", "A6", "J1"),
)
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import lm

    docs = load_table_parallel(spark, sf_dir, "documents")
    scored = lm.doc_bigram_perplexity(
        docs, ["doc_id", "source"], k=_Q117_K
    ).withColumn("log_ppl", rnd(col("log_ppl"), 6))
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            rnd(F.avg("log_ppl"), 6).alias("avg_log_ppl"),
            rnd(pct("log_ppl", lit(0.9), False), 6).alias("p90_log_ppl"),
            F.sum((col("log_ppl") > lit(_Q117_HIGH)).cast("long")).alias(
                "n_filtered"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q118 — bitext-style margin mining between two embedding populations
# ---------------------------------------------------------------------------

_Q118_K = 4
_Q118_MARGIN = 0.05  # mined = margin above this on the rounded value
_Q118_PLANES = _PLANES_8x64[:4]  # 16 buckets → bigger cross-side candidate sets


def _bucket4_sql(vexpr: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN list_dot_product({vexpr}, {_plane_sql(p)}) > 0 "
        f"THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i, p in enumerate(_Q118_PLANES)
    )
    return f"({terms})"


_Q118_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
a AS (
    SELECT vec_id AS vec_a, v AS v_a, {_bucket4_sql("v")} AS bucket
    FROM e WHERE label < 5
),
bb AS (
    SELECT vec_id AS vec_b, v AS v_b, {_bucket4_sql("v")} AS bucket
    FROM e WHERE label >= 5
),
cand AS (
    SELECT vec_a, vec_b,
           round(list_cosine_similarity(v_a, v_b) + 1e-9, 6) AS cos_r
    FROM a JOIN bb USING (bucket)
),
ka AS (
    SELECT vec_a, round(avg(cos_r) + 1e-9, 6) AS k_a
    FROM (
        SELECT vec_a, cos_r,
               row_number() OVER (PARTITION BY vec_a
                                  ORDER BY cos_r DESC, vec_b) AS rn
        FROM cand
    )
    WHERE rn <= {_Q118_K}
    GROUP BY vec_a
),
kb AS (
    SELECT vec_b, round(avg(cos_r) + 1e-9, 6) AS k_b
    FROM (
        SELECT vec_b, cos_r,
               row_number() OVER (PARTITION BY vec_b
                                  ORDER BY cos_r DESC, vec_a) AS rn
        FROM cand
    )
    WHERE rn <= {_Q118_K}
    GROUP BY vec_b
),
m AS (
    SELECT c.vec_a, c.vec_b, c.cos_r,
           round(c.cos_r - 0.5 * (ka.k_a + kb.k_b) + 1e-9, 6) AS margin
    FROM cand c
    JOIN ka USING (vec_a)
    JOIN kb USING (vec_b)
),
best AS (
    SELECT *,
           row_number() OVER (PARTITION BY vec_a
                              ORDER BY margin DESC, vec_b) AS rn
    FROM m
)
SELECT vec_a,
       vec_b,
       cos_r AS cos_sim,
       margin,
       margin > {_Q118_MARGIN} AS mined
FROM best
WHERE rn = 1
ORDER BY vec_a
"""


@register(
    "q118_margin_mining",
    _Q118_ORACLE,
    "Bitext-style margin mining (Artetxe & Schwenk additive margin) "
    "between two embedding populations (labels 0-4 vs 5-9): candidates "
    "from a shared 4-hyperplane LSH bucket join (never |A|×|B|), "
    "neighborhood top-4 mean cosines normalize away hubness, each "
    "A-vector keeps its best B partner by rounded margin.  The oracle "
    "recomputes identical buckets from the shared plane literals and "
    "replays the same rounded top-k windows.",
    operators=("similarity-margin-mining", "W1", "J7"),
)
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    mined = similarity.margin_mine_pairs(
        emb.filter(col("label") < 5),
        emb.filter(col("label") >= 5),
        planes=_Q118_PLANES,
        k=_Q118_K,
    )
    return mined.withColumn(
        "mined", col("margin") > lit(_Q118_MARGIN)
    ).orderBy("vec_a")


# ---------------------------------------------------------------------------
# q119 — BPE tokenizer training: learned merge table (vocab-weighted)
# ---------------------------------------------------------------------------

_Q119_MERGES = 6


def _q119_oracle(n_merges: int = _Q119_MERGES) -> str:
    """Unrolled merge rounds: each round counts adjacent symbol pairs on
    the CURRENT vocab segmentation, picks the (count DESC, l, r) argmax
    and applies it with the same wrapped-symbol plain replace the Spark
    operator uses."""
    ctes = [
        """w0 AS (
    SELECT regexp_replace(token, '(.)', '<\\1>', 'g') AS w,
           count(*) AS freq
    FROM (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
        FROM documents
    )
    GROUP BY token
)"""
    ]
    finals = []
    for r in range(1, n_merges + 1):
        ctes.append(f"""p{r} AS (
    SELECT p.l AS l, p.r AS r, sum(freq) AS c
    FROM (
        SELECT freq,
               unnest(list_transform(range(1, len(arr)),
                      i -> {{'l': arr[i], 'r': arr[i + 1]}})) AS p
        FROM (
            SELECT freq,
                   string_split(substr(w, 2, length(w) - 2), '><') AS arr
            FROM w{r - 1}
        )
    )
    GROUP BY l, r
)""")
        ctes.append(
            f"best{r} AS (SELECT l, r, c FROM p{r} "
            f"ORDER BY c DESC, l, r LIMIT 1)"
        )
        ctes.append(f"""w{r} AS (
    SELECT replace(w, '<' || b.l || '><' || b.r || '>',
                   '<' || b.l || b.r || '>') AS w,
           freq
    FROM w{r - 1}, best{r} b
)""")
        ctes.append(f"""stat{r} AS (
    SELECT round(sum(freq * len(string_split(substr(w, 2, length(w) - 2),
                                             '><'))) * 1.0
                 / sum(freq) + 1e-9, 6) AS s
    FROM w{r}
)""")
        finals.append(
            f"SELECT {r} AS merge_round, b.l AS merge_left, "
            f"b.r AS merge_right, CAST(b.c AS BIGINT) AS pair_count, "
            f"st.s AS avg_symbols_after FROM best{r} b, stat{r} st"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(finals)
        + "\nORDER BY merge_round"
    )


@register(
    "q119_bpe_train",
    _q119_oracle(),
    "BPE tokenizer training (Sennrich et al. 2016) with the scalable "
    "shape: ONE corpus pass builds the frequency-weighted word vocab; "
    "every merge round then runs on that model-sized vocab frame alone "
    "(adjacent-pair explode + weighted count + 1-row argmax, k-means-"
    "centroid-style driver state).  Wrapped-symbol words make each "
    "merge a plain non-overlapping replace, identical in both engines; "
    "the oracle unrolls all 6 rounds as CTEs.  avg_symbols_after "
    "proves each merge was APPLIED, not just counted.",
    operators=("text-bpe-train", "A3", "O1"),
)
def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    merges = text.bpe_train_merges(docs, n_merges=_Q119_MERGES)
    return spark.createDataFrame(
        merges,
        "merge_round int, merge_left string, merge_right string, "
        "pair_count long, avg_symbols_after double",
    ).orderBy("merge_round")


# ---------------------------------------------------------------------------
# q120 — BPE encoding at corpus scale (the map-only encode side of q119)
# ---------------------------------------------------------------------------


def _q120_oracle() -> str:
    """q119's unrolled training CTEs re-derive the merge table, then the
    corpus is encoded with the same in-order non-overlapping replaces
    (b1 innermost = applied first) and counted per source."""
    train = _q119_oracle(_Q119_MERGES)
    # everything up to the final UNION ALL selects = the training CTEs
    ctes = train.split("\nSELECT 1 AS merge_round")[0][len("WITH "):]
    enc = "regexp_replace(lower(d.text), '(\\S)', '<\\1>', 'g')"
    for r in range(1, _Q119_MERGES + 1):
        enc = (
            f"replace({enc}, '<' || b{r}.l || '><' || b{r}.r || '>', "
            f"'<' || b{r}.l || b{r}.r || '>')"
        )
    froms = ", ".join(f"best{r} b{r}" for r in range(1, _Q119_MERGES + 1))
    return f"""WITH {ctes},
enc AS (
    SELECT d.source,
           len(string_split_regex(lower(d.text), '\\s+')) AS ws_tokens,
           length({enc}) - length(replace({enc}, '<', '')) AS bpe_symbols
    FROM documents d, {froms}
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(sum(bpe_symbols) AS BIGINT) AS total_bpe_symbols,
       round(sum(bpe_symbols) * 1.0 / sum(ws_tokens) + 1e-9, 6)
           AS symbols_per_token
FROM enc
GROUP BY source
ORDER BY source
"""


@register(
    "q120_bpe_encode",
    _q120_oracle(),
    "BPE encoding of the whole corpus under the q119-learned merge "
    "table — the production tokenize step: merges collect driver-side "
    "(model-sized, the centroid precedent) and bake into a pure "
    "scan-side expression chain (wrap chars, in-order non-overlapping "
    "replaces, count symbols) — NO shuffle, no UDF; per-source "
    "symbols-per-token compression report.  The oracle re-derives the "
    "merge table with q119's unrolled CTEs and applies the identical "
    "replace chain.",
    operators=("text-bpe-encode", "A3"),
)
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    merges = text.bpe_train_merges(docs, n_merges=_Q119_MERGES)
    bpe = text.bpe_encode_symbol_count("text", merges)
    return (
        docs.select(
            "source",
            text.token_count("text").alias("ws_tokens"),
            bpe.alias("bpe_symbols"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ws_tokens").cast("long").alias("total_ws_tokens"),
            F.sum("bpe_symbols").cast("long").alias("total_bpe_symbols"),
            rnd(F.sum("bpe_symbols") / F.sum("ws_tokens"), 6).alias(
                "symbols_per_token"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q121 — data-constrained epoch allocation (token-budget waterfilling)
# ---------------------------------------------------------------------------

_Q121_WEIGHTS = {"en": 0.5, "fr": 0.15, "es": 0.15, "de": 0.1, "zh": 0.1}
_Q121_BUDGET = 50_000.0
_Q121_MAX_EPOCHS = 2.0

_Q121_WMAP = " ".join(
    f"WHEN '{d}' THEN {w}" for d, w in sorted(_Q121_WEIGHTS.items())
)

_Q121_ORACLE = f"""
WITH c AS (
    SELECT lang AS domain,
           sum(len(string_split_regex(lower(text), '\\s+'))) AS tokens
    FROM documents
    GROUP BY lang
),
d AS (
    SELECT domain, tokens,
           CASE domain {_Q121_WMAP} ELSE NULL END AS w,
           {_Q121_MAX_EPOCHS} * tokens AS cap
    FROM c
    WHERE CASE domain {_Q121_WMAP} ELSE NULL END IS NOT NULL
),
r AS (
    SELECT *, round(cap / w + 1e-9, 6) AS rr FROM d
),
s AS (
    SELECT *,
           coalesce(sum(cap) OVER (ORDER BY rr, domain
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pE,
           coalesce(sum(w) OVER (ORDER BY rr, domain
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pW,
           sum(w) OVER () AS tW
    FROM r
),
f AS (
    SELECT *,
           round(({_Q121_BUDGET} - pE) / nullif(tW - pW, 0) + 1e-9, 6) AS sj
    FROM s
),
g AS (
    SELECT *,
           min(CASE WHEN rr <= sj THEN 1 ELSE 0 END) OVER (
               ORDER BY rr, domain
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
               AS capped
    FROM f
),
st AS (SELECT max(sj) AS sstar FROM g WHERE NOT capped),
a AS (
    SELECT g.*,
           CASE WHEN capped THEN cap
                ELSE round(w * st.sstar + 1e-9, 4) END AS alloc
    FROM g, st
)
SELECT domain,
       CAST(tokens AS BIGINT) AS tokens_avail,
       round(w + 1e-9, 6) AS weight,
       capped,
       round(alloc + 1e-9, 4) AS tokens_alloc,
       round(alloc / tokens + 1e-9, 4) AS epochs
FROM a
ORDER BY domain
"""


@register(
    "q121_epoch_allocation",
    _Q121_ORACLE,
    "Data-constrained epoch planning (Muennighoff-style): fill a "
    "50k-token budget toward a target language mixture with every "
    "domain capped at 2 epochs, overflow redistributed by weight — "
    "exact waterfilling solved in one pass over the |domains|-row "
    "frame (capping is a prefix of the r = cap/w order, so prefix "
    "cumsums expose the fill rate; boundary compares on nudge-rounded "
    "values).  The oracle replays the identical windows.",
    operators=("sampling-epochs", "W2", "A4"),
)
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table_parallel(spark, sf_dir, "documents")
    counts = docs.groupBy(col("lang").alias("domain")).agg(
        F.sum(text.token_count("text")).alias("tokens")
    )
    return sampling.epoch_allocation(
        counts,
        "domain",
        "tokens",
        _Q121_WEIGHTS,
        budget=_Q121_BUDGET,
        max_epochs=_Q121_MAX_EPOCHS,
    )


# ---------------------------------------------------------------------------
# q122 — curation funnel v3: the round-6 operators composing end-to-end
# (rule gate → bigram-perplexity filter → keep-best canonical dedup →
#  serpentine shard balancing)
# ---------------------------------------------------------------------------

_Q122_PPL = 3.41   # keep docs with rounded self log-perplexity ≤ this
_Q122_SHARDS = 4


def _q122_oracle() -> str:
    from ..operators import rules as R

    return f"""
WITH RECURSIVE base AS (
    SELECT doc_id, text,
           string_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
gated AS (
    -- rule battery (same expressions as q49/q55)
    SELECT doc_id, text, tk
    FROM base
    WHERE NOT (len(tk) < {R.MIN_TOKENS} OR len(tk) > {R.MAX_TOKENS})
      AND 1.0 * list_sum(list_transform(tk, x -> length(x)))
          / nullif(len(tk), 0) BETWEEN {R.MEAN_LEN_LO} AND {R.MEAN_LEN_HI}
      AND 1.0 * len(list_filter(tk, x -> regexp_matches(x, '[^0-9\\s[:punct:]]')))
          / nullif(len(tk), 0) >= {R.ALPHA_MIN}
      AND coalesce(1.0 * length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
          / nullif(length(text), 0), 0) <= {R.SYMBOL_MAX}
      AND 1.0 - 1.0 * len(list_distinct(tk)) / nullif(len(tk), 0) <= {R.REPEAT_MAX}
      AND 2.0 * list_max(list_transform(list_distinct(
                list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])),
            g -> len(list_filter(
                list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]),
                x -> x = g)))) / nullif(len(tk), 0) <= {R.TOP_BIGRAM_MAX}
),
big AS (
    -- self bigram model over the GATED pool (q117 posture)
    SELECT doc_id, len(tk) - 1 AS nb,
           unnest(list_transform(range(1, len(tk)),
                  i -> tk[i] || ' ' || tk[i + 1])) AS bigram
    FROM gated
    WHERE len(tk) >= 2
),
c2 AS (SELECT bigram, count(*) AS c2 FROM big GROUP BY bigram),
cp AS (
    SELECT split_part(bigram, ' ', 1) AS prev, count(*) AS cprev
    FROM big GROUP BY prev
),
vocab AS (
    SELECT count(DISTINCT t) AS V
    FROM (SELECT unnest(tk) AS t FROM gated)
),
scored AS (
    SELECT b.doc_id,
           round(-sum(ln((c2.c2 + 1.0) / (cp.cprev + 1.0 * vocab.V))) / b.nb
                 + 1e-9, 6) AS log_ppl
    FROM big b
    JOIN c2 USING (bigram)
    JOIN cp ON split_part(b.bigram, ' ', 1) = cp.prev
    CROSS JOIN vocab
    GROUP BY b.doc_id, b.nb
),
kept AS (
    SELECT g.doc_id, g.tk, len(g.tk) AS n_tokens
    FROM gated g JOIN scored s ON g.doc_id = s.doc_id
    WHERE s.log_ppl <= {_Q122_PPL}
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
                  i -> array_to_string(list_slice(tk, i, i + 2), ' ')))) AS shingle
    FROM kept
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
),
pairs AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE 1.0 * n_common / (sa.n_sh + sb.n_sh - n_common) >= {_Q25_THRESHOLD}
),
sym AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT a, a FROM sym
    UNION
    SELECT s.a, rr.r FROM sym s JOIN reach rr ON rr.node = s.b
),
comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
canon AS (
    SELECT k.doc_id, k.n_tokens,
           coalesce(c.cluster_id, k.doc_id) AS cluster_id
    FROM kept k LEFT JOIN comp c ON k.doc_id = c.doc_id
),
keepers AS (
    SELECT doc_id, n_tokens
    FROM (
        SELECT *, row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY n_tokens DESC, doc_id) AS krn
        FROM canon
    )
    WHERE krn = 1
),
dealt AS (
    SELECT doc_id, n_tokens,
           row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rank,
           CASE WHEN (row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1)
                     % {2 * _Q122_SHARDS} < {_Q122_SHARDS}
                THEN (row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1)
                     % {2 * _Q122_SHARDS}
                ELSE {2 * _Q122_SHARDS - 1}
                     - (row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1)
                       % {2 * _Q122_SHARDS}
           END AS shard
    FROM keepers
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       CAST(max(n_tokens) AS BIGINT) AS largest_doc
FROM dealt
GROUP BY shard
ORDER BY shard
"""


@register(
    "q122_curation_funnel_v3",
    _q122_oracle(),
    "Curation funnel v3 — the round-6 operators composing in ONE plan: "
    "Gopher/C4 rule gate → self-bigram-LM perplexity filter (q117, "
    f"rounded log-ppl ≤ {_Q122_PPL}) → exact-Jaccard near-dup clusters "
    "keeping the LONGEST member (q114 keep-best) → serpentine shard "
    "balancing (q116) into 4 training shards.  The oracle replays the "
    "entire funnel: rule SQL, bigram CTEs, recursive-CTE closure, the "
    "same keep-best and serpentine windows.",
    operators=("funnel-v3", "rules", "lm-bigram", "dedup-canonical",
               "layout-shards"),
)
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curation, layout

    docs = load_table_parallel(spark, sf_dir, "documents")
    _, _, keepers = curation.curation_funnel_stages(
        docs, _Q122_PPL, pair_source="jaccard", threshold=_Q25_THRESHOLD
    )
    dealt = layout.serpentine_shards(
        keepers.select("doc_id", "n_tokens"), "n_tokens", "doc_id",
        _Q122_SHARDS,
    )
    return (
        dealt.groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("shard_tokens"),
            F.max("n_tokens").cast("long").alias("largest_doc"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# q123 — PSI feature drift between time halves (the industry-standard
# population-stability complement to q105's JS divergence)
# ---------------------------------------------------------------------------

_Q123_SPLIT = "2024-01-16"
_Q123_LO, _Q123_W, _Q123_NB = 0.0, 50.0, 10
_Q123_EPS = 1e-6
_Q123_ALERT = 0.1  # the classic PSI action threshold

_Q123_BUCKET = (
    f"least({_Q123_NB - 1}, greatest(0, "
    f"CAST(floor((value - {_Q123_LO}) / {_Q123_W}) AS INT)))"
)

_Q123_ORACLE = f"""
WITH tagged AS (
    SELECT event_type,
           CASE WHEN ts < TIMESTAMP '{_Q123_SPLIT}' THEN 'ref' ELSE 'cur' END
               AS era,
           {_Q123_BUCKET} AS bucket
    FROM events
),
cnt AS (
    SELECT event_type, era, bucket, count(*) AS c
    FROM tagged GROUP BY event_type, era, bucket
),
tot AS (
    SELECT event_type, era, sum(c) AS n FROM cnt GROUP BY event_type, era
),
props AS (
    SELECT b.event_type, b.bucket,
           coalesce(max(CASE WHEN b.era = 'ref' THEN 1.0 * b.c / t.n END), 0)
               + {_Q123_EPS} AS pr,
           coalesce(max(CASE WHEN b.era = 'cur' THEN 1.0 * b.c / t.n END), 0)
               + {_Q123_EPS} AS pc
    FROM cnt b JOIN tot t ON b.event_type = t.event_type AND b.era = t.era
    GROUP BY b.event_type, b.bucket
),
psi AS (
    SELECT event_type,
           round(sum((pc - pr) * ln(pc / pr)) + 1e-9, 6) AS psi
    FROM props GROUP BY event_type
)
SELECT p.event_type,
       CAST(t1.n AS BIGINT) AS n_ref,
       CAST(t2.n AS BIGINT) AS n_cur,
       p.psi,
       p.psi > {_Q123_ALERT} AS drifted
FROM psi p
JOIN tot t1 ON p.event_type = t1.event_type AND t1.era = 'ref'
JOIN tot t2 ON p.event_type = t2.event_type AND t2.era = 'cur'
ORDER BY p.event_type
"""


@register(
    "q123_psi_drift",
    _Q123_ORACLE,
    "Population Stability Index per event type between time halves: "
    "fixed equal-width value buckets (edge-clipped — data-independent "
    "edges, so the binning is deterministic at any scale), add-ε "
    "smoothed shares, PSI = Σ(p_cur−p_ref)·ln(p_cur/p_ref), alert at "
    "the classic 0.1 threshold on the rounded value.  One (type, era, "
    "bucket) aggregate — bounded frames after the scan.",
    operators=("drift-psi", "A3", "A8"),
)
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import profile

    ev = load_table_parallel(spark, sf_dir, "events")
    split = F.to_timestamp(lit(_Q123_SPLIT))
    buckets = lambda frame: profile.value_bucket_counts(  # noqa: E731
        frame, "value", "event_type", _Q123_LO, _Q123_W, _Q123_NB
    )
    report = profile.psi_from_counts(
        buckets(ev.filter(col("ts") >= split)),
        buckets(ev.filter(col("ts") < split)),
        eps=_Q123_EPS,
        alert=_Q123_ALERT,
    )
    return report.withColumnRenamed("grp", "event_type").orderBy("event_type")


# ---------------------------------------------------------------------------
# q124 — Hill tail-index estimator over token frequencies (heavy-tail
# diagnostic, the q69 Zipf fit's principled companion)
# ---------------------------------------------------------------------------

_Q124_K = 20

_Q124_ORACLE = f"""
WITH freq AS (
    SELECT token, count(*) AS f
    FROM (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
        FROM documents
    )
    GROUP BY token
),
top AS (
    SELECT f, row_number() OVER (ORDER BY f DESC, token) AS rk
    FROM freq
    ORDER BY f DESC, token
    LIMIT {_Q124_K + 1}
),
refv AS (SELECT f AS fref FROM top WHERE rk = {_Q124_K + 1}),
hill AS (
    SELECT round(avg(ln(1.0 * t.f / r.fref)) + 1e-9, 6) AS h
    FROM top t, refv r
    WHERE t.rk <= {_Q124_K}
)
SELECT {_Q124_K} AS k,
       CAST(r.fref AS BIGINT) AS f_ref,
       h.h AS hill_h,
       round(1.0 / h.h + 1e-9, 6) AS alpha
FROM hill h, refv r
"""


@register(
    "q124_hill_tail_index",
    _Q124_ORACLE,
    "Hill estimator of the token-frequency tail index: mean ln(f_i / "
    f"f_(k+1)) over the top k={_Q124_K} frequencies ((f DESC, token) "
    "total order → deterministic cut), α = 1/H — the principled "
    "heavy-tail diagnostic beside q69's least-squares Zipf fit.  "
    "Top-(k+1) plans as TakeOrderedAndProject; everything after is a "
    "(k+1)-row frame.",
    operators=("corpus-tail-index", "A3", "O1"),
)
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table_parallel(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(text.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("f"))
        .orderBy(F.desc("f"), "token")
        .limit(_Q124_K + 1)
    )
    top = freq.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("f"), "token"))
    )
    refv = top.filter(col("rk") == _Q124_K + 1).select(
        col("f").alias("fref")
    )
    hill = (
        top.filter(col("rk") <= _Q124_K)
        .crossJoin(F.broadcast(refv))
        .agg(
            rnd(F.avg(F.log(col("f") / col("fref"))), 6).alias("h"),
            F.first("fref").alias("fref"),
        )
    )
    return hill.select(
        lit(_Q124_K).alias("k"),
        col("fref").cast("long").alias("f_ref"),
        col("h").alias("hill_h"),
        rnd(lit(1.0) / col("h"), 6).alias("alpha"),
    )


# ---------------------------------------------------------------------------
# q125 — rendezvous (HRW) consistent sharding + minimal-resharding report
# ---------------------------------------------------------------------------

_Q125_N = 8
_Q125_SALT = "hrw"


def _hrw_sql(id_expr: str, n: int) -> str:
    """DuckDB twin of layout.rendezvous_shard: greatest md5 + first-match
    CASE argmax, digests compared as hex strings in both engines."""
    digs = [
        f"md5('{_Q125_SALT}:' || CAST({id_expr} AS VARCHAR) || ':{s}')"
        for s in range(n)
    ]
    best = digs[0] if n == 1 else "greatest(" + ", ".join(digs) + ")"
    cases = " ".join(
        f"WHEN {digs[s]} = __best THEN {s}" for s in range(n - 1)
    )
    return (
        f"(SELECT CASE {cases} ELSE {n - 1} END "
        f"FROM (SELECT {best} AS __best))"
    )


_Q125_ORACLE = f"""
WITH assigned AS (
    SELECT doc_id,
           len(string_split_regex(lower(text), '\\s+')) AS n_tokens,
           {_hrw_sql('doc_id', _Q125_N)} AS shard,
           {_hrw_sql('doc_id', _Q125_N + 1)} AS shard_next
    FROM documents
)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       CAST(sum(CASE WHEN shard_next <> shard THEN 1 ELSE 0 END) AS BIGINT)
           AS n_moved,
       round(1.0 * sum(CASE WHEN shard_next <> shard THEN 1 ELSE 0 END)
             / count(*) + 1e-9, 6) AS moved_share
FROM assigned
GROUP BY shard
ORDER BY shard
"""


@register(
    "q125_rendezvous_sharding",
    _Q125_ORACLE,
    "Rendezvous (highest-random-weight) consistent sharding: each doc "
    "goes to the shard with the lexicographically largest md5(salt:id:"
    "shard) digest — pure unrolled scan-side expressions.  The report "
    "computes the assignment at N=8 AND N=9 shards: only docs whose "
    "new digest beats all old ones move (expected 1/9 ≈ 11% per "
    "shard), versus ~50% under modulo hashing — the property that "
    "makes growing a sharded corpus cheap.  The oracle replays the "
    "same greatest+CASE argmax.",
    operators=("layout-rendezvous", "A3", "A4"),
)
def q125(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import layout

    docs = load_table_parallel(spark, sf_dir, "documents")
    assigned = docs.select(
        text.token_count("text").alias("n_tokens"),
        layout.rendezvous_shard("doc_id", _Q125_N, _Q125_SALT).alias("shard"),
        layout.rendezvous_shard("doc_id", _Q125_N + 1, _Q125_SALT).alias(
            "shard_next"
        ),
    )
    moved = (col("shard_next") != col("shard")).cast("long")
    return (
        assigned.groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("shard_tokens"),
            F.sum(moved).cast("long").alias("n_moved"),
            rnd(F.sum(moved) / F.count("*"), 6).alias("moved_share"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# q126 — power-iteration PCA: top principal component of the embeddings
# ---------------------------------------------------------------------------

_Q126_DIM = 64
_Q126_ITER = 6


def _q126_oracle(dim: int = _Q126_DIM, n_iter: int = _Q126_ITER) -> str:
    """Unrolled power iterations.  Mirrors operators.linalg exactly:
    v₀ = nudge-rounded 1/√dim, per-iteration μ/w/v rounded 9 dp, final
    sign fixed by the largest-|loading| component (ties → smallest i),
    applied as plain negation (no re-round)."""
    v0 = round(1.0 / dim**0.5 + 1e-9, 9)
    ctes = [
        "e AS MATERIALIZED (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "nn AS (SELECT count(*) AS n FROM e)",
        f"dims AS (SELECT unnest(range({dim})) AS i)",
        """msum AS MATERIALIZED (
    SELECT i, sum(v[i + 1]) AS s, sum(v[i + 1] * v[i + 1]) AS s2
    FROM e, dims GROUP BY i
)""",
        "mu AS MATERIALIZED (SELECT i, round(s / nn.n + 1e-9, 9) AS m FROM msum, nn)",
        """tv AS (
    SELECT round(sum(s2 / nn.n - m * m) + 1e-9, 9) AS totvar
    FROM msum JOIN mu USING (i), nn
)""",
        f"v0 AS (SELECT i, {v0!r} AS val FROM dims)",
    ]
    for k in range(1, n_iter + 1):
        p = k - 1
        ctes += [
            f"l{p} AS (SELECT list(val ORDER BY i) AS l FROM v{p})",
            f"c{k} AS (SELECT sum(mu.m * vk.val) AS c0 "
            f"FROM mu JOIN v{p} vk USING (i))",
            f"s{k} AS MATERIALIZED (SELECT list_dot_product(e.v, l{p}.l) - c{k}.c0 AS s, "
            f"e.v AS v FROM e, l{p}, c{k})",
            f"""w{k} AS (
    SELECT i,
           round(sum(s{k}.v[i + 1] * s{k}.s) / nn.n
                 - mu.m * (sum(s{k}.s) / nn.n) + 1e-9, 9) AS w
    FROM s{k}, dims JOIN mu USING (i), nn
    GROUP BY i, mu.m, nn.n
)""",
            f"n{k} AS (SELECT sqrt(sum(w * w)) AS nrm FROM w{k})",
            f"v{k} AS MATERIALIZED (SELECT i, round(w / n{k}.nrm + 1e-9, 9) AS val "
            f"FROM w{k}, n{k})",
        ]
    last = n_iter
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
sgn AS (
    SELECT CASE WHEN (SELECT val FROM v{last}
                      ORDER BY abs(val) DESC, i LIMIT 1) < 0
                THEN -1.0 ELSE 1.0 END AS g
),
eig AS (SELECT round(nrm + 1e-9, 9) AS e FROM n{last})
SELECT v{last}.i AS dim,
       v{last}.val * sgn.g AS loading,
       eig.e AS eigenvalue,
       round(eig.e / tv.totvar + 1e-9, 9) AS explained_share
FROM v{last}, sgn, eig, tv
ORDER BY dim
"""
    )


@register(
    "q126_power_iteration_pca",
    _q126_oracle(),
    "Top principal component of the embedding corpus by power "
    "iteration — the covariance matrix is NEVER materialized: each "
    "iteration computes C·v as one scan (per-row scalar s = (x−μ)·v, "
    "then per-dimension sums of x_i·s), with μ/v as literal arrays "
    "(model-sized driver state, the k-means-centroid precedent).  "
    "Every per-iteration artifact is 9-dp nudge-rounded in both "
    "engines so the 6-iteration trajectory is cross-engine exact; "
    "sign fixed by the largest-|loading| component.",
    operators=("linalg-pca", "A3", "iterative"),
)
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import linalg

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    vec, eig, share = linalg.power_iteration_top_pc(
        emb, "embedding", dim=_Q126_DIM, n_iter=_Q126_ITER
    )
    rows = [(i, v, eig, share) for i, v in enumerate(vec)]
    return spark.createDataFrame(
        rows,
        "dim int, loading double, eigenvalue double, explained_share double",
    ).orderBy("dim")


# ---------------------------------------------------------------------------
# q127 — vocabulary-size planner: coverage thresholds over the frequency
# histogram (the "how big must the tokenizer vocab be" question)
# ---------------------------------------------------------------------------

_Q127_TARGETS = (0.90, 0.95, 0.99)

_Q127_ORACLE = f"""
WITH freq AS (
    SELECT gram, count(*) AS f
    FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i + 1])) AS gram
        FROM (SELECT string_split_regex(lower(text), '\\s+') AS t
              FROM documents)
    )
    GROUP BY gram
),
hist AS (
    -- one row per DISTINCT frequency value: the walk frame is bounded
    -- (|distinct freqs| = O(sqrt(total occurrences)), never |vocab|)
    SELECT f,
           count(*) AS n_tokens,
           count(*) * f AS occ
    FROM freq GROUP BY f
),
tot AS (SELECT sum(occ) AS t FROM hist),
walk AS (
    SELECT f, n_tokens, occ,
           sum(occ) OVER (ORDER BY f DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_occ,
           sum(n_tokens) OVER (ORDER BY f DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
    FROM hist
),
targets(target) AS (VALUES {", ".join(f"(CAST({t} AS DOUBLE))" for t in _Q127_TARGETS)}),
picked AS (
    SELECT t.target,
           max(w.f) AS freq_threshold
    FROM targets t, tot, walk w
    WHERE 1.0 * w.cum_occ / tot.t >= t.target
    GROUP BY t.target
)
SELECT p.target,
       CAST(p.freq_threshold AS BIGINT) AS freq_threshold,
       CAST(w.cum_tokens AS BIGINT) AS vocab_size,
       round(1.0 * w.cum_occ / tot.t + 1e-9, 6) AS coverage,
       round(1.0 - 1.0 * w.cum_occ / tot.t + 1e-9, 6) AS oov_rate
FROM picked p, tot, walk w
WHERE w.f = p.freq_threshold
ORDER BY p.target
"""


@register(
    "q127_vocab_coverage",
    _Q127_ORACLE,
    "Tokenizer-vocab sizing over the word-BIGRAM vocabulary (a rich "
    "Zipf distribution): for coverage targets 90/95/99%, the highest "
    "frequency threshold f* whose grams (freq ≥ f*) cover the "
    "target share of all occurrences, with the resulting vocab size "
    "and OOV rate.  Scale shape: the cumulative walk runs over one row "
    "per DISTINCT frequency VALUE (O(√total) rows — the q96 histogram-"
    "walk posture), never a |vocab|-wide global window.",
    operators=("text-vocab-planner", "A3", "W2"),
)
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table_parallel(spark, sf_dir, "documents")
    hist = (
        docs.select(F.explode(text.word_ngrams("text", 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("f"))
        .groupBy("f")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.count("*") * col("f")).alias("occ"),
        )
    )
    w = Window.orderBy(col("f").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    walk = hist.select(
        "f",
        F.sum("occ").over(w).alias("cum_occ"),
        F.sum("n_tokens").over(w).alias("cum_tokens"),
    ).crossJoin(F.broadcast(hist.agg(F.sum("occ").alias("t"))))
    targets = spark.createDataFrame(
        [(t,) for t in _Q127_TARGETS], "target double"
    )
    picked = (
        targets.join(walk, (col("cum_occ") / col("t")) >= col("target"))
        .groupBy("target")
        .agg(F.max("f").alias("freq_threshold"))
    )
    return (
        picked.join(walk, col("freq_threshold") == walk["f"])
        .select(
            "target",
            col("freq_threshold").cast("long"),
            col("cum_tokens").cast("long").alias("vocab_size"),
            rnd(col("cum_occ") / col("t"), 6).alias("coverage"),
            rnd(lit(1.0) - col("cum_occ") / col("t"), 6).alias("oov_rate"),
        )
        .orderBy("target")
    )


# ---------------------------------------------------------------------------
# q128 — seasonal anomaly detection on the event series (weekday
# baseline + MAD modified-z) — the q112/q101 machinery composed into a
# monitoring report
# ---------------------------------------------------------------------------

_Q128_MZ = 2.5

_Q128_ORACLE = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           round(sum(value) + 1e-9, 4) AS total
    FROM events
    GROUP BY event_type, day
),
wk AS (
    SELECT event_type, dayofweek(day) AS dow,
           round(avg(total) + 1e-9, 6) AS wk_mean
    FROM daily GROUP BY event_type, dow
),
resid AS (
    SELECT d.event_type, d.day, d.total,
           round(d.total - w.wk_mean + 1e-9, 6) AS r
    FROM daily d JOIN wk w
      ON d.event_type = w.event_type AND dayofweek(d.day) = w.dow
),
med AS (
    SELECT event_type, round(quantile_cont(r, 0.5) + 1e-9, 6) AS med_r
    FROM resid GROUP BY event_type
),
mad AS (
    SELECT r.event_type,
           round(quantile_cont(abs(r.r - m.med_r), 0.5) + 1e-9, 6) AS mad
    FROM resid r JOIN med m ON r.event_type = m.event_type
    GROUP BY r.event_type
),
mz AS (
    SELECT r.event_type, r.day, r.r,
           round(0.6745 * (r.r - m.med_r) / nullif(d.mad, 0) + 1e-9, 4) AS mz
    FROM resid r
    JOIN med m ON r.event_type = m.event_type
    JOIN mad d ON r.event_type = d.event_type
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY abs(mz) DESC, day) AS rk
    FROM mz
)
SELECT z.event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(CASE WHEN abs(z.mz) > {_Q128_MZ} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalies,
       max(d.mad) AS mad,
       CAST(max(CASE WHEN z.rk = 1 THEN z.day END) AS VARCHAR) AS worst_day,
       max(CASE WHEN z.rk = 1 THEN z.mz END) AS worst_mz
FROM ranked z JOIN mad d ON z.event_type = d.event_type
GROUP BY z.event_type
ORDER BY z.event_type
"""


@register(
    "q128_seasonal_anomalies",
    _Q128_ORACLE,
    "Seasonal anomaly monitoring on the event series: daily totals vs "
    "the same-weekday baseline, residual MAD modified-z (Iglewicz-"
    f"Hoaglin, |mz| > {_Q128_MZ}), per-type anomaly counts and the "
    "worst day — q101's robust-stats machinery composed with the "
    "weekday seasonality model.  All shuffles keyed by event_type "
    "(grouped exact medians, the A6 posture).",
    operators=("monitor-anomaly", "A6", "W1"),
)
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.scalar import day_of_week

    ev = load_table_parallel(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", col("ts").cast("date").alias("day"))
        .agg(rnd(F.sum("value"), 4).alias("total"))
        .withColumn("dow", day_of_week("day"))
    )
    wk = daily.groupBy("event_type", "dow").agg(
        rnd(F.avg("total"), 6).alias("wk_mean")
    )
    resid = daily.join(wk, ["event_type", "dow"]).select(
        "event_type", "day", rnd(col("total") - col("wk_mean"), 6).alias("r")
    )
    med = resid.groupBy("event_type").agg(
        rnd(pct("r", lit(0.5), False), 6).alias("med_r")
    )
    mad = (
        resid.join(med, "event_type")
        .groupBy("event_type")
        .agg(
            rnd(pct(F.abs(col("r") - col("med_r")), lit(0.5), False), 6).alias(
                "mad"
            )
        )
    )
    mz = (
        resid.join(med, "event_type")
        .join(mad, "event_type")
        .select(
            "event_type",
            "day",
            "mad",
            rnd(
                lit(0.6745)
                * (col("r") - col("med_r"))
                / F.nullif(col("mad"), lit(0.0)),
                4,
            ).alias("mz"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(F.abs(col("mz")).desc(), "day")
    ranked = mz.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum((F.abs(col("mz")) > lit(_Q128_MZ)).cast("long")).alias(
                "n_anomalies"
            ),
            F.max("mad").alias("mad"),
            F.max(F.when(col("rk") == 1, col("day").cast("string"))).alias(
                "worst_day"
            ),
            F.max(F.when(col("rk") == 1, col("mz"))).alias("worst_mz"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q129 — Markov stationary distribution (power iteration on the q103
# transition matrix — model-sized k×k state, linalg posture)
# ---------------------------------------------------------------------------

_Q129_ITER = 8
_Q129_STATE_CAP = 1000  # bounded-enum assumption: k states -> k*k driver matrix


def _q129_oracle(n_iter: int = _Q129_ITER) -> str:
    ctes = [
        """ordered AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
    FROM events
)""",
        """trans AS MATERIALIZED (
    SELECT event_type AS from_type, next_type AS to_type, count(*) AS c
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY from_type, to_type
)""",
        """pmat AS MATERIALIZED (
    SELECT t.from_type, t.to_type,
           round(1.0 * t.c / o.total + 1e-9, 6) AS p
    FROM trans t
    JOIN (SELECT from_type, sum(c) AS total FROM trans GROUP BY from_type) o
      USING (from_type)
)""",
        """states AS MATERIALIZED (
    SELECT DISTINCT event_type FROM events
)""",
        """pi0 AS (
    SELECT event_type,
           1.0 / (SELECT count(*) FROM states) AS val
    FROM states
)""",
    ]
    for t in range(1, n_iter + 1):
        p = t - 1
        ctes += [
            f"""raw{t} AS (
    SELECT p.to_type AS event_type, sum(pi.val * p.p) AS raw
    FROM pi{p} pi JOIN pmat p ON pi.event_type = p.from_type
    GROUP BY p.to_type
)""",
            f"n{t} AS (SELECT sum(raw) AS s FROM raw{t})",
            f"pi{t} AS (SELECT event_type, "
            f"round(raw / n{t}.s + 1e-9, 9) AS val FROM raw{t}, n{t})",
        ]
    last = n_iter
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT s.event_type,
       round(coalesce(pi.val, 0) + 1e-9, 6) AS stationary_prob,
       CAST(coalesce(o.total, 0) AS BIGINT) AS n_out
FROM states s
LEFT JOIN pi{last} pi USING (event_type)
LEFT JOIN (SELECT from_type AS event_type, sum(c) AS total
           FROM trans GROUP BY from_type) o USING (event_type)
ORDER BY s.event_type
"""
    )


@register(
    "q129_markov_stationary",
    _q129_oracle(),
    "Stationary distribution of the q103 event-transition Markov chain "
    "by power iteration: the k×k row-normalized matrix (rounded 6 dp) "
    "collects driver-side (model-sized, the k-means/PCA precedent) and "
    "π ← normalize(πP) runs 8 rounds with 9-dp rounded state — the "
    "long-run share of time a user spends in each event state.  The "
    "oracle unrolls the identical iterations.",
    operators=("markov-stationary", "iterative", "W-lead"),
)
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..core.guards import collect_bounded

    ev = load_table(spark, sf_dir, "events")
    # guard FIRST: the whole operator assumes a bounded state enum; a
    # high-cardinality column (user_id...) must fail loudly before any
    # k×k state reaches the driver
    states = sorted(
        r.event_type
        for r in collect_bounded(
            ev.select("event_type").distinct(),
            _Q129_STATE_CAP,
            "q129_markov_stationary",
            "a bounded event-type enum (k states -> k x k driver matrix)",
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(col("next_type").isNotNull())
        .groupBy(
            col("event_type").alias("from_type"),
            col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("c"))
    )
    outc = trans.groupBy("from_type").agg(F.sum("c").alias("total"))
    pmat = {
        (r.from_type, r.to_type): round(r.c / r.total + 1e-9, 6)
        for r in trans.join(outc, "from_type").collect()  # <= k*k rows, guarded above
    }
    n_out = {r.from_type: r.total for r in outc.collect()}
    pi = {s: 1.0 / len(states) for s in states}
    for _ in range(_Q129_ITER):
        raw = {}
        for s in states:
            for t_ in states:
                p = pmat.get((s, t_))
                if p is not None:
                    raw[t_] = raw.get(t_, 0.0) + pi.get(s, 0.0) * p
        tot = sum(raw[t_] for t_ in sorted(raw))
        pi = {t_: round(v / tot + 1e-9, 9) for t_, v in raw.items()}
    rows = [
        (s, round(pi.get(s, 0.0) + 1e-9, 6), int(n_out.get(s, 0)))
        for s in states
    ]
    return spark.createDataFrame(
        rows, "event_type string, stationary_prob double, n_out long"
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q130 — confidence-gated source filtering (Wilson score intervals)
# ---------------------------------------------------------------------------

_Q130_Z = 1.96
_Q130_KEEP = 0.45   # keep if the LOWER bound clears this pass-rate
_Q130_DROP = 0.55   # drop if the UPPER bound can't reach this

_Q130_ORACLE = f"""
WITH t AS (
    SELECT source,
           string_split_regex(lower(text), '\\s+') AS toks,
           length(text) AS n_chars,
           length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct
    FROM documents
),
scored AS (
    SELECT source,
           round((least(1.0 * len(toks) / 200.0, 1.0)
            + (1.0 - least(5.0 * n_punct / nullif(n_chars, 0), 1.0))
            + least(4.0 * len(list_filter(toks, x -> list_contains([{_EN}], x)))
                    / nullif(len(toks), 0), 1.0)) / 3.0 + 1e-9, 6) AS quality
    FROM t
),
agg AS (
    SELECT source,
           count(*) AS n,
           sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS k
    FROM scored GROUP BY source
),
wilson AS (
    SELECT source, n, k,
           round(1.0 * k / n + 1e-9, 6) AS p,
           round(((1.0 * k / n + {_Q130_Z} * {_Q130_Z} / (2 * n))
                  - {_Q130_Z} * sqrt((1.0 * k / n) * (1 - 1.0 * k / n) / n
                        + {_Q130_Z} * {_Q130_Z} / (4.0 * n * n)))
                 / (1 + {_Q130_Z} * {_Q130_Z} / n) + 1e-9, 6) AS lo,
           round(((1.0 * k / n + {_Q130_Z} * {_Q130_Z} / (2 * n))
                  + {_Q130_Z} * sqrt((1.0 * k / n) * (1 - 1.0 * k / n) / n
                        + {_Q130_Z} * {_Q130_Z} / (4.0 * n * n)))
                 / (1 + {_Q130_Z} * {_Q130_Z} / n) + 1e-9, 6) AS hi
    FROM agg
)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       CAST(k AS BIGINT) AS n_pass,
       p AS pass_rate,
       lo AS wilson_lo,
       hi AS wilson_hi,
       CASE WHEN lo > {_Q130_KEEP} THEN 'keep'
            WHEN hi < {_Q130_DROP} THEN 'drop'
            ELSE 'undecided' END AS verdict
FROM wilson
ORDER BY source
"""


@register(
    "q130_wilson_source_gate",
    _Q130_ORACLE,
    "Confidence-gated source filtering: per-source quality pass rates "
    "with Wilson score intervals (z=1.96) — a source is kept only when "
    "the LOWER bound clears the bar and dropped only when the UPPER "
    "bound cannot reach it, so small sources land in 'undecided' "
    "instead of being gated on noise.  Bounds compare on nudge-rounded "
    "values; one source-keyed aggregate.",
    operators=("quality-wilson-gate", "A4", "A8"),
)
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    z = _Q130_Z
    scored = docs.select(
        "source", rnd(text.quality_score("text"), 6).alias("quality")
    )
    agg = scored.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum((col("quality") >= 0.5).cast("long")).alias("k"),
    )
    p = col("k") / col("n")
    denom = lit(1.0) + lit(z * z) / col("n")
    center = p + lit(z * z) / (lit(2.0) * col("n"))
    half = lit(z) * F.sqrt(
        p * (lit(1.0) - p) / col("n")
        + lit(z * z) / (lit(4.0) * col("n") * col("n"))
    )
    lo = rnd((center - half) / denom, 6)
    hi = rnd((center + half) / denom, 6)
    return (
        agg.select(
            "source",
            col("n").cast("long").alias("n_docs"),
            col("k").cast("long").alias("n_pass"),
            rnd(p, 6).alias("pass_rate"),
            lo.alias("wilson_lo"),
            hi.alias("wilson_hi"),
            F.when(lo > lit(_Q130_KEEP), "keep")
            .when(hi < lit(_Q130_DROP), "drop")
            .otherwise("undecided")
            .alias("verdict"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q131 — estimate-from-sample with Horvitz–Thompson weights (compute
# expensive corpus stats on a deterministic sample, report realized error)
# ---------------------------------------------------------------------------

_Q131_RATE = 0.2
_Q131_SALT = "ht"

_Q131_ORACLE = f"""
WITH t AS (
    SELECT lang,
           len(string_split_regex(lower(text), '\\s+')) AS n_tokens,
           ('0x' || substr(md5('{_Q131_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS u
    FROM documents
),
truth AS (
    SELECT lang, count(*) AS true_docs, sum(n_tokens) AS true_tokens
    FROM t GROUP BY lang
),
est AS (
    SELECT lang,
           round(sum(1.0 / {_Q131_RATE}) + 1e-9, 4) AS est_docs,
           round(sum(n_tokens / {_Q131_RATE}) + 1e-9, 4) AS est_tokens
    FROM t WHERE u < {_Q131_RATE}
    GROUP BY lang
)
SELECT tr.lang,
       CAST(tr.true_docs AS BIGINT) AS true_docs,
       coalesce(e.est_docs, 0) AS est_docs,
       CAST(tr.true_tokens AS BIGINT) AS true_tokens,
       coalesce(e.est_tokens, 0) AS est_tokens,
       round(abs(coalesce(e.est_tokens, 0) - tr.true_tokens)
             / tr.true_tokens + 1e-9, 6) AS token_rel_err
FROM truth tr LEFT JOIN est e USING (lang)
ORDER BY tr.lang
"""


@register(
    "q131_ht_estimation",
    _Q131_ORACLE,
    "Estimate-from-sample with Horvitz–Thompson weighting: corpus "
    "token totals per language computed on the deterministic md5-"
    f"bernoulli {_Q131_RATE:.0%} sample (q47 convention), each sampled "
    "row weighted 1/rate, with the realized relative error against the "
    "full-scan truth — the pattern that prices expensive stats on "
    "samples before running them on 100 TB.",
    operators=("sampling-ht-estimator", "A3", "A4"),
)
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_fraction

    docs = load_table_parallel(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        text.token_count("text").alias("n_tokens"),
        hash_fraction("doc_id", _Q131_SALT).alias("u"),
    )
    truth = t.groupBy("lang").agg(
        F.count("*").alias("true_docs"),
        F.sum("n_tokens").alias("true_tokens"),
    )
    est = (
        t.filter(col("u") < lit(_Q131_RATE))
        .groupBy("lang")
        .agg(
            rnd(F.sum(lit(1.0) / lit(_Q131_RATE)), 4).alias("est_docs"),
            rnd(F.sum(col("n_tokens") / lit(_Q131_RATE)), 4).alias(
                "est_tokens"
            ),
        )
    )
    return (
        truth.join(est, "lang", "left")
        .select(
            "lang",
            col("true_docs").cast("long"),
            F.coalesce("est_docs", lit(0.0)).alias("est_docs"),
            col("true_tokens").cast("long"),
            F.coalesce("est_tokens", lit(0.0)).alias("est_tokens"),
            rnd(
                F.abs(F.coalesce("est_tokens", lit(0.0)) - col("true_tokens"))
                / col("true_tokens"),
                6,
            ).alias("token_rel_err"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q132 — curation funnel ATTRIBUTION: which stage dropped each document
# (the observability face of q122 — per-source drop-reason breakdown)
# ---------------------------------------------------------------------------


def _q132_oracle() -> str:
    """Reuses q122's funnel CTEs verbatim (everything through the
    keep-best ``keepers``), then attributes every document to the stage
    that removed it."""
    prefix = _q122_oracle().split(",\ndealt AS (")[0]
    return f"""{prefix},
attr AS (
    SELECT d.doc_id, d.source,
           len(string_split_regex(lower(d.text), '\\s+')) AS n_tokens,
           CASE WHEN g.doc_id IS NULL THEN 'rules'
                WHEN s.log_ppl IS NULL OR s.log_ppl > {_Q122_PPL}
                    THEN 'perplexity'
                WHEN k.doc_id IS NULL THEN 'duplicate'
                ELSE 'kept' END AS stage
    FROM documents d
    LEFT JOIN gated g ON d.doc_id = g.doc_id
    LEFT JOIN scored s ON d.doc_id = s.doc_id
    LEFT JOIN keepers k ON d.doc_id = k.doc_id
)
SELECT source, stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM attr
GROUP BY source, stage
ORDER BY source, stage
"""


@register(
    "q132_funnel_attribution",
    _q132_oracle(),
    "Curation observability: every document attributed to the funnel "
    "stage that removed it (rules gate / perplexity filter / duplicate "
    "loser / kept), per source with token mass — the audit report a "
    "production pipeline ships next to its curated corpus.  Shares "
    "q122's stages and oracle CTEs verbatim; the attribution itself is "
    "three LEFT JOINs on doc_id.",
    operators=("funnel-attribution", "rules", "lm-bigram",
               "dedup-canonical", "A4"),
)
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curation

    docs = load_table_parallel(spark, sf_dir, "documents")
    attr = curation.funnel_attribution(
        docs, _Q122_PPL, pair_source="jaccard", threshold=_Q25_THRESHOLD
    )
    return (
        attr.groupBy("source", "stage")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("source", "stage")
    )


# ---------------------------------------------------------------------------
# q133 — counterfactual leakage report: cluster-aware split vs naive
# hash split on the SAME corpus (why q77 exists, quantified)
# ---------------------------------------------------------------------------

_Q133_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTES},
sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a
    JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
),
pairs AS MATERIALIZED (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE 1.0 * n_common / (sa.n_shingles + sb.n_shingles - n_common)
          >= {_Q25_THRESHOLD}
),
sym AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT a, a FROM sym
    UNION
    SELECT s.a, rr.r FROM sym s JOIN reach rr ON rr.node = s.b
),
comp AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
grp AS (
    SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS g
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
cl AS MATERIALIZED (
    SELECT doc_id,
           CASE WHEN ('0x' || substr(md5('{_Q77_SALT}' || CAST(g AS VARCHAR)), 1, 8))::BIGINT
                     / 4294967296.0 < 0.9 THEN 'train'
                WHEN ('0x' || substr(md5('{_Q77_SALT}' || CAST(g AS VARCHAR)), 1, 8))::BIGINT
                     / 4294967296.0 < 0.95 THEN 'val'
                ELSE 'test' END AS split
    FROM grp
),
nv AS MATERIALIZED (
    SELECT doc_id,
           CASE WHEN ('0x' || substr(md5('{_Q77_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     / 4294967296.0 < 0.9 THEN 'train'
                WHEN ('0x' || substr(md5('{_Q77_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     / 4294967296.0 < 0.95 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
),
ex AS (
    SELECT m.mode, p.doc_a, p.doc_b,
           CASE WHEN m.mode = 'cluster'
                THEN (SELECT split FROM cl WHERE cl.doc_id = p.doc_a)
                ELSE (SELECT split FROM nv WHERE nv.doc_id = p.doc_a) END AS sa,
           CASE WHEN m.mode = 'cluster'
                THEN (SELECT split FROM cl WHERE cl.doc_id = p.doc_b)
                ELSE (SELECT split FROM nv WHERE nv.doc_id = p.doc_b) END AS sb
    FROM pairs p CROSS JOIN (VALUES ('cluster'), ('naive')) m(mode)
),
ed AS (
    SELECT mode,
           CASE WHEN sa <> sb THEN 1 ELSE 0 END AS straddle,
           unnest([doc_a, doc_b]) AS d
    FROM ex
)
SELECT mode,
       CAST(count(*) / 2 AS BIGINT) AS n_pairs,
       CAST(sum(straddle) / 2 AS BIGINT) AS n_straddling,
       round(1.0 * sum(straddle) / count(*) + 1e-9, 6) AS straddle_share,
       CAST(count(DISTINCT CASE WHEN straddle = 1 THEN d END) AS BIGINT)
           AS n_leaked_docs
FROM ed
GROUP BY mode
ORDER BY mode
"""


@register(
    "q133_counterfactual_leakage",
    _Q133_ORACLE,
    "Why leakage-safe splits exist, quantified: the SAME near-dup pair "
    "set evaluated under q77's cluster-keyed assignment (zero pairs "
    "may straddle splits, by construction) versus a naive per-doc hash "
    "split (every cross-assigned near-dup pair is train/test "
    "contamination) — pair counts, straddle share, and distinct leaked "
    "docs per mode.",
    operators=("sampling-leakage-counterfactual", "dedup-jaccard", "A2"),
)
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return sampling.counterfactual_leakage_report(
        docs, "doc_id", "text", weights, salt=_Q77_SALT,
        pair_source="jaccard", n=3, threshold=_Q25_THRESHOLD,
    )


# ---------------------------------------------------------------------------
# q134 — second principal component via deflation (q126 continued)
# ---------------------------------------------------------------------------


def _q134_oracle(dim: int = _Q126_DIM, n_iter: int = _Q126_ITER) -> str:
    """q126's full first-component chain (verbatim prefix), then the
    same iterations on the DEFLATED operator C' = C − λ₁v₁v₁ᵀ."""
    base = _q126_oracle(dim, n_iter)
    prefix = base.split(f"\nSELECT v{n_iter}.i AS dim")[0]
    v0 = round(1.0 / dim**0.5 + 1e-9, 9)
    ctes = [
        f"pc1 AS MATERIALIZED (SELECT v{n_iter}.i AS i, "
        f"v{n_iter}.val * sgn.g AS val FROM v{n_iter}, sgn)",
        f"y0 AS (SELECT i, {v0!r} AS val FROM dims)",
    ]
    for t in range(1, n_iter + 1):
        p = t - 1
        ctes += [
            f"ly{p} AS (SELECT list(val ORDER BY i) AS l FROM y{p})",
            f"cy{t} AS (SELECT sum(mu.m * y.val) AS c0 "
            f"FROM mu JOIN y{p} y USING (i))",
            f"dly{t} AS (SELECT sum(p.val * y.val) AS dot1 "
            f"FROM pc1 p JOIN y{p} y USING (i))",
            f"sy{t} AS MATERIALIZED (SELECT list_dot_product(e.v, ly.l) "
            f"- cy{t}.c0 AS s, e.v AS v FROM e, ly{p} ly, cy{t})",
            f"""wy{t} AS (
    SELECT i,
           round(sum(sy.v[i + 1] * sy.s) / nn.n
                 - mu.m * (sum(sy.s) / nn.n)
                 - eig.e * dly{t}.dot1 * pc1.val + 1e-9, 9) AS w
    FROM sy{t} sy, dims JOIN mu USING (i) JOIN pc1 USING (i),
         nn, eig, dly{t}
    GROUP BY i, mu.m, pc1.val, nn.n, eig.e, dly{t}.dot1
)""",
            f"ny{t} AS (SELECT sqrt(sum(w * w)) AS nrm FROM wy{t})",
            f"y{t} AS MATERIALIZED (SELECT i, "
            f"round(w / ny{t}.nrm + 1e-9, 9) AS val FROM wy{t}, ny{t})",
        ]
    last = n_iter
    return (
        prefix
        + ",\n"
        + ",\n".join(ctes)
        + f""",
sgn2 AS (
    SELECT CASE WHEN (SELECT val FROM y{last}
                      ORDER BY abs(val) DESC, i LIMIT 1) < 0
                THEN -1.0 ELSE 1.0 END AS g
),
eig2 AS (SELECT round(nrm + 1e-9, 9) AS e FROM ny{last}),
orth AS (
    SELECT round(sum(p.val * y.val) + 1e-9, 6) AS d
    FROM pc1 p JOIN y{last} y USING (i)
)
SELECT y{last}.i AS dim,
       y{last}.val * sgn2.g AS loading2,
       eig2.e AS eigenvalue2,
       round(orth.d * sgn2.g + 1e-9, 6) AS dot_pc1
FROM y{last}, sgn2, eig2, orth
ORDER BY dim
"""
    )


@register(
    "q134_deflated_second_pc",
    _q134_oracle(),
    "Second principal component by DEFLATION: q126's power iteration "
    "re-run on C' = C − λ₁v₁v₁ᵀ — the deflation correction is dim-"
    "sized driver arithmetic on the collected C·v, the SCAN is "
    "unchanged, so k components cost k×iterations scans.  dot_pc1 "
    "reports the residual overlap with the first component (→0 with "
    "iterations; exactly orthogonal in the planted-direction test — "
    "this near-isotropic fixture's tiny eigengap converges slowly).  "
    "Oracle: q126's chain verbatim plus the deflated chain, every "
    "artifact 9-dp rounded.",
    operators=("linalg-pca-deflation", "A3", "iterative"),
)
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import linalg

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    v1, eig1, _ = linalg.power_iteration_top_pc(
        emb, "embedding", dim=_Q126_DIM, n_iter=_Q126_ITER
    )
    v2, eig2, _ = linalg.power_iteration_top_pc(
        emb,
        "embedding",
        dim=_Q126_DIM,
        n_iter=_Q126_ITER,
        deflate=((eig1, v1),),
    )
    dot = round(sum(a * b for a, b in zip(v1, v2)) + 1e-9, 6)
    rows = [(i, x, eig2, dot) for i, x in enumerate(v2)]
    return spark.createDataFrame(
        rows, "dim int, loading2 double, eigenvalue2 double, dot_pc1 double"
    ).orderBy("dim")


# ---------------------------------------------------------------------------
# q135 — feature-hashing (hashing-trick) text vectors + representation
# calibration: hashed-cosine vs exact Jaccard on the near-dup pairs
# ---------------------------------------------------------------------------

_Q135_DIM = 64
_Q135_TH = 0.05  # far wider than q25's 0.5: this corpus is bimodal
# (planted near-dups at j>=0.9, background at j~0.1) — the low band is
# what makes the calibration curve show separation

_Q135_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTES},
sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a
    JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
),
jp AS MATERIALIZED (
    SELECT doc_a, doc_b,
           round(1.0 * n_common / (sa.n_shingles + sb.n_shingles - n_common)
                 + 1e-9, 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE 1.0 * n_common / (sa.n_shingles + sb.n_shingles - n_common)
          >= {_Q135_TH}
),
tok AS (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
    FROM documents
),
hv AS MATERIALIZED (
    SELECT doc_id,
           ('0x' || substr(md5(token), 1, 8))::BIGINT % {_Q135_DIM} AS bucket,
           sum(CASE WHEN ('0x' || substr(md5(token), 9, 1))::BIGINT % 2 = 0
                    THEN 1 ELSE -1 END) AS val
    FROM tok
    GROUP BY doc_id, bucket
),
nrm AS MATERIALIZED (
    SELECT doc_id, sqrt(sum(val * val)) AS n FROM hv GROUP BY doc_id
),
dots AS (
    SELECT j.doc_a, j.doc_b, j.jaccard,
           sum(a.val * b.val) AS dot
    FROM jp j
    JOIN hv a ON a.doc_id = j.doc_a
    JOIN hv b ON b.doc_id = j.doc_b AND a.bucket = b.bucket
    GROUP BY j.doc_a, j.doc_b, j.jaccard
),
scored AS (
    SELECT round(jaccard + 0.05 + 1e-9, 1) - 0.1 AS jacc_bucket,
           round(d.dot / nullif(na.n * nb.n, 0) + 1e-9, 6) AS cos
    FROM dots d
    JOIN nrm na ON na.doc_id = d.doc_a
    JOIN nrm nb ON nb.doc_id = d.doc_b
)
SELECT round(jacc_bucket + 1e-9, 1) AS jacc_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(cos) + 1e-9, 6) AS avg_hashed_cosine,
       round(min(cos) + 1e-9, 6) AS min_hashed_cosine
FROM scored
GROUP BY jacc_bucket
ORDER BY jacc_bucket
"""


@register(
    "q135_feature_hashing_calibration",
    _Q135_ORACLE,
    "Hashing-trick featurizer (Weinberger et al.): every document "
    f"maps to a {_Q135_DIM}-dim signed-count vector via md5 bucket + "
    "sign bits — the model-free text→vector bridge whose dimensionality "
    "is FIXED regardless of vocabulary.  Calibration report: exact-"
    "Jaccard near-dup pairs bucketed by Jaccard, each bucket's mean/min "
    "hashed-vector cosine — how faithfully the cheap representation "
    "preserves the expensive similarity.  Vector frames are (doc, "
    "bucket)-sparse; the pair dot product joins on (doc, bucket).",
    operators=("text-feature-hashing", "similarity-calibration", "J7"),
)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return similarity.hashed_cosine_calibration(
        docs, "doc_id", "text", dim=_Q135_DIM,
        pair_source="jaccard", n=3, threshold=_Q135_TH,
    )


# ---------------------------------------------------------------------------
# q136 — dedup-savings threshold curve: one exact pair pass, every
# candidate threshold's pair volume + removable-doc estimate
# ---------------------------------------------------------------------------

_Q136_THRESHOLDS = (0.3, 0.5, 0.7, 0.9)

_Q136_ORACLE = f"""
WITH {_SHINGLE_CTES},
sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a
    JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
),
jp AS MATERIALIZED (
    SELECT doc_a, doc_b,
           round(1.0 * n_common / (sa.n_shingles + sb.n_shingles - n_common)
                 + 1e-9, 6) AS j
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE 1.0 * n_common / (sa.n_shingles + sb.n_shingles - n_common)
          >= {min(_Q136_THRESHOLDS)}
),
th(threshold) AS (VALUES {", ".join(f"(CAST({t} AS DOUBLE))" for t in _Q136_THRESHOLDS)}),
curve AS (
    SELECT t.threshold,
           count(jp.j) AS n_pairs,
           count(DISTINCT jp.doc_b) AS n_removable
    FROM th t LEFT JOIN jp ON jp.j >= t.threshold
    GROUP BY t.threshold
)
SELECT threshold,
       CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(n_removable, 0) AS BIGINT) AS n_removable
FROM curve
ORDER BY threshold
"""


@register(
    "q136_dedup_threshold_curve",
    _Q136_ORACLE,
    "Dedup knob tuning in ONE pair pass: pairs computed once at the "
    "loosest candidate threshold, then every threshold's near-dup pair "
    "volume and removable-doc estimate (distinct larger-id pair "
    "members — exact for star clusters, an upper bound in general, the "
    "standard quick what-if before a full keep-first run).  The join "
    "to the thresholds frame is |pairs|×|thresholds| with 4 literal "
    "thresholds — bounded.",
    operators=("dedup-threshold-curve", "A2", "A4"),
)
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_threshold_curve(
        docs, "doc_id", "text", _Q136_THRESHOLDS,
        pair_source="jaccard", n=3,
    )


# ---------------------------------------------------------------------------
# q137–q143 — PRODUCTION-MODE twins of the exact-pair family (round 7).
#
# q114/q132/q133/q135/q136 pin pair_source="jaccard" so their oracles can
# replay the exact pair set; the OPERATORS default to MinHash-LSH (the
# bucket-bounded 100 TB path).  These registrations run that default mode
# and are still fully hash-checked: the md5-derived MinHash signature is
# byte-identical in DuckDB (the q28 oracle precedent), so the production
# shape earns the same oracle gate as the conformance shape.
# ---------------------------------------------------------------------------


#: the md5 MinHash chain (num_hashes=16, bands=4) over a (doc_id,
#: shingle) CTE named ``sh`` — shared by the pair replay below and the
#: incremental-index replay (q147) so the two can never drift apart.
_MINHASH_BANDED_CTES = """mh AS (
    SELECT doc_id, k,
           min(substr(md5((k // 4) || ':' || shingle), (k % 4) * 8 + 1, 8)) AS h
    FROM sh CROSS JOIN range(16) r(k)
    GROUP BY doc_id, k
),
sig AS (
    SELECT doc_id, list(h ORDER BY k) AS signature FROM mh GROUP BY doc_id
),
banded AS (
    SELECT doc_id, b,
           md5(array_to_string(list_slice(signature, b * 4 + 1, b * 4 + 4), ',')) AS bucket
    FROM sig CROSS JOIN range(4) rb(b)
)"""


def _minhash_pair_ctes(threshold: float) -> str:
    """DuckDB twin of ``dedup.minhash_dedup_pairs(num_hashes=16,
    bands=4)`` over a (doc_id, shingle) CTE named ``sh``
    — the q28 oracle chain, parameterized so every MinHash-mode
    production registration shares one replay.  Emits CTEs
    mh/sig/banded/cand/docsh and ``mpairs`` = (doc_a, doc_b, j) with
    RAW jaccard (callers round at their own precision)."""
    return f"""{_MINHASH_BANDED_CTES},
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM banded a
    JOIN banded b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
),
docsh AS (
    SELECT doc_id, list(shingle) AS shset FROM sh GROUP BY doc_id
),
mpairs AS MATERIALIZED (
    SELECT doc_a, doc_b,
           1.0 * len(list_intersect(sa.shset, sb.shset))
           / (len(sa.shset) + len(sb.shset)
              - len(list_intersect(sa.shset, sb.shset))) AS j
    FROM cand
    JOIN docsh sa ON doc_a = sa.doc_id
    JOIN docsh sb ON doc_b = sb.doc_id
    WHERE 1.0 * len(list_intersect(sa.shset, sb.shset))
          / (len(sa.shset) + len(sb.shset)
             - len(list_intersect(sa.shset, sb.shset))) >= {threshold}
)"""


def _q137_oracle() -> str:
    """q114's keep-best closure + retention report, replayed over the
    MINHASH pair set (q114's oracle tail verbatim from ``sym`` on)."""
    tail = _Q114_ORACLE.split("sym AS (", 1)[1]
    return (
        f"WITH RECURSIVE {_SHINGLE_CTES},\n"
        + _minhash_pair_ctes(_Q25_THRESHOLD)
        + ",\npairs AS (SELECT doc_a, doc_b FROM mpairs),\nsym AS ("
        + tail
    )


@register(
    "q137_keep_best_minhash",
    _q137_oracle(),
    "q114's keep-best canonical dedup in its PRODUCTION mode: the "
    "operator's DEFAULT MinHash-LSH pair source (bucket-bounded "
    "candidates — the shape that survives 370M rows / 100 TB) feeding "
    "the same component closure and (n_tokens DESC, doc_id) winner "
    "window.  Fully hash-checked: the md5 MinHash signature is byte-"
    "identical cross-engine, so the oracle replays banding, candidates, "
    "exact verification, and the closure.",
    operators=("dedup-canonical", "dedup-minhash-lsh", "graph-cc", "W1"),
)
def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = dedup.canonical_dedup(
        docs.select(
            "doc_id", "source", "text",
            text.token_count("text").alias("n_tokens"),
        ),
        "doc_id",
        "text",
        "n_tokens",
        n=3,
        threshold=_Q25_THRESHOLD,
    )
    keep_tok = F.when(col("keep"), col("n_tokens")).otherwise(lit(0))
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_distinct("cluster_id").cast("long").alias("n_clusters"),
            F.sum(col("keep").cast("long")).cast("long").alias("n_kept"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.sum(keep_tok).cast("long").alias("tokens_kept"),
            rnd(F.sum(keep_tok) / F.sum("n_tokens"), 6).alias("token_retention"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q138 — held-out bigram perplexity (the CCNet production shape: fixed
# reference model, broadcast stats, unseen mass smoothed not dropped)
# ---------------------------------------------------------------------------

_Q138_MODEL_SRC = ("src0", "src1", "src2", "src3")
_Q138_CUTOFF = 3.6
_Q138_SRC_SQL = ", ".join(f"'{s}'" for s in _Q138_MODEL_SRC)

_Q138_ORACLE = f"""
WITH m AS (
    SELECT string_split_regex(lower(text), '\\s+') AS tk
    FROM documents
    WHERE lang = 'en' AND source IN ({_Q138_SRC_SQL})
),
mbig AS (
    SELECT unnest(list_transform(range(1, len(tk)),
                  i -> tk[i] || ' ' || tk[i + 1])) AS bigram
    FROM m WHERE len(tk) >= 2
),
c2 AS (SELECT bigram, count(*) AS c2 FROM mbig GROUP BY bigram),
cp AS (
    SELECT split_part(bigram, ' ', 1) AS prev, count(*) AS cprev
    FROM mbig GROUP BY prev
),
vocab AS (
    SELECT count(DISTINCT t) AS V FROM (SELECT unnest(tk) AS t FROM m)
),
e AS (
    SELECT doc_id, source,
           string_split_regex(lower(text), '\\s+') AS tk
    FROM documents
    WHERE lang = 'en' AND source NOT IN ({_Q138_SRC_SQL})
),
ebig AS (
    SELECT doc_id, source, len(tk) - 1 AS nb,
           unnest(list_transform(range(1, len(tk)),
                  i -> tk[i] || ' ' || tk[i + 1])) AS bigram
    FROM e WHERE len(tk) >= 2
),
scored AS (
    SELECT b.doc_id, b.source,
           round(-sum(ln((coalesce(c2.c2, 0) + 1.0)
                         / (coalesce(cp.cprev, 0) + 1.0 * vocab.V))) / b.nb
                 + 1e-9, 6) AS log_ppl
    FROM ebig b
    LEFT JOIN c2 USING (bigram)
    LEFT JOIN cp ON split_part(b.bigram, ' ', 1) = cp.prev
    CROSS JOIN vocab
    GROUP BY b.doc_id, b.source, b.nb
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(log_ppl) + 1e-9, 6) AS avg_log_ppl,
       round(max(log_ppl) + 1e-9, 6) AS max_log_ppl,
       CAST(sum(CASE WHEN log_ppl > {_Q138_CUTOFF} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged
FROM scored
GROUP BY source
ORDER BY source
"""


@register(
    "q138_heldout_perplexity",
    _Q138_ORACLE,
    "Bigram perplexity in its PRODUCTION CCNet shape: English docs from "
    f"a fixed reference slice (sources {', '.join(_Q138_MODEL_SRC)}) "
    "train the model; every other English doc is scored against it with "
    "unseen bigrams smoothed to the add-1 floor (LEFT joins — an inner "
    "join would skip exactly the surprising transitions the filter "
    "punishes).  Model frames are constant-size and BROADCAST, so "
    "scoring a growing corpus is map-side — unlike q117's self-model "
    "bigram-keyed shuffle (2.9× at 10×).  Per-source report with a "
    f"flag count at log-ppl > {_Q138_CUTOFF}.",
    operators=("lm-bigram-heldout", "J-broadcast", "A3"),
)
def q138(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import lm

    docs = load_table(spark, sf_dir, "documents")
    en = docs.filter(col("lang") == "en")
    model = en.filter(col("source").isin(*_Q138_MODEL_SRC))
    ev = en.filter(~col("source").isin(*_Q138_MODEL_SRC))
    scored = lm.heldout_bigram_perplexity(
        ev, ["doc_id", "source"], model
    ).withColumn("log_ppl", rnd(col("log_ppl"), 6))
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            rnd(F.avg("log_ppl"), 6).alias("avg_log_ppl"),
            rnd(F.max("log_ppl"), 6).alias("max_log_ppl"),
            F.sum(
                (col("log_ppl") > lit(_Q138_CUTOFF)).cast("long")
            ).cast("long").alias("n_flagged"),
        )
        .orderBy("source")
    )


def _q139_oracle() -> str:
    """q132's attribution replayed with the funnel's dedup stage on the
    MINHASH pair source: q122's funnel CTEs verbatim through ``kept``,
    the shared minhash chain over the kept pool's shingles, then q122's
    closure/keep-best and q132's attribution tails verbatim."""
    q122 = _q122_oracle()
    prefix = q122.split(",\nsh AS (", 1)[0]
    sh_body = q122.split(",\nsh AS (", 1)[1].split("),\nsizes AS", 1)[0]
    closure = "sym AS (" + q122.split("sym AS (", 1)[1].split(",\ndealt AS (", 1)[0]
    attr = ",\nattr AS (" + _q132_oracle().split(",\nattr AS (", 1)[1]
    return (
        prefix
        + ",\nsh AS ("
        + sh_body
        + "),\n"
        + _minhash_pair_ctes(_Q25_THRESHOLD)
        + ",\npairs AS (SELECT doc_a, doc_b FROM mpairs),\n"
        + closure
        + attr
    )


@register(
    "q139_funnel_attribution_minhash",
    _q139_oracle(),
    "q132's curation-funnel attribution in PRODUCTION mode: identical "
    "rule gate and self-bigram perplexity stages, with the duplicate "
    "stage's pair source at the operator DEFAULT (MinHash-LSH over the "
    "kept pool) — the audit a 100 TB curation run actually ships.  The "
    "oracle replays the full funnel plus the md5 MinHash chain.",
    operators=("funnel-attribution", "dedup-minhash-lsh", "rules",
               "lm-bigram", "A4"),
)
def q139(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curation

    docs = load_table_parallel(spark, sf_dir, "documents")
    attr = curation.funnel_attribution(
        docs, _Q122_PPL, threshold=_Q25_THRESHOLD
    )
    return (
        attr.groupBy("source", "stage")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("source", "stage")
    )


def _q140_oracle() -> str:
    """q136's threshold curve over the MINHASH pair set (q136's curve
    tail verbatim from the thresholds frame on)."""
    tail = _Q136_ORACLE.split("th(threshold) AS (", 1)[1]
    return (
        f"WITH {_SHINGLE_CTES},\n"
        + _minhash_pair_ctes(min(_Q136_THRESHOLDS))
        + ",\njp AS (SELECT doc_a, doc_b, round(j + 1e-9, 6) AS j FROM mpairs),"
        + "\nth(threshold) AS ("
        + tail
    )


@register(
    "q140_threshold_curve_minhash",
    _q140_oracle(),
    "q136's dedup-savings threshold curve in PRODUCTION mode: one "
    "MinHash-LSH pair pass at the loosest candidate threshold "
    f"({min(_Q136_THRESHOLDS)}), every threshold's qualifying pair "
    "volume and removable-doc estimate from the |pairs|×|thresholds| "
    "join — the knob-tuning what-if run at the same scale as the dedup "
    "it tunes.  Oracle replays the md5 MinHash chain.",
    operators=("dedup-threshold-curve", "dedup-minhash-lsh", "A2", "A4"),
)
def q140(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_threshold_curve(
        docs, "doc_id", "text", _Q136_THRESHOLDS, n=3
    )


def _q141_oracle() -> str:
    """q135's hashed-vector calibration over the MINHASH pair set
    (q135's featurizer/dot/curve tail verbatim from ``tok`` on)."""
    tail = _Q135_ORACLE.split("tok AS (", 1)[1]
    return (
        f"WITH {_SHINGLE_CTES},\n"
        + _minhash_pair_ctes(_Q135_TH)
        + ",\njp AS (SELECT doc_a, doc_b, round(j + 1e-9, 6) AS jaccard FROM mpairs),"
        + "\ntok AS ("
        + tail
    )


@register(
    "q141_feature_hash_calib_minhash",
    _q141_oracle(),
    "q135's feature-hashing calibration in PRODUCTION mode: the "
    "Jaccard-vs-hashed-cosine curve computed over MinHash-LSH-surfaced "
    "pairs — calibrating a 100 TB corpus' featurizer samples pairs at "
    "production scale (LSH recall shapes WHICH low-similarity buckets "
    "appear; the high-similarity buckets that matter survive with "
    "recall ≈ 1).  Oracle replays chain + featurizer.",
    operators=("text-feature-hashing", "similarity-calibration",
               "dedup-minhash-lsh", "J7"),
)
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return similarity.hashed_cosine_calibration(
        docs, "doc_id", "text", dim=_Q135_DIM, n=3, threshold=_Q135_TH
    )


_Q142_MAXP = 24
_PLANES_24x64 = similarity.random_hyperplanes(_Q142_MAXP, 64, seed=42)


def _q142_ladder_sql() -> str:
    """auto_n_planes as an INTEGER threshold ladder — one branch per
    corpus doubling (base 4 planes at ≤2048 rows, +1 per doubling,
    capped at 24).  Exact-integer comparisons, so the SQL decision can
    never FP-drift from the Python one (auto_n_planes is itself
    integer arithmetic for the same reason)."""
    branches = " ".join(
        f"WHEN n <= {2048 << e} THEN {4 + e}" for e in range(_Q142_MAXP - 4)
    )
    return f"(CASE {branches} ELSE {_Q142_MAXP} END)"


def _q142_bucket_sql(vexpr: str) -> str:
    """LSH bucket over the FIRST ``n_planes`` of the 24 unrolled plane
    literals: plane i contributes bit i only when ``i < n_planes`` —
    the same first-n-planes prefix rule as random_hyperplanes (plane i
    depends only on (seed, i, d), so the first n of 24 == the n the
    Spark side generates)."""
    terms = " + ".join(
        f"(CASE WHEN {i} < n_planes AND "
        f"list_dot_product({vexpr}, {_plane_sql(p)}) > 0 "
        f"THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i, p in enumerate(_PLANES_24x64)
    )
    return f"({terms})"


def _q142_oracle() -> str:
    """q118's margin-mining tail (verbatim from ``cand AS (`` on) under
    COUNT-derived auto-scaled buckets: a 1-row COUNT(*) CTE feeds the
    integer plane-count ladder, which gates the 24 unrolled plane
    literals."""
    tail = _Q118_ORACLE.split("cand AS (", 1)[1]
    return (
        "WITH nc AS (\n"
        "    SELECT count(*) AS n FROM embeddings WHERE label IS NOT NULL\n"
        "),\n"
        f"np AS (SELECT {_q142_ladder_sql()} AS n_planes FROM nc),\n"
        "e AS (\n"
        "    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,"
        " n_planes\n"
        "    FROM embeddings, np\n"
        "),\n"
        "a AS (\n"
        f"    SELECT vec_id AS vec_a, v AS v_a, {_q142_bucket_sql('v')}"
        " AS bucket\n"
        "    FROM e WHERE label < 5\n"
        "),\n"
        "bb AS (\n"
        f"    SELECT vec_id AS vec_b, v AS v_b, {_q142_bucket_sql('v')}"
        " AS bucket\n"
        "    FROM e WHERE label >= 5\n"
        "),\n"
        "cand AS (" + tail
    )


@register(
    "q142_margin_mining_auto",
    _q142_oracle(),
    "q118's bitext margin mining in PRODUCTION mode: the hyperplane "
    "count AUTO-SCALES with the corpus (occupancy-holding — one extra "
    "plane per doubling over 2048 rows, integer ladder), so in-bucket "
    "candidate volume grows linearly instead of the fixed-plane "
    "quadratic cliff (measured 9.0× runtime at 10× data with 4 planes "
    "vs 1.5× with 8).  This registration derives the count from a "
    "deterministic COUNT(*) (one footer-metadata job) so the oracle "
    "can replay the sizing decision exactly: same count → same integer "
    "ladder → same plane prefix of the shared 24-plane literal set.  "
    "The zero-job plan-stats auto mode (margin_mine_pairs planes=None) "
    "remains the production option.  Same additive-margin scoring as "
    "q118.",
    operators=("similarity-margin-mining", "lsh-autoscale", "W1"),
)
def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    a = emb.filter(col("label") < 5)
    b = emb.filter(col("label") >= 5)
    mined = similarity.margin_mine_pairs(
        a, b, planes=similarity.counted_planes(a, b, dim=64), k=_Q118_K
    )
    return mined.withColumn(
        "mined", col("margin") > lit(_Q118_MARGIN)
    ).orderBy("vec_a")


def _q143_oracle() -> str:
    """q133's counterfactual leakage report over the MINHASH pair set
    (q133's split/straddle tail verbatim from ``sym`` on)."""
    tail = _Q133_ORACLE.split("sym AS (", 1)[1]
    return (
        f"WITH RECURSIVE {_SHINGLE_CTES},\n"
        + _minhash_pair_ctes(_Q25_THRESHOLD)
        + ",\npairs AS MATERIALIZED (SELECT doc_a, doc_b FROM mpairs),\nsym AS ("
        + tail
    )


@register(
    "q143_counterfactual_leakage_minhash",
    _q143_oracle(),
    "q133's counterfactual leakage audit in PRODUCTION mode: the same "
    "near-dup pair set the production split uses (MinHash-LSH, the "
    "operator default) evaluated under cluster-keyed vs naive per-doc "
    "hash assignment — by construction the cluster mode still straddles "
    "ZERO pairs, because report and split share one pair frame.  Oracle "
    "replays the md5 MinHash chain + both split hashes.",
    operators=("sampling-leakage-counterfactual", "dedup-minhash-lsh",
               "A2"),
)
def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return sampling.counterfactual_leakage_report(
        docs, "doc_id", "text", weights, salt=_Q77_SALT,
        n=3, threshold=_Q25_THRESHOLD,
    )


def _q144_oracle() -> str:
    """q46's component closure + cluster report over the MINHASH pair
    set (q46's oracle tail verbatim from ``sym`` on)."""
    tail = _Q46_ORACLE.split("sym AS (", 1)[1]
    return (
        f"WITH RECURSIVE {_SHINGLE_CTES},\n"
        + _minhash_pair_ctes(_Q25_THRESHOLD)
        + ",\npairs AS (SELECT doc_a, doc_b FROM mpairs),\nsym AS ("
        + tail
    )


@register(
    "q144_dedup_clusters_minhash",
    _q144_oracle(),
    "q46's duplicate-cluster assignment in PRODUCTION mode: the same "
    "large-star/small-star closure and per-doc cluster report over the "
    "operator-DEFAULT MinHash-LSH pair set — the clustering a 100 TB "
    "dedup run executes (q46's exact source measured 69× wall-clock at "
    "100× data vs 15× for this shape).  Fully hash-checked: the oracle "
    "replays the md5 MinHash chain and the recursive-CTE closure.",
    operators=("dedup-clusters", "dedup-minhash-lsh", "graph-cc"),
)
def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.near_dup_pairs(
        docs, "doc_id", "text", n=3, threshold=_Q25_THRESHOLD
    ).select("doc_a", "doc_b")
    cc = graph.connected_components(pairs)
    w = Window.partitionBy("cluster_id")
    return (
        cc.select(col("node").alias("doc_id"), col("component").alias("cluster_id"))
        .select(
            "doc_id",
            "cluster_id",
            F.count("*").over(w).alias("cluster_size"),
            (col("doc_id") == col("cluster_id")).alias("is_canonical"),
        )
        .orderBy("cluster_id", "doc_id")
    )


# ---------------------------------------------------------------------------
# q146 — int8-quantized cosine top-k (the ANN memory/IO scale path)
# ---------------------------------------------------------------------------

_Q146_ORACLE = """
WITH q AS (
    SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0
),
qq AS (
    SELECT list_transform(v, x -> greatest(least(CAST(floor(
               x / greatest(list_max(list_transform(v, y -> abs(y))) / 127.0,
                            1e-12) + 0.5 + 1e-9) AS BIGINT), 127), -127)) AS qv,
           v AS fv
    FROM q
),
c AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
           list_transform(CAST(embedding AS DOUBLE[]),
               x -> greatest(least(CAST(floor(
                   x / greatest(list_max(list_transform(
                           CAST(embedding AS DOUBLE[]), y -> abs(y))) / 127.0,
                       1e-12) + 0.5 + 1e-9) AS BIGINT), 127), -127)) AS cv
    FROM embeddings
    WHERE vec_id <> 0
)
SELECT vec_id,
       label,
       CAST(list_sum(list_transform(range(1, len(cv) + 1),
                                    i -> cv[i] * qv[i])) AS BIGINT) AS q_dot,
       round(1.0 * list_sum(list_transform(range(1, len(cv) + 1),
                                           i -> cv[i] * qv[i]))
             / sqrt(1.0 * list_sum(list_transform(cv, x -> x * x))
                    * list_sum(list_transform(qv, x -> x * x))) + 1e-9, 6)
           AS q_cos,
       round(list_cosine_similarity(v, fv) + 1e-9, 6) AS cos_exact
FROM c CROSS JOIN qq
ORDER BY q_cos DESC, vec_id
LIMIT 10
"""


@register(
    "q146_quantized_cosine_topk",
    _Q146_ORACLE,
    "q26's brute-force cosine top-10 under symmetric int8 scalar "
    "quantization — the similarity-search memory/IO scale path: codes "
    "are 4× smaller on the scan than float32 vectors, dot products and "
    "squared norms run in EXACT integer arithmetic (no FP summation-"
    "order drift; per-vector scales cancel out of the cosine), and the "
    "exact float cosine rides beside the quantized score so the "
    "registered row doubles as the quantization-error audit.  Same "
    "scan → project → TakeOrderedAndProject plan as q26.",
    operators=("sim-quantized", "sim-cosine-topk", "O1"),
)
def q146(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(col("vec_id") == 0).select("embedding").head()[0]
    ]
    return similarity.quantized_cosine_topk(emb, qvec, k=10, exclude_ids=(0,))


# ---------------------------------------------------------------------------
# q145 — quality-classifier TRAINING (full-batch GD, trajectory oracle)
# ---------------------------------------------------------------------------

_Q145_ITERS = 4
_Q145_LR = 2.0

#: exact-double clamp bounds for the log-loss (2^-20 and 1 - 2^-20):
#: finite decimal expansions parse to bit-identical doubles everywhere.
_Q145_CLAMP = (
    "greatest(least(p, CAST('0.99999904632568359375' AS DOUBLE)), "
    "CAST('9.5367431640625e-07' AS DOUBLE))"
)


def _q145_oracle(iters: int = _Q145_ITERS, lr: float = _Q145_LR) -> str:
    """GD iterations unrolled as chained CTEs: wi{i} (post-update
    weights) and g{i} (gradient + pre-update loss) per step, every
    artifact nudge-rounded 6 dp exactly as ``train.logreg_train``."""
    toks = "string_split_regex(lower(text), '\\s+')"
    parts = [
        f"""f AS MATERIALIZED (
    SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
           round(coalesce(least(len({toks}) / 200.0, 1.0), 0.0) + 1e-9, 6) AS f1,
           round(coalesce(least(list_sum(list_transform({toks}, x -> length(x)))
                 / nullif(len({toks}), 0) / 10.0, 1.0), 0.0) + 1e-9, 6) AS f2,
           round(coalesce(1.0 * len(list_filter({toks}, x -> list_contains([{_EN}], x)))
                 / nullif(len({toks}), 0), 0.0) + 1e-9, 6) AS f3,
           round(coalesce(1.0 * length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
                 / nullif(length(text), 0), 0.0) + 1e-9, 6) AS f4
    FROM documents
)""",
        "wi0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4, 0.0 AS b)",
    ]
    for i in range(1, iters + 1):
        parts.append(f"""p{i} AS (
    SELECT y, f1, f2, f3, f4,
           round(1.0 / (1.0 + exp(-(w.b + w.w1 * f1 + w.w2 * f2
                                    + w.w3 * f3 + w.w4 * f4))) + 1e-9, 6) AS p
    FROM f CROSS JOIN wi{i - 1} w
)""")
        parts.append(f"""g{i} AS (
    SELECT round(avg((p - y) * f1) + 1e-9, 6) AS g1,
           round(avg((p - y) * f2) + 1e-9, 6) AS g2,
           round(avg((p - y) * f3) + 1e-9, 6) AS g3,
           round(avg((p - y) * f4) + 1e-9, 6) AS g4,
           round(avg(p - y) + 1e-9, 6) AS gb,
           round(avg(-(y * ln({_Q145_CLAMP})
                 + (1.0 - y) * ln(1.0 - {_Q145_CLAMP}))) + 1e-9, 6) AS loss
    FROM p{i}
)""")
        parts.append(f"""wi{i} AS (
    SELECT round(w.w1 - {lr} * g.g1 + 1e-9, 6) AS w1,
           round(w.w2 - {lr} * g.g2 + 1e-9, 6) AS w2,
           round(w.w3 - {lr} * g.g3 + 1e-9, 6) AS w3,
           round(w.w4 - {lr} * g.g4 + 1e-9, 6) AS w4,
           round(w.b - {lr} * g.gb + 1e-9, 6) AS b
    FROM wi{i - 1} w CROSS JOIN g{i} g
)""")
    steps = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS step, w.w1, w.w2, w.w3, w.w4, "
        f"w.b AS bias, g.loss FROM wi{i} w CROSS JOIN g{i} g"
        for i in range(1, iters + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + steps + "\nORDER BY step"


@register(
    "q145_logreg_training",
    _q145_oracle(),
    "TRAINING for q79's filter-tier classifier: full-batch gradient "
    "descent for binary logistic regression (label: lang = 'en') over "
    "the same 4 in-row document features, 4 iterations at lr=2.  Each "
    "step is ONE corpus scan → a 6-value aggregate (per-feature "
    "gradients, bias gradient, log-loss); driver state is the 5-double "
    "weight vector (the k-means/PCA posture, collect_bounded-guarded). "
    "Per-row sigmoids, aggregates, and updates are nudge-rounded 6 dp "
    "in both engines, so the oracle replays the ENTIRE training "
    "trajectory, not just the final fit; the log-loss clamp bounds are "
    "exact powers of two so no engine parses a different boundary.",
    operators=("train-logreg", "quality-classifier", "A3", "A11"),
)
def q145(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rules as R
    from ..operators import train

    docs = load_table_parallel(spark, sf_dir, "documents")
    toks = text.tokens("text")
    feats = docs.select(
        F.when(col("lang") == "en", lit(1.0)).otherwise(lit(0.0)).alias("y"),
        rnd(
            F.coalesce(F.least(F.size(toks) / lit(200.0), lit(1.0)), lit(0.0)), 6
        ).alias("f1"),
        rnd(
            F.coalesce(
                F.least(R.mean_token_length(toks) / lit(10.0), lit(1.0)), lit(0.0)
            ),
            6,
        ).alias("f2"),
        rnd(
            F.coalesce(text.stopword_ratio("text", text.LANG_STOPWORDS["en"]), lit(0.0)),
            6,
        ).alias("f3"),
        rnd(F.coalesce(text.punct_ratio("text"), lit(0.0)), 6).alias("f4"),
    )
    # one tokenization pass, not one per GD step: the 5-column feature
    # frame (~1/50 the corpus bytes) is materialized once and the four
    # iteration scans read it — the q122 localCheckpoint precedent
    feats = feats.localCheckpoint(eager=True)
    traj = train.logreg_train(
        feats, ["f1", "f2", "f3", "f4"], "y", iters=_Q145_ITERS, lr=_Q145_LR
    )
    return train.trajectory_df(spark, traj)


# ---------------------------------------------------------------------------
# q147 — incremental near-dup refresh against the persisted LSH index
# ---------------------------------------------------------------------------

_Q147_ORACLE = f"""
WITH {_SHINGLE_CTES},
{_MINHASH_BANDED_CTES},
cand AS (
    SELECT DISTINCT a.doc_id AS bd, s.doc_id AS sd
    FROM banded a
    JOIN banded s ON a.b = s.b AND a.bucket = s.bucket
    WHERE a.doc_id % 3 = 0 AND s.doc_id % 3 <> 0
),
bcand AS (
    SELECT DISTINCT a.doc_id AS da, s.doc_id AS db
    FROM banded a
    JOIN banded s ON a.b = s.b AND a.bucket = s.bucket
    WHERE a.doc_id % 3 = 0 AND s.doc_id % 3 = 0 AND a.doc_id < s.doc_id
),
docsh AS (
    SELECT doc_id, list(shingle) AS shset FROM sh GROUP BY doc_id
),
vcross AS (
    SELECT DISTINCT bd
    FROM cand
    JOIN docsh a ON bd = a.doc_id
    JOIN docsh s ON sd = s.doc_id
    WHERE 1.0 * len(list_intersect(a.shset, s.shset))
          / (len(a.shset) + len(s.shset) - len(list_intersect(a.shset, s.shset)))
          >= {_Q25_THRESHOLD}
),
vbatch AS (
    SELECT DISTINCT db
    FROM bcand
    JOIN docsh a ON da = a.doc_id
    JOIN docsh s ON db = s.doc_id
    WHERE 1.0 * len(list_intersect(a.shset, s.shset))
          / (len(a.shset) + len(s.shset) - len(list_intersect(a.shset, s.shset)))
          >= {_Q25_THRESHOLD}
),
status AS (
    SELECT d.source,
           CASE WHEN vc.bd IS NOT NULL THEN 'dup_vs_corpus'
                WHEN vb.db IS NOT NULL THEN 'dup_in_batch'
                ELSE 'new' END AS status
    FROM documents d
    LEFT JOIN vcross vc ON d.doc_id = vc.bd
    LEFT JOIN vbatch vb ON d.doc_id = vb.db
    WHERE d.doc_id % 3 = 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_batch,
       CAST(sum(CASE WHEN status = 'dup_vs_corpus' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_vs_corpus,
       CAST(sum(CASE WHEN status = 'dup_in_batch' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_in_batch,
       CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new
FROM status
GROUP BY source
ORDER BY source
"""


@register(
    "q147_incremental_minhash",
    _Q147_ORACLE,
    "q78's incremental corpus refresh upgraded to NEAR-dup semantics "
    "against the persisted LSH index: the new crawl (doc_id%3=0) is "
    "classified per source as dup_vs_corpus / dup_in_batch / new by "
    "MinHash-LSH + exact-Jaccard verification.  The standing corpus "
    "contributes its (doc, band, bucket) band table — the artifact "
    "lsh_band_table persists, partitioned by band — plus the text of "
    "CANDIDATE matches only (one left-semi prune before shingling), so "
    "refresh cost is O(batch + matches), never O(standing corpus): the "
    "shape that keeps a 100 TB store's weekly refresh from re-pairing "
    "the world.  Fully hash-checked — the oracle replays the shared md5 "
    "MinHash chain for both populations.",
    operators=("dedup-incremental", "dedup-minhash-lsh", "J8", "A4"),
)
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(col("doc_id") % 3 == 0)
    standing = docs.filter(col("doc_id") % 3 != 0)
    return dedup.incremental_minhash_report(
        batch, standing, "doc_id", "text", "source", threshold=_Q25_THRESHOLD
    )


# ---------------------------------------------------------------------------
# q148 — interpolated Kneser–Ney perplexity (KenLM's smoothing, held-out)
# ---------------------------------------------------------------------------

_Q148_D = "CAST(0.75 AS DOUBLE)"
_Q148_PCONT = (
    "((coalesce(cont.n1b, 0) + CAST(1.0 AS DOUBLE)) / (consts.T + consts.V))"
)

_Q148_ORACLE = f"""
WITH m AS (
    SELECT string_split_regex(lower(text), '\\s+') AS tk
    FROM documents
    WHERE lang = 'en' AND source IN ({_Q138_SRC_SQL})
),
mbig AS (
    SELECT bigram,
           split_part(bigram, ' ', 1) AS prev,
           split_part(bigram, ' ', 2) AS cur
    FROM (
        SELECT unnest(list_transform(range(1, len(tk)),
                      i -> tk[i] || ' ' || tk[i + 1])) AS bigram
        FROM m WHERE len(tk) >= 2
    )
),
c2 AS (SELECT bigram, count(*) AS c2 FROM mbig GROUP BY bigram),
ctx AS (
    SELECT prev, count(*) AS cprev, count(DISTINCT cur) AS n1f
    FROM mbig GROUP BY prev
),
cont AS (SELECT cur, count(DISTINCT prev) AS n1b FROM mbig GROUP BY cur),
consts AS (
    SELECT (SELECT count(DISTINCT bigram) FROM mbig) AS T,
           (SELECT count(DISTINCT t) FROM (SELECT unnest(tk) AS t FROM m)) AS V
),
e AS (
    SELECT doc_id, source, string_split_regex(lower(text), '\\s+') AS tk
    FROM documents
    WHERE lang = 'en' AND source NOT IN ({_Q138_SRC_SQL})
),
ebig AS (
    SELECT doc_id, source, len(tk) - 1 AS nb, bigram,
           split_part(bigram, ' ', 1) AS prev,
           split_part(bigram, ' ', 2) AS cur
    FROM (
        SELECT doc_id, source, tk,
               unnest(list_transform(range(1, len(tk)),
                      i -> tk[i] || ' ' || tk[i + 1])) AS bigram
        FROM e WHERE len(tk) >= 2
    )
),
scored AS (
    SELECT b.doc_id, b.source,
           round(-sum(ln(CASE WHEN ctx.cprev IS NOT NULL THEN
                 greatest(coalesce(c2.c2, 0) - {_Q148_D}, CAST(0.0 AS DOUBLE))
                     / ctx.cprev
                 + {_Q148_D} * ctx.n1f / ctx.cprev * {_Q148_PCONT}
               ELSE {_Q148_PCONT} END)) / b.nb + 1e-9, 6) AS log_ppl,
           round(1.0 * sum(CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END) / b.nb
                 + 1e-9, 6) AS unseen_rate
    FROM ebig b
    LEFT JOIN c2 USING (bigram)
    LEFT JOIN ctx ON b.prev = ctx.prev
    LEFT JOIN cont ON b.cur = cont.cur
    CROSS JOIN consts
    GROUP BY b.doc_id, b.source, b.nb
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(log_ppl) + 1e-9, 6) AS avg_log_ppl,
       round(max(log_ppl) + 1e-9, 6) AS max_log_ppl,
       round(avg(unseen_rate) + 1e-9, 6) AS avg_unseen_rate
FROM scored
GROUP BY source
ORDER BY source
"""


@register(
    "q148_kneser_ney_perplexity",
    _Q148_ORACLE,
    "q138's held-out LM filter upgraded to interpolated Kneser–Ney — "
    "the smoothing KenLM ships, i.e. what a real CCNet deployment "
    "scores with: absolute discounting (d = 0.75, an exactly-"
    "representable power-of-two constant) backs off to the CONTINUATION "
    "probability (how many distinct contexts a word completes), not the "
    "raw unigram — the classic 'san Francisco' correction.  All model "
    "frames (bigram counts, context totals + fan-outs, continuation "
    "counts, the 1-row T/V) are bounded by the held-out corpus and "
    "BROADCAST; scoring any corpus size is explode → four map-side "
    "hash joins → doc-keyed aggregate.  Per-source report includes the "
    "unseen-bigram rate — the KN diagnostic for how much of the score "
    "is discount mass.",
    operators=("lm-kneser-ney", "lm-bigram-heldout", "J-broadcast", "A3"),
)
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import lm

    docs = load_table(spark, sf_dir, "documents")
    en = docs.filter(col("lang") == "en")
    model = en.filter(col("source").isin(*_Q138_MODEL_SRC))
    ev = en.filter(~col("source").isin(*_Q138_MODEL_SRC))
    scored = lm.kneser_ney_perplexity(ev, ["doc_id", "source"], model).select(
        "doc_id",
        "source",
        rnd(col("log_ppl"), 6).alias("log_ppl"),
        rnd(col("n_unseen").cast("double") / col("n_bigrams"), 6).alias(
            "unseen_rate"
        ),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            rnd(F.avg("log_ppl"), 6).alias("avg_log_ppl"),
            rnd(F.max("log_ppl"), 6).alias("max_log_ppl"),
            rnd(F.avg("unseen_rate"), 6).alias("avg_unseen_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q149 — 1-bit sign codes: Hamming prefilter → exact cosine re-rank
# ---------------------------------------------------------------------------

_Q149_M = 50


def _q149_oracle(dim: int = 64, m: int = _Q149_M, k: int = 10) -> str:
    words = (dim + 31) // 32
    pack = (
        "list_transform(range(0, {w}), wd -> CAST(list_sum("
        "list_transform(range(1, 33), j -> CASE WHEN {v}[wd * 32 + j] > 0 "
        "THEN (CAST(1 AS BIGINT) << (j - 1)) ELSE 0 END)) AS BIGINT))"
    )
    ham = " + ".join(
        f"bit_count(xor(cw[{j + 1}], qq.qw[{j + 1}]))" for j in range(words)
    )
    return f"""
WITH q AS (
    SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0
),
qq AS (
    SELECT {pack.format(w=words, v='v')} AS qw, v AS fv FROM q
),
c AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
           {pack.format(w=words, v='CAST(embedding AS DOUBLE[])')} AS cw
    FROM embeddings
    WHERE vec_id <> 0
),
shortlist AS (
    SELECT vec_id, label, v, CAST({ham} AS BIGINT) AS hamming
    FROM c CROSS JOIN qq
    ORDER BY hamming, vec_id
    LIMIT {m}
)
SELECT s.vec_id, s.label, s.hamming,
       round(list_cosine_similarity(s.v, qq.fv) + 1e-9, 6) AS cos_sim
FROM shortlist s CROSS JOIN qq
ORDER BY cos_sim DESC, s.vec_id
LIMIT {k}
"""


@register(
    "q149_binary_rerank_topk",
    _q149_oracle(),
    "Two-stage similarity search at the far end of the quantization "
    "ladder: 1-bit sign codes (dim/8 bytes — 64× smaller than float64) "
    "scanned with a Hamming-distance TakeOrdered shortlist of "
    f"{_Q149_M}, then exact float cosine re-ranks the shortlist to "
    "top-10 (faiss IndexBinaryFlat+refine shape).  Stage 1 reads only "
    "the packed code words; stage 2 touches float vectors for 50 rows "
    "regardless of corpus size.  Codes pack 32 bits/word so every "
    "shift stays in BIGINT positive range in both engines; both stage "
    "boundaries tie-break on vec_id, so the whole cascade is "
    "hash-checkable.",
    operators=("sim-binary-rerank", "sim-quantized", "O1"),
)
def q149(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(col("vec_id") == 0).select("embedding").head()[0]
    ]
    return similarity.binary_rerank_topk(
        emb, qvec, k=10, m=_Q149_M, exclude_ids=(0,)
    )


# ---------------------------------------------------------------------------
# q150 — IVF pruning × int8 scoring: the combined ANN production stack
# ---------------------------------------------------------------------------

_Q150_INT8 = (
    "list_transform({v}, x -> greatest(least(CAST(floor("
    "x / greatest(list_max(list_transform({v}, y -> abs(y))) / 127.0, 1e-12)"
    " + 0.5 + 1e-9) AS BIGINT), 127), -127))"
)


def _q150_oracle() -> str:
    """q31's IVF CTE chain (centroids, probe list, nearest-centroid
    assignment) verbatim, with q146's int8 quantization scoring the
    probed buckets — the oracle checks BOTH the pruning set and the
    integer arithmetic."""
    prefix = _Q31_ORACLE.rsplit("SELECT vec_id, label,", 1)[0].rstrip()
    return f"""{prefix},
qq AS (
    SELECT {_Q150_INT8.format(v='qv')} AS qw, qv FROM q
),
pruned AS (
    SELECT vec_id, label, v, {_Q150_INT8.format(v='v')} AS cw
    FROM assigned
    WHERE rn = 1 AND cid IN (SELECT cid FROM probe)
)
SELECT vec_id, label,
       CAST(list_sum(list_transform(range(1, len(cw) + 1),
                                    i -> cw[i] * qq.qw[i])) AS BIGINT) AS q_dot,
       round(1.0 * list_sum(list_transform(range(1, len(cw) + 1),
                                           i -> cw[i] * qq.qw[i]))
             / sqrt(1.0 * list_sum(list_transform(cw, x -> x * x))
                    * list_sum(list_transform(qq.qw, x -> x * x))) + 1e-9, 6)
           AS q_cos,
       round(list_cosine_similarity(v, qq.qv) + 1e-9, 6) AS cos_exact
FROM pruned CROSS JOIN qq
ORDER BY q_cos DESC, vec_id
LIMIT 10
"""


@register(
    "q150_ivf_quantized_topk",
    _q150_oracle(),
    "The combined similarity-search production stack: IVF pruning "
    "(probe the 4 nearest of 16 md5-ordered centroids — with the "
    "persisted write_ivf_index layout this is parquet PARTITION "
    "pruning) × int8 quantized scoring (4× smaller column, exact "
    "integer dot products in the Arrow kernel) with the exact float "
    "cosine beside as the audit.  Read fewer rows AND smaller rows in "
    "one plan; the oracle replays q31's probe/assignment chain plus "
    "q146's quantization arithmetic end-to-end.",
    operators=("sim-ann-ivf", "sim-quantized", "O1"),
)
def q150(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    rest = emb.filter(col("vec_id") != 0)
    qvec = [
        float(x)
        for x in emb.filter(col("vec_id") == 0).select("embedding").head()[0]
    ]
    cents = similarity.ivf_centroids(rest, k=16)
    return similarity.ivf_quantized_topk(rest, qvec, cents, k=10, n_probe=4)


# ---------------------------------------------------------------------------
# q151 — triangle participation over the near-dup pair graph
# ---------------------------------------------------------------------------

_Q151_THRESHOLD = 0.3

_Q151_ORACLE = (
    f"WITH {_SHINGLE_CTES},\n"
    + _minhash_pair_ctes(_Q151_THRESHOLD)
    + """,
edges AS (SELECT doc_a AS u, doc_b AS v FROM mpairs),
deg AS (
    SELECT node, count(*) AS deg
    FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
    GROUP BY node
),
ranked AS (
    SELECT CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND u < v)
                THEN u ELSE v END AS lo,
           CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND u < v)
                THEN v ELSE u END AS hi
    FROM edges
    JOIN deg d1 ON u = d1.node
    JOIN deg d2 ON v = d2.node
),
wedges AS (
    SELECT w1.lo AS pv, w1.hi AS a, w2.hi AS b
    FROM ranked w1
    JOIN ranked w2 ON w1.lo = w2.lo AND w1.hi < w2.hi
),
tris AS (
    SELECT pv, a, b FROM wedges JOIN edges ON a = u AND b = v
),
per AS (
    SELECT node, count(*) AS n
    FROM (SELECT pv AS node FROM tris
          UNION ALL SELECT a FROM tris
          UNION ALL SELECT b FROM tris)
    GROUP BY node
)
SELECT deg.node AS node,
       CAST(deg.deg AS BIGINT) AS degree,
       CAST(coalesce(per.n, 0) AS BIGINT) AS n_triangles
FROM deg LEFT JOIN per ON deg.node = per.node
ORDER BY node
"""
)


@register(
    "q151_neardup_triangles",
    _Q151_ORACLE,
    "Triangle participation over the MinHash near-dup pair graph "
    "(threshold 0.3) — the cohesion diagnostic that separates true "
    "duplicate groups (members all pair with each other → many "
    "triangles) from boilerplate template stars (one hub, no closing "
    "edges).  Node-iterator++ orientation (Suri–Vassilvitskii): every "
    "edge points from its lower-(degree, id) endpoint, so each "
    "triangle is emitted by exactly one wedge and per-vertex wedge "
    "fan-out is bounded by the ORIENTED out-degree (≤ √|E|), killing "
    "the hub-key blowup of a raw adjacency self-join.  Three shuffles "
    "total; the oracle replays the md5 MinHash chain and the same "
    "orientation.",
    operators=("graph-triangles", "dedup-minhash-lsh", "J7"),
)
def q151(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import graph

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.near_dup_pairs(
        docs, "doc_id", "text", n=3, threshold=_Q151_THRESHOLD
    ).select("doc_a", "doc_b")
    return graph.triangle_count(pairs, "doc_a", "doc_b").orderBy("node")


# ---------------------------------------------------------------------------
# q152 — Neyman-allocated stratified sampling (variance-optimal budget)
# ---------------------------------------------------------------------------

_Q152_N = 200

_Q152_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang,
           1.0 * len(string_split_regex(lower(text), '\\s+')) AS v
    FROM documents
),
st AS (
    SELECT lang, count(*) AS n_pop,
           round(coalesce(stddev_samp(v), 0.0) + 1e-9, 6) AS s
    FROM t GROUP BY lang
),
tot AS (SELECT sum(n_pop * s) AS z FROM st),
alloc AS (
    SELECT lang, n_pop, s,
           CAST(least(greatest(floor({_Q152_N}.0 * n_pop * s / tot.z
                                     + 0.5 + 1e-9), 1), n_pop) AS BIGINT)
               AS n_alloc
    FROM st, tot
),
ranked AS (
    SELECT lang, v,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS rn
    FROM t
),
sampled AS (
    SELECT r.lang, r.v
    FROM ranked r JOIN alloc a ON r.lang = a.lang
    WHERE r.rn <= a.n_alloc
)
SELECT a.lang,
       CAST(a.n_pop AS BIGINT) AS n_pop,
       a.s AS stddev_tokens,
       a.n_alloc,
       round(avg(s2.v) + 1e-9, 6) AS sample_mean_tokens,
       round((SELECT avg(v) FROM t WHERE t.lang = a.lang) + 1e-9, 6)
           AS pop_mean_tokens
FROM alloc a JOIN sampled s2 ON a.lang = s2.lang
GROUP BY a.lang, a.n_pop, a.s, a.n_alloc
ORDER BY a.lang
"""


@register(
    "q152_neyman_stratified_sample",
    _Q152_ORACLE,
    "Neyman-optimal stratified sampling over the corpus (budget "
    f"{_Q152_N} docs, strata = lang, value = token count): allocate "
    "n_h ∝ N_h·S_h — the variance-minimizing split of a fixed "
    "measurement budget, the design-of-experiments companion to "
    "q131's Horvitz–Thompson estimation.  One |strata|-row aggregate "
    "+ a per-stratum hash-order rank window; selection is "
    "deterministic and layout-independent.  The report carries the "
    "population mean beside the realized sample mean per stratum — "
    "the allocation audit.",
    operators=("sample-neyman", "sample-stratified", "A5", "W2"),
)
def q152(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table_parallel(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", text.token_count("text").cast("double").alias("v")
    )
    samp = sampling.neyman_stratified_sample(t, "lang", "v", _Q152_N, "doc_id")
    pop = t.groupBy("lang").agg(rnd(F.avg("v"), 6).alias("pop_mean_tokens"))
    return (
        samp.groupBy("lang", "n_pop", "stddev_value", "n_alloc")
        .agg(rnd(F.avg("v"), 6).alias("sample_mean_tokens"))
        .join(pop, "lang")
        .select(
            "lang",
            "n_pop",
            col("stddev_value").alias("stddev_tokens"),
            "n_alloc",
            "sample_mean_tokens",
            "pop_mean_tokens",
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q153 — sketch-priced join: CM inner-product cardinality estimate
# ---------------------------------------------------------------------------

_Q153_D = 4
_Q153_W = 512


def _q153_cms_sql(src: str, key: str) -> str:
    """DuckDB twin of cms_partials(d=4, w=512, salt='cms') over a table."""
    return f"""(
    SELECT i.i AS row_i,
           ('0x' || substr(md5('cms:' || i.i || ':' || CAST({key} AS VARCHAR)),
                           1, 8))::BIGINT % {_Q153_W} AS bucket,
           count(*) AS cnt
    FROM {src} CROSS JOIN range({_Q153_D}) i(i)
    GROUP BY row_i, bucket
)"""


_Q153_ORACLE = f"""
WITH sa AS {_q153_cms_sql('orders', 'o_orderkey')},
sb AS {_q153_cms_sql('lineitem', 'l_orderkey')},
est AS (
    SELECT CAST(min(ip) AS BIGINT) AS join_size_estimate
    FROM (
        SELECT sa.row_i, sum(sa.cnt * sb.cnt) AS ip
        FROM sa JOIN sb ON sa.row_i = sb.row_i AND sa.bucket = sb.bucket
        GROUP BY sa.row_i
    )
),
truth AS (
    SELECT CAST(count(*) AS BIGINT) AS true_join_rows
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)
SELECT t.true_join_rows,
       e.join_size_estimate,
       round(1.0 * (e.join_size_estimate - t.true_join_rows)
             / t.true_join_rows + 1e-9, 6) AS rel_overestimate
FROM truth t CROSS JOIN est e
"""


@register(
    "q153_cms_join_cardinality",
    _Q153_ORACLE,
    "Optimizer-grade join pricing from sketches: the Count-Min "
    "inner-product estimator (Cormode–Muthukrishnan) prices "
    "|orders ⋈ lineitem| on the order key from two d=4×w=512 sketches "
    "— model-sized, mergeable across shards/days, so a catalog can "
    "keep per-column CM sketches and estimate candidate join "
    "cardinalities WITHOUT touching the fact tables.  Never "
    "underestimates (collision mass only adds); the registered row "
    "carries the exact join count beside the estimate as the realized "
    "error audit.  Bit-identical md5 cells cross-engine (the q66 "
    "chain), so even the approximation is hash-checked.",
    operators=("sketch-cms-join", "A1", "J7"),
)
def q153(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketch

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sa = sketch.cms_partials(orders, "o_orderkey", d=_Q153_D, w=_Q153_W)
    sb = sketch.cms_partials(li, "l_orderkey", d=_Q153_D, w=_Q153_W)
    est = sketch.cms_join_size(sa, sb)
    truth = (
        orders.join(li, col("o_orderkey") == col("l_orderkey"))
        .agg(F.count("*").cast("long").alias("true_join_rows"))
    )
    return truth.crossJoin(F.broadcast(est)).select(
        "true_join_rows",
        "join_size_estimate",
        rnd(
            (col("join_size_estimate") - col("true_join_rows"))
            / col("true_join_rows"),
            6,
        ).alias("rel_overestimate"),
    )


# ---------------------------------------------------------------------------
# q154 — HLL distinct-key overlap: semi-join selectivity from the catalog
# ---------------------------------------------------------------------------

_Q154_B = 9


def _q154_oracle() -> str:
    from ..operators.sketch import _alpha

    m = 2**_Q154_B
    w_bits = 32 - _Q154_B
    alpha = _alpha(m)

    def regs(name: str, src: str, key: str) -> str:
        return f"""{name} AS (
    SELECT hv // {2**w_bits} AS bucket,
           max(CASE WHEN hv % {2**w_bits} = 0 THEN {w_bits + 1}
                    ELSE instr(lpad(bin(hv % {2**w_bits}), {w_bits}, '0'), '1')
               END) AS rho
    FROM (SELECT ('0x' || substr(md5('hll' || CAST({key} AS VARCHAR)), 1, 8))::BIGINT AS hv
          FROM {src})
    GROUP BY bucket
)"""

    def est(name: str, regs_name: str) -> str:
        return f"""{name} AS (
    SELECT CASE WHEN raw <= CAST({2.5 * m!r} AS DOUBLE) AND used < {m}
                THEN CAST({float(m)!r} AS DOUBLE)
                     * ln(CAST({float(m)!r} AS DOUBLE) / ({m} - used))
                ELSE raw END AS hll
    FROM (SELECT count(*) AS used,
                 CAST({alpha * m * m!r} AS DOUBLE)
                     / (({m} - count(*)) + sum(pow(2.0, -rho))) AS raw
          FROM {regs_name})
)"""

    return f"""
WITH {regs('ra', 'orders', 'o_custkey')},
{regs('rb', 'customer', 'c_custkey')},
ru AS (
    SELECT bucket, max(rho) AS rho
    FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
    GROUP BY bucket
),
{est('ea', 'ra')},
{est('eb', 'rb')},
{est('eu', 'ru')},
truth AS (
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS true_overlap
    FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT round(ea.hll + 1e-9, 4) AS distinct_order_custkeys,
       round(eb.hll + 1e-9, 4) AS distinct_customers,
       round(greatest(ea.hll + eb.hll - eu.hll, 0.0) + 1e-9, 4)
           AS overlap_estimate,
       t.true_overlap,
       round(abs(greatest(ea.hll + eb.hll - eu.hll, 0.0) - t.true_overlap)
             / t.true_overlap + 1e-9, 6) AS rel_error
FROM ea CROSS JOIN eb CROSS JOIN eu CROSS JOIN truth t
"""


@register(
    "q154_hll_key_overlap",
    _q154_oracle(),
    "Semi-join selectivity from the catalog: inclusion–exclusion on "
    "portable HyperLogLog registers estimates how many DISTINCT "
    "customer keys actually appear in orders — |A∩B| ≈ est(A)+est(B)"
    "−est(A∪B), the union sketch an exact max-merge of the two "
    "register tables.  The companion to q153's CM row-count pricing: "
    "together they let a planner bound both the output rows and the "
    "key-match selectivity of a candidate join from model-sized, "
    "incrementally-maintained sketches — no fact scan.  Exact truth "
    "rides beside the estimate as the realized-error audit; registers "
    "are bit-identical cross-engine (the q54 chain).",
    operators=("sketch-hll-overlap", "sketch-hll", "A2"),
)
def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketch

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    pa = sketch.hll_partials(orders, "o_custkey", [], b=_Q154_B)
    pb = sketch.hll_partials(cust, "c_custkey", [], b=_Q154_B)
    ov = sketch.hll_overlap(pa, pb, b=_Q154_B)
    truth = (
        orders.join(cust, col("o_custkey") == col("c_custkey"))
        .agg(F.count_distinct("o_custkey").cast("long").alias("true_overlap"))
    )
    return ov.crossJoin(F.broadcast(truth)).select(
        rnd(col("distinct_a"), 4).alias("distinct_order_custkeys"),
        rnd(col("distinct_b"), 4).alias("distinct_customers"),
        rnd(col("overlap_estimate"), 4).alias("overlap_estimate"),
        "true_overlap",
        rnd(
            F.abs(col("overlap_estimate") - col("true_overlap"))
            / col("true_overlap"),
            6,
        ).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# q155 — k-anonymity audit of quasi-identifier combinations
# ---------------------------------------------------------------------------

_Q155_K = 5

_Q155_ORACLE = f"""
WITH classes AS (
    SELECT source, lang,
           CAST(least(len(string_split_regex(lower(text), '\\s+')) // 50, 8)
                AS BIGINT) AS len_bucket,
           count(*) AS k
    FROM documents
    GROUP BY source, lang, len_bucket
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(k * count(*) AS BIGINT) AS n_rows,
       k < {_Q155_K} AS below_threshold
FROM classes
GROUP BY k
ORDER BY k
"""


@register(
    "q155_k_anonymity_audit",
    _Q155_ORACLE,
    "k-anonymity audit — the privacy review PII regex-scrubbing (q53) "
    "cannot do: even with direct identifiers redacted, a document is "
    "re-identifiable when its QUASI-identifier combination (source × "
    "lang × 50-token length bucket) is rare.  Reports the full "
    "k-distribution (class sizes, class counts, row mass, below-"
    f"threshold flag at k<{_Q155_K}) from one hash aggregate on the "
    "quasi key + a bounded second aggregate over the class-size frame "
    "— group count ≪ rows for any sane quasi set, so the audit is "
    "scan-bound at 100 TB.",
    operators=("privacy-k-anonymity", "A1", "A8"),
)
def q155(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import redact

    docs = load_table_parallel(spark, sf_dir, "documents")
    quasi = docs.select(
        "source",
        "lang",
        F.least(F.floor(text.token_count("text") / lit(50)), lit(8))
        .cast("long")
        .alias("len_bucket"),
    )
    return redact.k_anonymity_report(
        quasi, ["source", "lang", "len_bucket"], k_threshold=_Q155_K
    )


# ---------------------------------------------------------------------------
# q156 — mergeable quantile sketch (dyadic histogram partials)
# ---------------------------------------------------------------------------

_Q156_S = 5          # 2^5 sub-buckets per octave → ≤ 3.1% relative error
_Q156_SCALE = 100.0  # precision=2: cents-exact scaled integers
_Q156_QS_SQL = ", ".join(
    f"CAST('{q}' AS DOUBLE)" for q in ("0.5", "0.9", "0.99")
)

_Q156_ORACLE = f"""
WITH vals AS (
    SELECT l_returnflag AS grp,
           CAST(floor(l_extendedprice * {_Q156_SCALE} + 0.5 + 1e-9) AS BIGINT)
               AS v
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL
),
bucketed AS (
    SELECT grp,
           CASE WHEN v < 0 THEN -(abs(v) - (abs(v) % w))
                ELSE abs(v) - (abs(v) % w) END AS bucket
    FROM (
        SELECT grp, v,
               (1::BIGINT << greatest(length(bin(abs(v))) - {1 + _Q156_S}, 0))
                   AS w
        FROM vals
    )
),
partials AS (
    SELECT grp, bucket, CAST(count(*) AS BIGINT) AS cnt
    FROM bucketed
    GROUP BY grp, bucket
),
bounds AS (
    SELECT grp, bucket, cnt,
           CASE WHEN bucket < 0
                THEN -CAST(abs(bucket) + w2 AS DOUBLE)
                ELSE CAST(bucket AS DOUBLE) END AS lo,
           CAST(w2 AS DOUBLE) AS wd
    FROM (
        SELECT grp, bucket, cnt,
               (1::BIGINT
                << greatest(length(bin(abs(bucket))) - {1 + _Q156_S}, 0))
                   AS w2
        FROM partials
    )
),
cum AS (
    SELECT grp, bucket, cnt, lo, lo + wd AS hi,
           sum(cnt) OVER (PARTITION BY grp ORDER BY lo) AS cum,
           sum(cnt) OVER (PARTITION BY grp) AS n
    FROM bounds
),
hit AS (
    SELECT grp, q, cnt, lo, hi, cum, n,
           row_number() OVER (PARTITION BY grp, q ORDER BY lo) AS rn
    FROM cum, (SELECT unnest([{_Q156_QS_SQL}]) AS q) qs
    WHERE CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE)
),
est AS (
    SELECT grp, q, CAST(n AS BIGINT) AS n_rows,
           round((lo + (hi - lo) * (q * CAST(n AS DOUBLE)
                                    - CAST(cum - cnt AS DOUBLE))
                       / CAST(cnt AS DOUBLE)) / {_Q156_SCALE} + 1e-9, 6)
               AS q_est
    FROM hit WHERE rn = 1
),
exact AS (
    SELECT l_returnflag AS grp, q,
           round(ex + 1e-9, 6) AS q_exact
    FROM (
        SELECT l_returnflag,
               unnest([{_Q156_QS_SQL}]) AS q,
               unnest(quantile_cont(l_extendedprice,
                                    [{_Q156_QS_SQL}])) AS ex
        FROM lineitem
        GROUP BY l_returnflag
    )
)
SELECT est.grp AS l_returnflag, est.q AS q, est.n_rows, est.q_est,
       exact.q_exact,
       round((est.q_est - exact.q_exact) / exact.q_exact + 1e-9, 6)
           AS rel_err
FROM est JOIN exact ON est.grp = exact.grp AND est.q = exact.q
ORDER BY l_returnflag, est.q
"""


@register(
    "q156_quantile_sketch",
    _Q156_ORACLE,
    "Mergeable QUANTILE partials — the missing member of the catalog-"
    "statistics sketch family (HLL distincts q54, CMS frequencies "
    "q66/q153, Bloom membership q91): per-group dyadic-histogram "
    "bucket tables (HdrHistogram's integer layout, chosen over "
    "DDSketch's ln-buckets because bit-length/shift/mod are exact in "
    "every engine while ln is not correctly-rounded identically) that "
    "sum-merge across shards/days with merge == whole EXACTLY, so "
    "p50/p90/p99 questions stop costing a data pass once partials are "
    "maintained incrementally.  2^5 sub-buckets per octave bound the "
    "relative error at 3.1%; the exact interpolated percentile rides "
    "beside the estimate as the error audit (the q146 cos_exact "
    "posture).  The oracle replays the integer bucket chain bit-for-"
    "bit and the same cumulative walk.",
    operators=("sketch-quantile", "A6", "W2"),
)
def q156(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketch

    li = load_table_parallel(spark, sf_dir, "lineitem")
    part = sketch.qhist_partials(
        li, "l_extendedprice", ["l_returnflag"], precision=2, s=_Q156_S
    )
    est = sketch.qhist_quantiles(
        part, ["l_returnflag"], [0.5, 0.9, 0.99], precision=2, s=_Q156_S
    )
    qarr = F.array(lit(0.5), lit(0.9), lit(0.99))
    exact = (
        li.groupBy("l_returnflag")
        .agg(F.percentile("l_extendedprice", qarr).alias("ex"))
        .select(
            "l_returnflag",
            F.posexplode("ex").alias("pos", "ex_v"),
        )
        .select(
            "l_returnflag",
            F.element_at(qarr, col("pos") + 1).alias("q"),
            rnd(col("ex_v"), 6).alias("q_exact"),
        )
    )
    return (
        est.join(exact, ["l_returnflag", "q"])
        .select(
            "l_returnflag",
            "q",
            col("n_rows"),
            "q_est",
            "q_exact",
            rnd((col("q_est") - col("q_exact")) / col("q_exact"), 6).alias(
                "rel_err"
            ),
        )
        .orderBy("l_returnflag", "q")
    )


# ---------------------------------------------------------------------------
# q157 — vocab-capped Kneser–Ney (KenLM's bounded-model deployment shape)
# ---------------------------------------------------------------------------

_Q157_CAP = 20


def _q157_oracle() -> str:
    """q148's oracle with the model vocabulary capped to the top-20
    unigrams (count desc, token asc) and every other token — model AND
    eval side — mapped to '<unk>' AT THE BIGRAM LEVEL via vocab joins
    (exactly how the Spark operator maps __prev/__cur; DuckDB forbids
    subqueries inside list lambdas): the entire KN chain (discount,
    continuation backoff, T/V) then runs verbatim on the mapped
    streams — q148's text with CTEs spliced in (the _q141_oracle
    tail-splice pattern)."""
    inject = f""",
uni AS (
    SELECT t, count(*) AS c
    FROM (SELECT unnest(tk) AS t FROM m)
    GROUP BY t
),
vocab AS (
    SELECT t FROM (
        SELECT t, row_number() OVER (ORDER BY c DESC, t) AS r FROM uni
    ) WHERE r <= {_Q157_CAP}
)"""
    map_mbig = """,
mbig AS (
    SELECT prev || ' ' || cur AS bigram, prev, cur
    FROM (
        SELECT CASE WHEN vp.t IS NOT NULL THEN raw.prev ELSE '<unk>' END
                   AS prev,
               CASE WHEN vc.t IS NOT NULL THEN raw.cur ELSE '<unk>' END
                   AS cur
        FROM mbig_raw raw
        LEFT JOIN vocab vp ON raw.prev = vp.t
        LEFT JOIN vocab vc ON raw.cur = vc.t
    )
),
"""
    map_ebig = """,
ebig AS (
    SELECT doc_id, source, nb, prev || ' ' || cur AS bigram, prev, cur
    FROM (
        SELECT raw.doc_id, raw.source, raw.nb,
               CASE WHEN vp.t IS NOT NULL THEN raw.prev ELSE '<unk>' END
                   AS prev,
               CASE WHEN vc.t IS NOT NULL THEN raw.cur ELSE '<unk>' END
                   AS cur
        FROM ebig_raw raw
        LEFT JOIN vocab vp ON raw.prev = vp.t
        LEFT JOIN vocab vc ON raw.cur = vc.t
    )
),
"""
    v_capped = (
        "(SELECT count(DISTINCT CASE WHEN v2.t IS NOT NULL THEN u.t"
        " ELSE '<unk>' END)\n"
        "            FROM (SELECT unnest(tk) AS t FROM m) u\n"
        "            LEFT JOIN vocab v2 ON u.t = v2.t) AS V"
    )
    body = _Q148_ORACLE
    body = body.replace("),\nmbig AS (", f"){inject},\nmbig_raw AS (", 1)
    body = body.replace("),\nc2 AS (SELECT bigram", f"){map_mbig}c2 AS (SELECT bigram", 1)
    body = body.replace(
        "(SELECT count(DISTINCT t) FROM (SELECT unnest(tk) AS t FROM m)) AS V",
        v_capped,
    )
    body = body.replace("),\nebig AS (", "),\nebig_raw AS (", 1)
    body = body.replace("),\nscored AS (", f"){map_ebig}scored AS (", 1)
    return body


@register(
    "q157_kneser_ney_vocab_capped",
    _q157_oracle(),
    "q148's Kneser–Ney filter in KenLM's actual DEPLOYMENT shape: the "
    f"model vocabulary is capped to the top-{_Q157_CAP} unigrams "
    "(count desc, token asc — the pick plans as TakeOrderedAndProject, "
    "never a global window) and every out-of-vocab token on BOTH sides "
    "maps to a single '<unk>' class before bigram construction, so the "
    "model is bounded BY CONSTRUCTION (≤ (V+1)² bigram types) no "
    "matter how large the held-out corpus grows — the structural "
    "complement to the round-9 broadcast-cap join gate.  The oracle "
    "splices the vocab pick + mapping into q148's SQL and replays the "
    "identical KN chain on the mapped streams.",
    operators=("lm-kneser-ney", "lm-vocab-cap", "J-broadcast", "A3"),
)
def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import lm

    docs = load_table(spark, sf_dir, "documents")
    en = docs.filter(col("lang") == "en")
    model = en.filter(col("source").isin(*_Q138_MODEL_SRC))
    ev = en.filter(~col("source").isin(*_Q138_MODEL_SRC))
    scored = lm.kneser_ney_perplexity(
        ev, ["doc_id", "source"], model, vocab_cap=_Q157_CAP
    ).select(
        "doc_id",
        "source",
        rnd(col("log_ppl"), 6).alias("log_ppl"),
        rnd(col("n_unseen").cast("double") / col("n_bigrams"), 6).alias(
            "unseen_rate"
        ),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            rnd(F.avg("log_ppl"), 6).alias("avg_log_ppl"),
            rnd(F.max("log_ppl"), 6).alias("max_log_ppl"),
            rnd(F.avg("unseen_rate"), 6).alias("avg_unseen_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q158 — semantic (embedding-level) decontamination
# ---------------------------------------------------------------------------

_Q158_TH = "CAST('0.35' AS DOUBLE)"
_Q158_THF = 0.35

#: the benchmark is FIXED BY CONSTRUCTION (an eval suite does not grow
#: with the training corpus): label-9 vectors from the base id range.
#: At the driver SFs this is every label-9 row (ids < 2000); under the
#: BENCH_SCALE fixture — which replicates ALL labels with shifted ids —
#: it keeps the bench constant while the corpus grows, matching the
#: operator's deployment premise (a growing-bench probe conflates
#: corpus growth with benchmark growth: measured 21.9x at 10x before
#: this pin, 2-3x after).
_Q158_BENCH_MAX_ID = 2000

_Q158_ORACLE = f"""
WITH b AS (
    SELECT vec_id AS bid, CAST(embedding AS DOUBLE[]) AS bv
    FROM embeddings WHERE label = 9 AND vec_id < {_Q158_BENCH_MAX_ID}
),
c AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
    FROM embeddings
    WHERE label IS NOT NULL
      AND (label <> 9 OR vec_id >= {_Q158_BENCH_MAX_ID})
),
scored AS (
    SELECT c.vec_id, b.bid,
           round(list_cosine_similarity(cv, bv) + 1e-9, 6) AS cos
    FROM c CROSS JOIN b
),
best AS (
    SELECT vec_id, cos, bid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, bid) AS rn
    FROM scored
)
SELECT vec_id,
       cos AS max_cos,
       CAST(bid AS BIGINT) AS nearest_bench,
       cos >= {_Q158_TH} AS contaminated
FROM best
WHERE rn = 1
ORDER BY vec_id
"""


@register(
    "q158_semantic_decontamination",
    _Q158_ORACLE,
    "Embedding-level decontamination — the leak detector the n-gram "
    "gate (q50/q76) cannot be: paraphrased, translated, or templated "
    "eval items share no 4-gram with the corpus but sit cosine-close "
    "in embedding space.  One population (label 9) plays the benchmark "
    "suite; every other vector reports its max cosine + nearest bench "
    f"id + a contamination flag at {_Q158_THF}.  The bench matrix "
    "rides the round-9 reference-corpus broadcast gate (over-cap "
    "raises toward the IVF/LSH shortlist path instead of silently "
    "shuffling corpus×bench), and the max/argmax is a PARTIAL-"
    "aggregable min(struct(-cos, bid)) — the shuffle carries |corpus| "
    "rows, never the pair volume a per-id window would move.  Cosines "
    "are rounded BigDecimal-exact before the max.  Oracle replays the "
    "rounded cosines and the same tie-break.",
    operators=("decontam-semantic", "similarity-brute", "A3", "J1"),
)
def q158(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import decontam

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    bench = emb.filter(
        (col("label") == 9) & (col("vec_id") < _Q158_BENCH_MAX_ID)
    )
    corpus = emb.filter(
        col("label").isNotNull()
        & ((col("label") != 9) | (col("vec_id") >= _Q158_BENCH_MAX_ID))
    )
    return decontam.semantic_contamination(
        corpus, bench, threshold=_Q158_THF
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# q159 — hybrid BM25 + vector retrieval, reciprocal-rank fusion
# ---------------------------------------------------------------------------

_Q159_POOL = 25
_Q159_K = 10
_Q159_C = 60


def _q159_oracle() -> str:
    from ..operators.retrieval import B, K1

    terms = ", ".join(f"'{t}'" for t in _Q57_TERMS)
    return f"""
WITH q AS (
    SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
lengths AS (
    SELECT doc_id, len(string_split_regex(lower(text), '\\s+')) AS dl
    FROM documents
),
const AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lengths),
hits AS (
    SELECT doc_id, token, count(*) AS tf
    FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS token
        FROM documents
    )
    WHERE token IN ({terms})
    GROUP BY doc_id, token
),
dfreq AS (SELECT token, count(DISTINCT doc_id) AS df_t FROM hits GROUP BY token),
lexscore AS (
    SELECT h.doc_id,
           round(sum(
               ln(1.0 + (c.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
               * h.tf * {K1 + 1.0!r}
               / (h.tf + {K1!r} * (1.0 - {B!r} + {B!r} * l.dl / c.avgdl))
           ) + 1e-9, 6) AS s
    FROM hits h
    JOIN dfreq d ON h.token = d.token
    JOIN lengths l ON h.doc_id = l.doc_id
    CROSS JOIN const c
    GROUP BY h.doc_id
),
lexr AS (
    SELECT doc_id, r AS lex_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY s DESC, doc_id) AS r
        FROM lexscore
    ) WHERE r <= {_Q159_POOL}
),
vecs AS (
    SELECT vec_id AS doc_id,
           round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                        (SELECT qv FROM q)) + 1e-9, 6) AS s
    FROM embeddings WHERE vec_id <> 0
),
vecr AS (
    SELECT doc_id, r AS vec_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY s DESC, doc_id) AS r
        FROM vecs
    ) WHERE r <= {_Q159_POOL}
)
SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
       CAST(l.lex_rank AS BIGINT) AS lex_rank,
       CAST(v.vec_rank AS BIGINT) AS vec_rank,
       round(coalesce(CAST(1.0 AS DOUBLE) / ({_Q159_C} + l.lex_rank),
                      CAST(0.0 AS DOUBLE))
             + coalesce(CAST(1.0 AS DOUBLE) / ({_Q159_C} + v.vec_rank),
                        CAST(0.0 AS DOUBLE)) + 1e-9, 9) AS rrf
FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
ORDER BY rrf DESC, doc_id
LIMIT {_Q159_K}
"""


@register(
    "q159_hybrid_rrf_retrieval",
    _q159_oracle(),
    "Hybrid retrieval — the standard two-tower RAG stack: BM25 (q57's "
    "lexical ranking) and brute cosine (q26's vector ranking) fused by "
    "reciprocal-rank fusion (Cormack & Clarke: Σ 1/(60 + rank) over "
    f"each system's top-{_Q159_POOL}).  RRF fuses RANKS, so the "
    "incomparable score scales never need calibration.  Each side "
    "keeps its own scale shape (IN-filtered explode / "
    "TakeOrderedAndProject); fusion touches only the two pool-sized "
    "rank lists — a full outer join of ≤ 2·pool rows, ranks assigned "
    "by a bounded window ABOVE the TakeOrdered (the q69/q124 "
    "posture).  Oracle replays both rankings and the fused ordering.",
    operators=("retrieval-hybrid-rrf", "retrieval-bm25",
               "similarity-brute", "O1"),
)
def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import retrieval

    docs = load_table_parallel(spark, sf_dir, "documents")
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(col("vec_id") == 0).select("embedding").head()[0]
    ]
    return retrieval.hybrid_rrf(
        docs,
        emb,
        list(_Q57_TERMS),
        qvec,
        k=_Q159_K,
        pool=_Q159_POOL,
        c=_Q159_C,
        exclude_ids=(0,),
    )


# ---------------------------------------------------------------------------
# q160–q162 — index-quality audits: the approximate paths (hyperplane-LSH
# ANN, IVF ANN, MinHash-LSH near-dup candidates) measured in-engine against
# exact ground truth.  The production indexes are only as good as their
# recall, and recall DRIFTS as the corpus grows/shifts — these are the
# monitoring queries a deployment schedules, not one-off pytest facts.
# The audit query PANEL is fixed by construction (q158's fixed-benchmark
# premise): a panel that grew with the corpus would turn the brute
# ground-truth pass into corpus × corpus.
# ---------------------------------------------------------------------------

#: fixed audit panel: every 25th vector of the BASE id range — 20 queries
#: at sf0.01+, constant across scale factors (and under BENCH_SCALE).
_AUDIT_PANEL_SQL = "vec_id % 25 = 0 AND vec_id < 500"

#: multiprobe masks for Hamming ≤ 1 over the 8 shared planes
_Q160_MASKS = [0] + [1 << i for i in range(8)]

_AUDIT_REPORT_SQL = """
nc AS (SELECT query_id, count(*) AS n_candidates FROM cand GROUP BY query_id),
nt AS (SELECT query_id, count(*) AS n_truth FROM brute GROUP BY query_id),
h AS (
    SELECT t.query_id, count(*) AS n_hits
    FROM brute t
    JOIN approx a ON t.query_id = a.query_id AND t.vec_id = a.vec_id
    GROUP BY t.query_id
)
SELECT q.query_id,
       CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(nt.n_truth, 0) AS BIGINT) AS n_truth,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(1.0 * coalesce(h.n_hits, 0)
             / nullif(coalesce(nt.n_truth, 0), 0) + 1e-9, 6) AS recall
FROM qs q
LEFT JOIN nc ON q.query_id = nc.query_id
LEFT JOIN nt ON q.query_id = nt.query_id
LEFT JOIN h ON q.query_id = h.query_id
ORDER BY q.query_id
"""

_Q160_ORACLE = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
qs AS (
    SELECT vec_id AS query_id, v AS qv FROM e WHERE {_AUDIT_PANEL_SQL}
),
b AS (
    SELECT vec_id, v, {{bucket_v}} AS bucket FROM e
),
qb AS (
    SELECT query_id, qv, {{bucket_qv}} AS qbucket FROM qs
),
probes AS (
    SELECT query_id, qv, xor(qbucket, m.m) AS bucket
    FROM qb CROSS JOIN (SELECT unnest({_Q160_MASKS}) AS m) m
),
cand AS (
    SELECT p.query_id, b.vec_id, b.v, p.qv
    FROM probes p JOIN b ON b.bucket = p.bucket
    WHERE b.vec_id <> p.query_id
),
approx AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY round(list_cosine_similarity(v, qv) + 1e-9, 6) DESC,
                            vec_id) AS rn
        FROM cand
    ) WHERE rn <= 10
),
brute AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(e.v, q.qv) + 1e-9, 6) DESC,
                            e.vec_id) AS rn
        FROM qs q JOIN e ON e.vec_id <> q.query_id
    ) WHERE rn <= 10
),
{_AUDIT_REPORT_SQL}
"""


@register(
    "q160_lsh_recall_audit",
    _Q160_ORACLE.format(
        bucket_v=_bucket_sql("v"), bucket_qv=_bucket_sql("qv")
    ),
    "Recall@10 of the hyperplane-LSH ANN probe (8 shared planes, "
    "multiprobe Hamming ≤ 1 — q30's candidate rule) against brute-force "
    "truth for a FIXED 20-query panel, in one plan.  This is the "
    "index-health monitor a deployment schedules: hyperplane recall "
    "decays as the corpus drifts away from the planes' implicit "
    "partition, and the per-query report is the re-seed/widen-probe "
    "signal.  Scale shape: the multiprobe expansion is DATA (panel × 9 "
    "masks, broadcast) equi-joined on the bucket — the production "
    "partition-pruned probe, never a Hamming theta-join; the brute pass "
    "is one corpus scan × |panel| map-side scores with per-query top-k "
    "taken partition-locally first (no per-query shuffle "
    "concentration).  Oracle replays buckets from the shared plane "
    "literals, both rank lists at the 6-dp rounding grain, and the "
    "recall arithmetic.",
    operators=("sim-ann-lsh", "audit-recall", "W2", "J8"),
)
def q160(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    panel = emb.filter((col("vec_id") % 25 == 0) & (col("vec_id") < 500))
    return similarity.lsh_recall_audit(
        emb, panel, _PLANES_8x64, k=10, multiprobe_bits=1
    )


_Q161_SAMPLE_N = 300

_Q161_ORACLE = f"""
WITH sampled AS (
    SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (
                   ORDER BY ('0x' || substr(md5('gate' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                            / 4294967296.0,
                            doc_id
               ) AS rn
        FROM documents)
    WHERE rn <= {_Q161_SAMPLE_N}
),
toks AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
    FROM sampled
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                  i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS shingle
    FROM toks
),
sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a
    JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
),
truth AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE 1.0 * n_common / (sa.n_shingles + sb.n_shingles - n_common)
          >= {_Q25_THRESHOLD}
),
mh AS (
    SELECT doc_id, k,
           min(substr(md5((k // 4) || ':' || shingle), (k % 4) * 8 + 1, 8)) AS h
    FROM sh CROSS JOIN range(16) r(k)
    GROUP BY doc_id, k
),
sig AS (
    SELECT doc_id, list(h ORDER BY k) AS signature FROM mh GROUP BY doc_id
),
banded AS (
    SELECT doc_id, b,
           md5(array_to_string(list_slice(signature, b * 4 + 1, b * 4 + 4), ',')) AS bucket
    FROM sig CROSS JOIN range(4) rb(b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM banded a
    JOIN banded b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
),
m AS (
    SELECT (SELECT count(*) FROM truth) AS n_true,
           (SELECT count(*) FROM cand) AS n_candidates,
           (SELECT count(*)
            FROM truth t JOIN cand c
              ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hits
)
SELECT CAST(n_true AS BIGINT) AS n_true,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_hits AS BIGINT) AS n_hits,
       round(1.0 * n_hits / nullif(n_candidates, 0) + 1e-9, 6) AS cand_precision,
       round(1.0 * n_hits / nullif(n_true, 0) + 1e-9, 6) AS cand_recall
FROM m
"""


@register(
    "q161_near_dup_gate_audit",
    _Q161_ORACLE,
    "Candidate-generator audit for the MinHash-LSH near-dup gate: "
    "precision AND recall of the RAW banded candidate set (q28's bands, "
    "pre-verification) against exact 3-gram-Jaccard ≥ 0.5 ground truth "
    "(q25's pair set), in one plan.  The production gate's precision is "
    "structural (it verifies candidates exactly) but its RECALL loss — "
    "a true pair the bands never co-bucket — is invisible to the gate "
    "itself; this is the periodic re-measurement, run on a BOUNDED "
    "deterministic sample: the 300 docs with the smallest md5 hash "
    "fractions (sampling.hash_top_n — fixed SIZE, so the shingle "
    "self-join truth side stays flat as the corpus grows; the audit "
    "itself fail-closes on any source whose size estimate exceeds its "
    "budget).  One row: candidate volume, band waste (cand_precision) "
    "and band miss rate (cand_recall).  Three single-row aggregates "
    "cross-joined (scalar-cross shape); oracle replays the md5-order "
    "sample, both pair sets, and the ratios.",
    operators=("dedup-minhash-lsh", "dedup-jaccard", "audit-recall", "A11"),
)
def q161(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    sample = sampling.hash_top_n(
        docs.select("doc_id", "text"), "doc_id", _Q161_SAMPLE_N, salt="gate"
    )
    return dedup.near_dup_gate_audit(
        sample, "doc_id", "text", n=3, threshold=_Q25_THRESHOLD,
        num_hashes=16, bands=4,
    )


_Q162_ORACLE = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
qs AS (
    SELECT vec_id AS query_id, v AS qv FROM e WHERE {_AUDIT_PANEL_SQL}
),
cents AS (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
           v AS cv
    FROM e
    ORDER BY md5(CAST(vec_id AS VARCHAR))
    LIMIT 16
),
probe AS (
    SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(c.cv, q.qv) + 1e-9, 6) DESC,
                            c.cid) AS rn
        FROM qs q CROSS JOIN cents c
    ) WHERE rn <= 4
),
assigned AS (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(c.cv, e.v) DESC, c.cid) AS rn
        FROM e CROSS JOIN cents c
    ) WHERE rn = 1
),
cand AS (
    SELECT p.query_id, a.vec_id, a.v, q.qv
    FROM probe p
    JOIN assigned a ON a.cid = p.cid
    JOIN qs q ON q.query_id = p.query_id
    WHERE a.vec_id <> p.query_id
),
approx AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY round(list_cosine_similarity(v, qv) + 1e-9, 6) DESC,
                            vec_id) AS rn
        FROM cand
    ) WHERE rn <= 10
),
brute AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(e.v, q.qv) + 1e-9, 6) DESC,
                            e.vec_id) AS rn
        FROM qs q JOIN e ON e.vec_id <> q.query_id
    ) WHERE rn <= 10
),
{_AUDIT_REPORT_SQL}
"""


@register(
    "q162_ivf_recall_audit",
    _Q162_ORACLE,
    "Recall@10 of the IVF ANN probe (16 md5-ordered centroids, probe 4 "
    "— q31's candidate rule) against brute-force truth for the same "
    "fixed 20-query panel.  The n_probe TUNING signal: the per-query "
    "report says directly whether the current probe width still clears "
    "the recall bar as the corpus grows.  The per-query probe list is "
    "derived in-plan (row_number over the 16 centroid cosines at the "
    "6-dp rounding grain, tie-broken on cid — replayable cross-engine, "
    "not raw-double bit parity), exploded and equi-joined against the "
    "centroid-assigned corpus: candidate generation is the production "
    "partition-pruned read.  Oracle re-derives centroids, assignment, "
    "probe lists, both rank lists, and the recall arithmetic.",
    operators=("sim-ann-ivf", "audit-recall", "W2", "J8"),
)
def q162(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    panel = emb.filter((col("vec_id") % 25 == 0) & (col("vec_id") < 500))
    cents = similarity.ivf_centroids(emb, k=16)
    return similarity.ivf_recall_audit(emb, panel, cents, k=10, n_probe=4)


# ---------------------------------------------------------------------------
# q163 — incremental EMBEDDING near-dup refresh (q147's story, semantic side)
# ---------------------------------------------------------------------------

_Q163_TH = 0.3

_Q163_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
b AS (
    SELECT vec_id, v, {{bucket_v}} AS bucket FROM e
),
cand AS (
    SELECT DISTINCT a.vec_id AS bd, s.vec_id AS sd
    FROM b a
    JOIN b s ON a.bucket = s.bucket
    WHERE a.vec_id % 3 = 0 AND s.vec_id % 3 <> 0
),
vcross AS (
    SELECT DISTINCT bd
    FROM cand
    JOIN e a ON bd = a.vec_id
    JOIN e s ON sd = s.vec_id
    WHERE round(list_cosine_similarity(a.v, s.v) + 1e-9, 6) >= {_Q163_TH}
),
bcand AS (
    SELECT DISTINCT a.vec_id AS da, s.vec_id AS db
    FROM b a
    JOIN b s ON a.bucket = s.bucket
    WHERE a.vec_id % 3 = 0 AND s.vec_id % 3 = 0 AND a.vec_id < s.vec_id
),
vbatch AS (
    SELECT DISTINCT db
    FROM bcand
    JOIN e a ON da = a.vec_id
    JOIN e s ON db = s.vec_id
    WHERE round(list_cosine_similarity(a.v, s.v) + 1e-9, 6) >= {_Q163_TH}
),
status AS (
    SELECT e.label,
           CASE WHEN vc.bd IS NOT NULL THEN 'dup_vs_corpus'
                WHEN vb.db IS NOT NULL THEN 'dup_in_batch'
                ELSE 'new' END AS status
    FROM e
    LEFT JOIN vcross vc ON e.vec_id = vc.bd
    LEFT JOIN vbatch vb ON e.vec_id = vb.db
    WHERE e.vec_id % 3 = 0
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_batch,
       CAST(sum(CASE WHEN status = 'dup_vs_corpus' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_vs_corpus,
       CAST(sum(CASE WHEN status = 'dup_in_batch' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_in_batch,
       CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new
FROM status
GROUP BY label
ORDER BY label
"""


@register(
    "q163_incremental_embedding",
    _Q163_ORACLE.format(bucket_v=_bucket_sql("v")),
    "q147's incremental corpus refresh on the SEMANTIC side: the new "
    "batch (vec_id%3=0) is classified per label as dup_vs_corpus / "
    "dup_in_batch / new by hyperplane-LSH candidates + cosine ≥ 0.3 "
    "verification against the standing vectors — the refresh gate for "
    "leaks lexical bands can't see (paraphrases, re-encodes).  The "
    "standing corpus contributes its (doc, bucket) index — the "
    "artifact embedding_bucket_table persists — plus the vectors of "
    "CANDIDATE matches only (left-semi prune before the verify join), "
    "so join/shuffle volume is O(batch + matches); the standing side "
    "is touched only by the index read and one column-pruned vector "
    "fetch.  The oracle replays the shared plane literals, both "
    "candidate joins, and the 6-dp-rounded verification.",
    operators=("dedup-incremental", "dedup-embedding-cosine", "J8", "A4"),
)
def q163(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    batch = emb.filter(col("vec_id") % 3 == 0)
    standing = emb.filter(col("vec_id") % 3 != 0)
    return dedup.incremental_embedding_report(
        batch, standing, _PLANES_8x64, "label", threshold=_Q163_TH
    )


# ---------------------------------------------------------------------------
# q164 — audit → REMEDIATION menu: centroid re-train / probe widening (IVF)
# and plane re-centering / re-seed (LSH), before/after on drifted fixtures
# ---------------------------------------------------------------------------

_Q164_OFF = 10_000_000


def _q164_ivf_cand(tag: str, corpus: str, qs: str, cents: str, n_probe: int) -> str:
    """One IVF candidate chain (q162's probe/assign rules) under a
    given centroid set and probe width — emitted per configuration."""
    return f"""
probe_{tag} AS (
    SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(c.cv, q.qv) + 1e-9, 6) DESC,
                            c.cid) AS rn
        FROM {qs} q CROSS JOIN {cents} c
    ) WHERE rn <= {n_probe}
),
assigned_{tag} AS (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(c.cv, e.v) DESC, c.cid) AS rn
        FROM {corpus} e CROSS JOIN {cents} c
    ) WHERE rn = 1
),
cand_{tag} AS (
    SELECT p.query_id, a.vec_id, a.v, q.qv
    FROM probe_{tag} p
    JOIN assigned_{tag} a ON a.cid = p.cid
    JOIN {qs} q ON q.query_id = p.query_id
    WHERE a.vec_id <> p.query_id
)"""


def _q164_lsh_cand(tag: str, corpus: str, qs: str, vexpr: str = "v",
                   qexpr: str = "qv") -> str:
    """One LSH candidate chain (q160's probe rule) under the shared
    literal planes; ``vexpr``/``qexpr`` select which vector column the
    BUCKETS are computed over (the re-centered config buckets on the
    mean-shifted twin column while scoring stays on the raw vectors)."""
    return f"""
b_{tag} AS (SELECT vec_id, v, {_bucket_sql(vexpr)} AS bucket FROM {corpus}),
qb_{tag} AS (SELECT query_id, qv, {_bucket_sql(qexpr)} AS qbucket FROM {qs}),
probes_{tag} AS (
    SELECT query_id, qv, xor(qbucket, m.m) AS bucket
    FROM qb_{tag} CROSS JOIN (SELECT unnest({_Q160_MASKS}) AS m) m
),
cand_{tag} AS (
    SELECT p.query_id, b.vec_id, b.v, p.qv
    FROM probes_{tag} p JOIN b_{tag} b ON b.bucket = p.bucket
    WHERE b.vec_id <> p.query_id
)"""


def _q164_tail(tag: str, corpus: str, qs: str) -> str:
    """Approx/brute rank lists + per-query recall report for one
    configuration (the _AUDIT_REPORT_SQL shape, suffixed)."""
    return f"""
approx_{tag} AS (
    SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY round(list_cosine_similarity(v, qv) + 1e-9, 6) DESC,
                            vec_id) AS rn
        FROM cand_{tag}
    ) WHERE rn <= 10
),
brute_{tag} AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(e.v, q.qv) + 1e-9, 6) DESC,
                            e.vec_id) AS rn
        FROM {qs} q JOIN {corpus} e ON e.vec_id <> q.query_id
    ) WHERE rn <= 10
),
rep_{tag} AS (
    SELECT q.query_id,
           coalesce(nc.n_candidates, 0) AS n_candidates,
           round(1.0 * coalesce(h.n_hits, 0)
                 / nullif(coalesce(nt.n_truth, 0), 0) + 1e-9, 6) AS recall
    FROM {qs} q
    LEFT JOIN (SELECT query_id, count(*) AS n_candidates
               FROM cand_{tag} GROUP BY query_id) nc
           ON q.query_id = nc.query_id
    LEFT JOIN (SELECT query_id, count(*) AS n_truth
               FROM brute_{tag} GROUP BY query_id) nt
           ON q.query_id = nt.query_id
    LEFT JOIN (SELECT t.query_id, count(*) AS n_hits
               FROM brute_{tag} t JOIN approx_{tag} a
                 ON t.query_id = a.query_id AND t.vec_id = a.vec_id
               GROUP BY t.query_id) h
           ON q.query_id = h.query_id
)"""


def _q164_summary(tag: str, family: str, config: str) -> str:
    return f"""
    SELECT '{family}' AS family, '{config}' AS config,
           CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(recall) + 1e-9, 6) AS mean_recall,
           round(avg(n_candidates) + 1e-9, 6) AS mean_candidates
    FROM rep_{tag}"""


_Q164_KM_CTES, _Q164_KM_AF = _kmeans_ctes(
    16, 2, vsql="SELECT vec_id, v FROM perm", prefix="km"
)

_Q164_ORACLE = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
perm AS (
    SELECT vec_id, v FROM e
    UNION ALL
    SELECT vec_id + {_Q164_OFF} AS vec_id,
           list_transform(range(1, 65), i -> v[(i + 6) % 64 + 1]) AS v
    FROM e
),
cone AS (
    SELECT vec_id, v FROM e
    UNION ALL
    SELECT vec_id + {_Q164_OFF} AS vec_id,
           list_transform(v, x -> x + 0.5) AS v
    FROM e
),
qs_pre AS (
    SELECT vec_id AS query_id, v AS qv FROM e
    WHERE vec_id % 25 = 0 AND vec_id < 500
),
qs_perm AS (
    SELECT vec_id AS query_id, v AS qv FROM perm
    WHERE vec_id >= {_Q164_OFF} AND vec_id % 25 = 0 AND vec_id < {_Q164_OFF + 500}
),
qs_cone AS (
    SELECT vec_id AS query_id, v AS qv FROM cone
    WHERE vec_id >= {_Q164_OFF} AND vec_id % 25 = 0 AND vec_id < {_Q164_OFF + 500}
),
cents_stale AS (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
           v AS cv
    FROM e
    ORDER BY md5(CAST(vec_id AS VARCHAR))
    LIMIT 16
),
{_Q164_KM_CTES},
cents_km AS (
    SELECT cid, c AS cv FROM kmc2
),
mu AS (
    SELECT list(m ORDER BY pos) AS m
    FROM (
        SELECT u.pos AS pos, round(avg(u.x) + 1e-9, 6) AS m
        FROM (SELECT unnest(list_transform(range(1, 65),
                     i -> {{'pos': i, 'x': v[i]}})) AS u
              FROM cone) q
        GROUP BY u.pos
    ) p
),
conec AS (
    SELECT c.vec_id, c.v,
           list_transform(range(1, 65), i -> c.v[i] - mu.m[i]) AS vcent
    FROM cone c CROSS JOIN mu
),
qs_conec AS (
    SELECT q.query_id, q.qv,
           list_transform(range(1, 65), i -> q.qv[i] - mu.m[i]) AS qvcent
    FROM qs_cone q CROSS JOIN mu
),
seed_rs AS (
    SELECT rn, v FROM (
        SELECT row_number() OVER (
                   ORDER BY md5('reseed' || CAST(vec_id AS VARCHAR)), vec_id
               ) - 1 AS rn,
               v
        FROM cone
    ) WHERE rn < 16
),
planes_rs AS (
    SELECT CAST(a.rn // 2 AS INT) AS pidx,
           list_transform(range(1, 65), i -> a.v[i] - b.v[i]) AS pv
    FROM seed_rs a JOIN seed_rs b ON b.rn = a.rn + 1 AND a.rn % 2 = 0
),
bf_rs AS (
    SELECT c.vec_id,
           sum(CASE WHEN list_dot_product(c.v, p.pv) > 0
                    THEN (1::BIGINT << p.pidx) ELSE 0 END) AS bucket
    FROM cone c CROSS JOIN planes_rs p GROUP BY c.vec_id
),
b_lsh_rs AS (
    SELECT c.vec_id, c.v, bf_rs.bucket FROM cone c JOIN bf_rs USING (vec_id)
),
qbf_rs AS (
    SELECT q.query_id,
           sum(CASE WHEN list_dot_product(q.qv, p.pv) > 0
                    THEN (1::BIGINT << p.pidx) ELSE 0 END) AS qbucket
    FROM qs_cone q CROSS JOIN planes_rs p GROUP BY q.query_id
),
probes_lsh_rs AS (
    SELECT q.query_id, q.qv, xor(qbf_rs.qbucket, m.m) AS bucket
    FROM qs_cone q
    JOIN qbf_rs USING (query_id)
    CROSS JOIN (SELECT unnest({_Q160_MASKS}) AS m) m
),
cand_lsh_rs AS (
    SELECT p.query_id, b.vec_id, b.v, p.qv
    FROM probes_lsh_rs p JOIN b_lsh_rs b ON b.bucket = p.bucket
    WHERE b.vec_id <> p.query_id
),{_q164_ivf_cand("ivf_pre", "e", "qs_pre", "cents_stale", 4)},{_q164_tail("ivf_pre", "e", "qs_pre")},{_q164_ivf_cand("ivf_st", "perm", "qs_perm", "cents_stale", 4)},{_q164_tail("ivf_st", "perm", "qs_perm")},{_q164_ivf_cand("ivf_rt", "perm", "qs_perm", "cents_km", 4)},{_q164_tail("ivf_rt", "perm", "qs_perm")},{_q164_ivf_cand("ivf_wd", "perm", "qs_perm", "cents_stale", 8)},{_q164_tail("ivf_wd", "perm", "qs_perm")},{_q164_lsh_cand("lsh_pre", "e", "qs_pre")},{_q164_tail("lsh_pre", "e", "qs_pre")},{_q164_lsh_cand("lsh_st", "cone", "qs_cone")},{_q164_tail("lsh_st", "cone", "qs_cone")},{_q164_lsh_cand("lsh_rc", "conec", "qs_conec", "vcent", "qvcent")},{_q164_tail("lsh_rc", "cone", "qs_cone")},{_q164_tail("lsh_rs", "cone", "qs_cone")}
SELECT * FROM (
{_q164_summary("ivf_pre", "ivf", "pre_drift")}
    UNION ALL
{_q164_summary("ivf_st", "ivf", "stale")}
    UNION ALL
{_q164_summary("ivf_rt", "ivf", "retrained")}
    UNION ALL
{_q164_summary("ivf_wd", "ivf", "widened_probe")}
    UNION ALL
{_q164_summary("lsh_pre", "lsh", "pre_drift")}
    UNION ALL
{_q164_summary("lsh_st", "lsh", "stale")}
    UNION ALL
{_q164_summary("lsh_rc", "lsh", "recentered")}
    UNION ALL
{_q164_summary("lsh_rs", "lsh", "reseeded")}
)
ORDER BY family, config
"""


@register(
    "q164_recall_remediation",
    _Q164_ORACLE,
    "Closes the audit → remediation loop q160/q162 open: when the "
    "index-health audit alarms, this is the MENU a deployment prices — "
    "per family, the pre-drift operating point, the post-drift stale "
    "index, and each remediation lever with recall@10 AND candidate "
    "volume (the two health axes) in one report.  Fixtures are built "
    "in-plan: an orthogonal coordinate rotation (scrambles stale IVF "
    "assignment — recall decays 0.50→0.415 while volume holds) and a "
    "common-mode +0.5 shift (collapses the corpus into a cone that "
    "origin-crossing planes stop splitting — scan fraction melts "
    "19→451 candidates/query).  IVF levers: centroid RE-TRAIN (Lloyd "
    "k-means on the drifted corpus, q62's oracle-exact trajectory) "
    "recovers recall at unchanged cost; probe WIDENING (4→8) recovers "
    "past pre-drift at 2x scan.  LSH levers: RE-CENTERING (buckets on "
    "v − mean at the 6-dp grain, scoring untouched) restores pruning; "
    "RE-SEED with data-aware difference planes (translation-invariant, "
    "md5-sampled pairs) prices the alternative.  Each family's configs "
    "share ONE brute-truth pass (pinned).  Oracle replays "
    "both drift transforms, the k-means trajectory, the mean, the "
    "derived planes, all eight candidate rules, and the recall "
    "arithmetic at the 6-dp grain.",
    operators=(
        "audit-recall", "remediate-retrain", "remediate-reseed",
        "remediate-recenter", "sim-ann-lsh", "sim-ann-ivf", "W2", "J8",
    ),
)
def q164(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cluster

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", col("embedding").cast("array<double>").alias("embedding")
    )
    base_panel = base.filter((col("vec_id") % 25 == 0) & (col("vec_id") < 500))
    # IVF fixture: orthogonal coordinate rotation — neighbour structure
    # is exactly preserved, but stale-centroid assignment becomes
    # incoherent w.r.t. the rotated region (the classic IVF drift mode)
    perm = base.unionByName(
        base.select(
            (col("vec_id") + _Q164_OFF).alias("vec_id"),
            F.expr(
                "transform(sequence(1, 64), i -> "
                "element_at(embedding, CAST((i + 6) % 64 + 1 AS INT)))"
            ).alias("embedding"),
        )
    ).transform(pin)
    perm_panel = perm.filter(
        (col("vec_id") >= _Q164_OFF)
        & (col("vec_id") % 25 == 0)
        & (col("vec_id") < _Q164_OFF + 500)
    )
    # LSH fixture: common-mode +0.5 shift — the drifted region collapses
    # into a cone, so origin-crossing random planes stop separating it
    cone = base.unionByName(
        base.select(
            (col("vec_id") + _Q164_OFF).alias("vec_id"),
            F.transform("embedding", lambda x: x + F.lit(0.5)).alias("embedding"),
        )
    ).transform(pin)
    cone_panel = cone.filter(
        (col("vec_id") >= _Q164_OFF)
        & (col("vec_id") % 25 == 0)
        & (col("vec_id") < _Q164_OFF + 500)
    )
    stale_c = similarity.ivf_centroids(base, k=16)
    _, km = cluster.kmeans_fit(perm, "vec_id", "embedding", k=16, iters=2)
    km_c = [(i, c) for i, c in enumerate(km)]
    mu = similarity.corpus_mean(cone, "embedding")
    fresh_p = similarity.data_aware_planes(cone, n_planes=8, salt="reseed")
    parts = [
        similarity.audit_summary(
            similarity.ivf_recall_audit(base, base_panel, stale_c, k=10, n_probe=4),
            "ivf",
            "pre_drift",
        ),
        similarity.ivf_remediation_report(
            perm,
            perm_panel,
            [
                ("stale", stale_c, 4),
                ("retrained", km_c, 4),
                ("widened_probe", stale_c, 8),
            ],
            k=10,
        ),
        similarity.audit_summary(
            similarity.lsh_recall_audit(
                base, base_panel, _PLANES_8x64, k=10, multiprobe_bits=1
            ),
            "lsh",
            "pre_drift",
        ),
        similarity.lsh_remediation_report(
            cone,
            cone_panel,
            [
                ("stale", _PLANES_8x64, 1, None),
                ("recentered", _PLANES_8x64, 1, mu),
                ("reseeded", fresh_p, 1, None),
            ],
            k=10,
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("family", "config")


# ---------------------------------------------------------------------------
# q165 — incremental IVF index maintenance: frozen-centroid append staleness
# ---------------------------------------------------------------------------

_Q165_ORACLE = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END AS app
    FROM embeddings
),
cents AS (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
           v AS cv
    FROM e
    WHERE app = 0
    ORDER BY md5(CAST(vec_id AS VARCHAR))
    LIMIT 16
),
assigned AS (
    SELECT vec_id, app, cid, round(cc + 1e-9, 6) AS ccos FROM (
        SELECT e.vec_id, e.app, c.cid,
               list_cosine_similarity(c.cv, e.v) AS cc,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(c.cv, e.v) DESC, c.cid) AS rn
        FROM e CROSS JOIN cents c
    ) WHERE rn = 1
),
agg AS (
    SELECT cid,
           CAST(sum(1 - app) AS BIGINT) AS n_resident,
           CAST(sum(app) AS BIGINT) AS n_appended,
           round(avg(CASE WHEN app = 0 THEN ccos END) + 1e-9, 6)
               AS mean_cos_resident,
           round(avg(CASE WHEN app = 1 THEN ccos END) + 1e-9, 6)
               AS mean_cos_appended
    FROM assigned
    GROUP BY cid
)
SELECT cid, n_resident, n_appended, mean_cos_resident, mean_cos_appended,
       round(mean_cos_resident - mean_cos_appended + 1e-9, 6) AS cos_drift
FROM agg
ORDER BY cid
"""


@register(
    "q165_ivf_staleness",
    _Q165_ORACLE,
    "Incremental IVF index maintenance, the q163 contract on the IVF "
    "side: new vectors (vec_id%3=0) are appended to the persisted "
    "bucket-partitioned index under the FROZEN centroid set "
    "(append_ivf_index — assign + mode=append into the existing "
    "ivf_bucket= partition dirs, O(batch), residents never rewritten; "
    "persisted==rebuilt equivalence is pytest-gated), and this report "
    "prices what freezing costs: per centroid, occupancy and mean "
    "assigned-cosine of residents vs appends, with cos_drift = "
    "resident − appended as the RETRAIN alarm (q164's lever) — appends "
    "landing in cells whose centroid no longer represents them is the "
    "assignment incoherence that melts probe recall.  One scan with "
    "the K-cosine array per row (broadcast literal centroids, no "
    "join), K-sized output.  Oracle replays the frozen training draw, "
    "the assignment, and the per-flag means at the 6-dp grain.",
    operators=("sim-ann-ivf", "dedup-incremental", "audit-recall", "A4"),
)
def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    standing = emb.filter(col("vec_id") % 3 != 0)
    batch = emb.filter(col("vec_id") % 3 == 0)
    cents = similarity.ivf_centroids(standing, k=16)
    return similarity.ivf_staleness_report(standing, batch, cents)


# ---------------------------------------------------------------------------
# q167 — b-bit minwise hashing: the MinHash index's storage-compression tier
# ---------------------------------------------------------------------------

_Q167_B = 1

_Q167_ORACLE = f"""
WITH {_SHINGLE_CTES},
mh AS (
    SELECT doc_id, k,
           min(substr(md5((k // 4) || ':' || shingle), (k % 4) * 8 + 1, 8)) AS h
    FROM sh CROSS JOIN range(16) r(k)
    GROUP BY doc_id, k
),
sig AS (
    SELECT doc_id, list(h ORDER BY k) AS signature FROM mh GROUP BY doc_id
),
packed AS (
    SELECT doc_id, signature,
           list_sum(list_transform(range(1, 17),
               i -> (('0x' || substr(signature[i], 8, 1))::BIGINT % {1 << _Q167_B})
                    * (1::BIGINT << ({_Q167_B} * (i - 1))))) AS pk
    FROM sig
),
banded AS (
    SELECT doc_id, b,
           md5(array_to_string(list_slice(signature, b * 4 + 1, b * 4 + 4), ',')) AS bucket
    FROM sig CROSS JOIN range(4) rb(b)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
    FROM banded a
    JOIN banded b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
),
est AS (
    SELECT doc_a, doc_b,
           round(1.0 * len(list_filter(range(1, 17),
                                       i -> sa.signature[i] = sb.signature[i]))
                 / 16 + 1e-9, 6) AS est_full,
           round((1.0 * len(list_filter(range(1, 17),
                     i -> ((xor(sa.pk, sb.pk) >> ({_Q167_B} * (i - 1)))
                           & {(1 << _Q167_B) - 1}) = 0))
                  / 16 - {1.0 / (1 << _Q167_B)}) / {1.0 - 1.0 / (1 << _Q167_B)}
                 + 1e-9, 6) AS est_bbit
    FROM cand
    JOIN packed sa ON doc_a = sa.doc_id
    JOIN packed sb ON doc_b = sb.doc_id
),
docsh AS (
    SELECT doc_id, list(shingle) AS shset FROM sh GROUP BY doc_id
),
exact AS (
    SELECT doc_a, doc_b,
           round(1.0 * len(list_intersect(sa.shset, sb.shset))
                 / (len(sa.shset) + len(sb.shset)
                    - len(list_intersect(sa.shset, sb.shset))) + 1e-9, 6) AS ex_j
    FROM cand
    JOIN docsh sa ON doc_a = sa.doc_id
    JOIN docsh sb ON doc_b = sb.doc_id
)
SELECT CAST(least(floor(ex_j * 5), 4) AS BIGINT) AS exact_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(ex_j) + 1e-9, 6) AS avg_exact,
       round(avg(est_full) + 1e-9, 6) AS avg_est_full,
       round(avg(est_bbit) + 1e-9, 6) AS avg_est_bbit,
       round(avg(est_full - ex_j) + 1e-9, 6) AS bias_full,
       round(avg(est_bbit - ex_j) + 1e-9, 6) AS bias_bbit
FROM est
JOIN exact USING (doc_a, doc_b)
GROUP BY exact_bucket
ORDER BY exact_bucket
"""


@register(
    "q167_bbit_minwise_calibration",
    _Q167_ORACLE,
    "b-bit minwise hashing (Li & Koenig): the MinHash dedup index "
    "compressed one more tier — each 16-component hex signature packs "
    "to 16 bits (16x smaller index; pair comparison = one XOR + "
    "bit-group count instead of 16 string equalities) with Jaccard "
    "recovered by the unbiased inversion (c - 1/2)/(1 - 1/2).  q95's "
    "calibration report extended: on the LSH candidate pairs, exact "
    "shingle Jaccard vs the full-signature estimate vs the 1-bit "
    "estimate, bucketed by exact — the variance-vs-storage decision "
    "a 100 TB dedup run makes before committing to the compressed "
    "tier.  Exact verification stays LSH-bounded.  Oracle replays the "
    "md5 signature chain, the bit packing, both estimators, and the "
    "bucketed report.",
    operators=("dedup-minhash-lsh", "sketch-calibration", "sketch-compression", "A4"),
)
def q167(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.bbit_calibration(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, b=_Q167_B
    )


# ---------------------------------------------------------------------------
# q168 — dimension-truncation recall ladder (the matryoshka question)
# ---------------------------------------------------------------------------

_Q168_DIMS = (64, 32, 16, 8)


def _q168_rung(d: int) -> str:
    """One truncation rung: approx ranks on the first d dims, recall
    measured against the shared full-dim truth."""
    return f"""
approx_d{d} AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(
                                list_slice(e.v, 1, {d}),
                                list_slice(q.qv, 1, {d})) + 1e-9, 6) DESC,
                            e.vec_id) AS rn
        FROM qs q JOIN e ON e.vec_id <> q.query_id
    ) WHERE rn <= 10
),
rep_d{d} AS (
    SELECT q.query_id,
           (SELECT count(*) FROM e WHERE e.vec_id <> q.query_id) AS n_candidates,
           round(1.0 * coalesce(h.n_hits, 0)
                 / nullif(coalesce(nt.n_truth, 0), 0) + 1e-9, 6) AS recall
    FROM qs q
    LEFT JOIN (SELECT query_id, count(*) AS n_truth
               FROM brute GROUP BY query_id) nt
           ON q.query_id = nt.query_id
    LEFT JOIN (SELECT t.query_id, count(*) AS n_hits
               FROM brute t JOIN approx_d{d} a
                 ON t.query_id = a.query_id AND t.vec_id = a.vec_id
               GROUP BY t.query_id) h
           ON q.query_id = h.query_id
)"""


_Q168_ORACLE = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
qs AS (
    SELECT vec_id AS query_id, v AS qv FROM e WHERE {_AUDIT_PANEL_SQL}
),
brute AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(e.v, q.qv) + 1e-9, 6) DESC,
                            e.vec_id) AS rn
        FROM qs q JOIN e ON e.vec_id <> q.query_id
    ) WHERE rn <= 10
),{",".join(_q168_rung(d) for d in _Q168_DIMS)}
SELECT * FROM (
{" UNION ALL ".join(
    f'''
    SELECT 'trunc' AS family, 'dim_{d:03d}' AS config,
           CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(recall) + 1e-9, 6) AS mean_recall,
           round(avg(n_candidates) + 1e-9, 6) AS mean_candidates
    FROM rep_d{d}''' for d in _Q168_DIMS)}
)
ORDER BY family, config
"""


@register(
    "q168_truncation_recall_ladder",
    _Q168_ORACLE,
    "Dimension-truncation recall ladder (the matryoshka-embedding "
    "question): brute-force recall@10 when similarity is scored on "
    "only the first d of 64 coordinates, for d in 64/32/16/8, against "
    "full-dimension truth — the third axis of the ANN storage/IO "
    "ladder after int8 (q146, 4x) and 1-bit (q149, 64x): a d-prefix "
    "scan reads 64/d-fold fewer vector bytes with NO index at all, and "
    "this report prices each rung's recall cost before a corpus "
    "commits to a prefix width.  d=64 is the built-in sanity rung "
    "(recall 1.0 by construction).  One fail-closed fixed panel, ONE "
    "shared full-dim truth pass (pinned), one corpus scan per "
    "rung, two-stage per-query top-k.  Oracle replays the slices, all "
    "rank lists at the 6-dp grain, and the ladder report.",
    operators=("sim-ann-truncation", "audit-recall", "sim-quantized", "W2"),
)
def q168(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    panel = emb.filter((col("vec_id") % 25 == 0) & (col("vec_id") < 500))
    return similarity.truncation_recall_audit(
        emb, panel, list(_Q168_DIMS), k=10
    )


# ---------------------------------------------------------------------------
# q169 — length-bucketed batching: the padding-waste curve
# ---------------------------------------------------------------------------

_Q169_CAP = 512
_Q169_BUCKETS = (1, 2, 4, 8, 16)

_Q169_ORACLE = f"""
WITH lens AS (
    SELECT doc_id AS id,
           least(len(string_split_regex(lower(text), '\\s+')), {_Q169_CAP}) AS l
    FROM documents
),
ranked AS (
    SELECT id, l,
           row_number() OVER (ORDER BY l, id) AS rn,
           count(*) OVER () AS n
    FROM lens
),
curve AS (
    {" UNION ALL ".join(f'''
    SELECT {nb}::BIGINT AS n_buckets, pb.* FROM (
        SELECT CAST(sum(cnt) AS BIGINT) AS n_docs,
               CAST(sum(useful) AS BIGINT) AS useful_tokens,
               CAST(sum(pad * cnt) AS BIGINT) AS padded_tokens
        FROM (
            SELECT floor((rn - 1) * {nb} / n) AS bucket,
                   max(l) AS pad, count(*) AS cnt, sum(l) AS useful
            FROM ranked GROUP BY bucket
        )
    ) pb''' for nb in _Q169_BUCKETS)}
)
SELECT n_buckets, n_docs, useful_tokens, padded_tokens,
       round(100.0 * (padded_tokens - useful_tokens) / padded_tokens + 1e-9, 4)
           AS waste_pct
FROM curve
ORDER BY n_buckets
"""


@register(
    "q169_padding_efficiency_curve",
    _Q169_ORACLE,
    "Length-bucketed batching knob-sizing: for bucket counts 1/2/4/8/16, "
    "sort docs by capped whitespace-token length, split the sorted "
    "order into equal-rank buckets, pad each doc to its bucket max, and "
    "report the padded-token overhead — B=1 is the pad-to-global-max "
    "baseline and the curve prices how much padding each extra bucket "
    "buys back (the standard train-loader efficiency decision).  Ranks "
    "come from the two-pass global_row_number (range shuffle, never a "
    "single-partition window), the total count rides a broadcast 1-row "
    "frame, and every rung aggregates the SAME ranked frame "
    "(pinned) — no re-scan per B.  Oracle replays the capped "
    "lengths, the rank bucketing, and the waste arithmetic.",
    operators=("packing-buckets", "layout-rank", "A10", "S15"),
)
def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import packing, text

    docs = load_table(spark, sf_dir, "documents")
    return packing.padding_efficiency_curve(
        docs.select("doc_id", text.token_count("text").alias("n_toks")),
        "doc_id",
        "n_toks",
        seq_cap=_Q169_CAP,
        bucket_counts=list(_Q169_BUCKETS),
    )


# ---------------------------------------------------------------------------
# q170 — the UNION decontamination gate (lexical n-gram + semantic cosine)
# ---------------------------------------------------------------------------

_Q170_N = 4
_Q170_TH = "CAST('0.3' AS DOUBLE)"
_Q170_THF = 0.3
#: the benchmark side is FIXED (q158's premise): every 50th doc of the
#: BASE id range plays the eval suite, pinned so BENCH_SCALE fixtures
#: grow the corpus without growing the benchmark (a fixed-fraction
#: bench would make the semantic brute pass corpus x bench = quadratic
#: under scaling — measured 3.3x at 10x before the pin)
_Q170_BENCH_MAX_ID = 5000

_Q170_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
g AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(tk) - {_Q170_N - 1}, 1) + 1),
               i -> array_to_string(list_slice(tk, i, i + {_Q170_N - 1}), ' ')))) AS g
    FROM t
),
bgrams AS (SELECT DISTINCT g FROM g
            WHERE doc_id % 50 = 0 AND doc_id < {_Q170_BENCH_MAX_ID}),
lex AS (
    SELECT DISTINCT doc_id FROM g
    WHERE NOT (doc_id % 50 = 0 AND doc_id < {_Q170_BENCH_MAX_ID})
      AND g IN (SELECT g FROM bgrams)
),
bv AS (
    SELECT vec_id AS bid, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings
    WHERE vec_id % 50 = 0 AND vec_id < {_Q170_BENCH_MAX_ID}
),
cv AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings
    WHERE NOT (vec_id % 50 = 0 AND vec_id < {_Q170_BENCH_MAX_ID})
),
sem AS (
    SELECT vec_id FROM (
        SELECT cv.vec_id,
               max(round(list_cosine_similarity(cv.v, bv.v) + 1e-9, 6)) AS mc
        FROM cv CROSS JOIN bv
        GROUP BY cv.vec_id
    ) WHERE mc >= {_Q170_TH}
),
flagged AS (
    SELECT t.lang,
           CASE WHEN t.doc_id IN (SELECT doc_id FROM lex) THEN 1 ELSE 0 END AS l,
           CASE WHEN t.doc_id IN (SELECT vec_id FROM sem) THEN 1 ELSE 0 END AS s
    FROM t
    WHERE NOT (t.doc_id % 50 = 0 AND t.doc_id < {_Q170_BENCH_MAX_ID})
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_train,
       CAST(sum(l) AS BIGINT) AS n_lexical,
       CAST(sum(s) AS BIGINT) AS n_semantic,
       CAST(sum(l * s) AS BIGINT) AS n_both,
       CAST(sum(greatest(l, s)) AS BIGINT) AS n_either,
       round(100.0 * (count(*) - sum(greatest(l, s))) / count(*) + 1e-9, 4)
           AS clean_pct
FROM flagged
GROUP BY lang
ORDER BY lang
"""


@register(
    "q170_contamination_union_gate",
    _Q170_ORACLE,
    "The decontamination gate a pipeline actually SHIPS: the lexical "
    f"{_Q170_N}-gram detector (q50 — verbatim leaks) and the semantic "
    f"max-cosine detector (q158 — paraphrases, threshold {_Q170_THF}) "
    "run over the SAME corpus (every 50th doc of the BASE id range "
    "plays the benchmark — pinned so the eval suite stays FIXED as the "
    "corpus scales, q158's premise; its "
    "embedding row is the semantic bench side), with the per-language "
    "verdict overlap in one report — semantic-only volume says the "
    "n-gram gate under-filters, lexical-only volume says the embedding "
    "threshold under-recalls verbatim text.  Both detectors keep their "
    "scale contracts (broadcast-gated bench sides, no corpus shuffle "
    "in the lexical probe, partial-aggregable semantic max); the "
    "verdict join is two id-sized flag left-joins.  Oracle replays "
    "both detectors and the overlap arithmetic.",
    operators=("decontam-ngram", "decontam-semantic", "J8", "A4"),
)
def q170(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import decontam

    docs = load_table_parallel(spark, sf_dir, "documents")
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    bench_doc = (col("doc_id") % 50 == 0) & (col("doc_id") < _Q170_BENCH_MAX_ID)
    bench_vec = (col("vec_id") % 50 == 0) & (col("vec_id") < _Q170_BENCH_MAX_ID)
    return decontam.contamination_union_report(
        docs.filter(~bench_doc),
        docs.filter(bench_doc),
        emb.filter(~bench_vec),
        emb.filter(bench_vec),
        n=_Q170_N,
        threshold=_Q170_THF,
    )


# ---------------------------------------------------------------------------
# q171 — adaptive IVF probe width (cosine-gap rule) vs the fixed knob
# ---------------------------------------------------------------------------

_Q171_DELTA = 0.15

_Q171_ORACLE = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
qs AS (
    SELECT vec_id AS query_id, v AS qv FROM e WHERE {_AUDIT_PANEL_SQL}
),
cents AS (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
           v AS cv
    FROM e
    ORDER BY md5(CAST(vec_id AS VARCHAR))
    LIMIT 16
),{_q164_ivf_cand("fx", "e", "qs", "cents", 4)},{_q164_tail("fx", "e", "qs")},
probe_ad AS (
    SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               round(list_cosine_similarity(c.cv, q.qv) + 1e-9, 6) AS qcos,
               max(round(list_cosine_similarity(c.cv, q.qv) + 1e-9, 6))
                   OVER (PARTITION BY q.query_id) AS best,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(c.cv, q.qv) + 1e-9, 6) DESC,
                            c.cid) AS rn
        FROM qs q CROSS JOIN cents c
    ) WHERE qcos >= best - {_Q171_DELTA} AND rn <= 16
),
assigned_ad AS (
    SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(c.cv, e.v) DESC, c.cid) AS rn
        FROM e CROSS JOIN cents c
    ) WHERE rn = 1
),
cand_ad AS (
    SELECT p.query_id, a.vec_id, a.v, q.qv
    FROM probe_ad p
    JOIN assigned_ad a ON a.cid = p.cid
    JOIN qs q ON q.query_id = p.query_id
    WHERE a.vec_id <> p.query_id
),{_q164_tail("ad", "e", "qs")}
SELECT * FROM (
{_q164_summary("fx", "ivf_probe", "fixed_4")}
    UNION ALL
{_q164_summary("ad", "ivf_probe", f"adaptive_{_Q171_DELTA}")}
)
ORDER BY family, config
"""


@register(
    "q171_adaptive_ivf_probe",
    _Q171_ORACLE,
    "Per-query ADAPTIVE IVF probe width vs the global fixed knob, "
    "priced on the shared panel against one brute-truth pass: the "
    "adaptive rule probes every centroid whose (6-dp-rounded) query "
    f"cosine sits within {_Q171_DELTA} of that query's best cell — a "
    "query landing squarely inside one cell probes few, a boundary "
    "query widens itself, so scan cost follows per-query AMBIGUITY "
    "instead of the worst case (the per-query version of the knob "
    "q162's recall audit says to widen and q164's menu prices "
    "globally).  On this isotropic fixture the two rules meet at a "
    "similar recall/cost point — the report is the tuning instrument, "
    "replayable cross-engine because the gap rule compares rounded "
    "cosines only.  Candidate generation stays the production "
    "partition-pruned equi-join; the rank cap (<=16) bounds the blast "
    "radius of a flat cosine profile.",
    operators=("sim-ann-ivf", "audit-recall", "W2", "J8"),
)
def q171(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    panel = emb.filter((col("vec_id") % 25 == 0) & (col("vec_id") < 500))
    cents = similarity.ivf_centroids(emb, k=16)
    return similarity.ivf_adaptive_probe_report(
        emb, panel, cents, fixed_n_probe=4, delta=_Q171_DELTA, k=10
    ).orderBy("family", "config")


# ---------------------------------------------------------------------------
# q172 — hard-negative mining for contrastive retrieval training
# ---------------------------------------------------------------------------

_Q172_M = 8
_Q172_K = 3

from ..operators.retrieval import B, K1  # noqa: E402 — oracle literals

_Q172_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM documents
),
lengths AS (SELECT doc_id AS d, len(tk) AS dl FROM t),
const AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lengths),
atoks AS (
    SELECT doc_id AS qid, unnest(list_distinct(tk)) AS token FROM t
    WHERE doc_id % 25 = 0 AND doc_id < 500
),
ctoks AS (
    SELECT doc_id AS d, unnest(tk) AS token FROM t
),
ctoks_f AS (
    SELECT d, token FROM ctoks
    WHERE token IN (SELECT DISTINCT token FROM atoks)
),
dfreq AS (SELECT token, count(DISTINCT d) AS df_t FROM ctoks_f GROUP BY token),
sel AS (
    SELECT qid, token, df_t FROM (
        SELECT a.qid, a.token, f.df_t,
               row_number() OVER (
                   PARTITION BY a.qid
                   ORDER BY round(ln(1.0 + (c.n_docs - f.df_t + 0.5)
                                     / (f.df_t + 0.5)) + 1e-9, 6) DESC,
                            a.token) AS rn
        FROM atoks a JOIN dfreq f ON a.token = f.token CROSS JOIN const c
    ) WHERE rn <= {_Q172_M}
),
hits AS (
    SELECT d, token, count(*) AS tf FROM ctoks_f
    WHERE token IN (SELECT DISTINCT token FROM sel)
    GROUP BY d, token
),
scored AS (
    SELECT s.qid, h.d,
           round(sum(
               ln(1.0 + (c.n_docs - s.df_t + 0.5) / (s.df_t + 0.5))
               * h.tf * {K1 + 1.0!r}
               / (h.tf + {K1!r} * (1.0 - {B!r} + {B!r} * l.dl / c.avgdl))
           ) + 1e-9, 6) AS score
    FROM hits h
    JOIN sel s ON h.token = s.token
    JOIN lengths l ON h.d = l.d
    CROSS JOIN const c
    GROUP BY s.qid, h.d
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
                  i -> array_to_string(list_slice(tk, i, i + 2), ' ')))) AS shingle
    FROM t
),
mh AS (
    SELECT doc_id, k,
           min(substr(md5((k // 4) || ':' || shingle), (k % 4) * 8 + 1, 8)) AS h
    FROM sh CROSS JOIN range(16) r(k)
    GROUP BY doc_id, k
),
sig AS (
    SELECT doc_id, list(h ORDER BY k) AS signature FROM mh GROUP BY doc_id
),
banded AS (
    SELECT doc_id, b,
           md5(array_to_string(list_slice(signature, b * 4 + 1, b * 4 + 4), ',')) AS bucket
    FROM sig CROSS JOIN range(4) rb(b)
),
near AS (
    SELECT DISTINCT a.doc_id AS qid, b2.doc_id AS d
    FROM banded a
    JOIN banded b2 ON a.b = b2.b AND a.bucket = b2.bucket
    WHERE a.doc_id % 25 = 0 AND a.doc_id < 500
),
cand AS (
    SELECT sc.qid, sc.d, sc.score
    FROM scored sc
    WHERE sc.qid <> sc.d
      AND NOT EXISTS (SELECT 1 FROM near n WHERE n.qid = sc.qid AND n.d = sc.d)
),
ranked AS (
    SELECT qid, d, score,
           row_number() OVER (PARTITION BY qid ORDER BY score DESC, d) AS rank
    FROM cand
)
SELECT qid AS anchor_id, CAST(rank AS BIGINT) AS rank, d AS neg_id, score
FROM ranked
WHERE rank <= {_Q172_K}
ORDER BY anchor_id, rank
"""


@register(
    "q172_hard_negative_mining",
    _Q172_ORACLE,
    "Hard-negative mining for contrastive retrieval training: each "
    "anchor of the fixed 20-doc panel takes its 8 highest-IDF tokens "
    "as a query (6-dp-rounded IDF, token tie-break), BM25-scores the "
    "corpus (q57's arithmetic), and keeps the top-3 scorers that are "
    "NOT the anchor and NOT band-gate near-dup candidates — lexically "
    "confusable but genuinely different documents, the negatives a "
    "bi-encoder trains against.  The exclusion is deliberately "
    "conservative (raw MinHash bands, no exact verify: a false "
    "exclusion costs one candidate, a near-dup mislabeled negative "
    "poisons the loss).  Scale shape: the anchor panel is fail-closed "
    "bounded; its term table broadcasts; corpus document frequencies "
    "are computed only for anchor tokens (semi-join pushdown); the "
    "exclusion probes the banded index exactly like an incremental "
    "near-dup batch; per-anchor top-k is two-stage partition-local.  "
    "Oracle replays term selection, BM25, the band gate, and the "
    "exclusion ranking.",
    operators=("retrieval-bm25", "dedup-minhash-lsh", "sampling-negatives", "O1", "J8"),
)
def q172(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import retrieval

    docs = load_table_parallel(spark, sf_dir, "documents")
    anchors = docs.filter((col("doc_id") % 25 == 0) & (col("doc_id") < 500))
    return retrieval.hard_negatives(
        docs, anchors, k=_Q172_K, m_terms=_Q172_M
    )


# ---------------------------------------------------------------------------
# q173 — benchmark-version contamination DELTA (the re-filter worklist)
# ---------------------------------------------------------------------------

#: old suite = every 100th base doc; the new version ADDS the 50th-but-
#: not-100th docs (old ⊂ new) — both pinned to the base id range
#: (q158/q170's fixed-benchmark premise)
_Q173_N = 4

_Q173_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
g AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(tk) - {_Q173_N - 1}, 1) + 1),
               i -> array_to_string(list_slice(tk, i, i + {_Q173_N - 1}), ' ')))) AS g
    FROM t
),
gold AS (SELECT DISTINCT g FROM g WHERE doc_id % 100 = 0 AND doc_id < {_Q170_BENCH_MAX_ID}),
gnew AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0 AND doc_id < {_Q170_BENCH_MAX_ID}),
corpus AS (
    SELECT doc_id, lang FROM t
    WHERE NOT (doc_id % 50 = 0 AND doc_id < {_Q170_BENCH_MAX_ID})
),
hold AS (
    SELECT DISTINCT doc_id FROM g
    WHERE NOT (doc_id % 50 = 0 AND doc_id < {_Q170_BENCH_MAX_ID})
      AND g IN (SELECT g FROM gold)
),
hnew AS (
    SELECT DISTINCT doc_id FROM g
    WHERE NOT (doc_id % 50 = 0 AND doc_id < {_Q170_BENCH_MAX_ID})
      AND g IN (SELECT g FROM gnew)
),
flagged AS (
    SELECT c.lang,
           CASE WHEN c.doc_id IN (SELECT doc_id FROM hold) THEN 1 ELSE 0 END AS o,
           CASE WHEN c.doc_id IN (SELECT doc_id FROM hnew) THEN 1 ELSE 0 END AS nw
    FROM corpus c
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_train,
       CAST(sum(o) AS BIGINT) AS n_old,
       CAST(sum(nw) AS BIGINT) AS n_new,
       CAST(sum(nw * (1 - o)) AS BIGINT) AS n_newly,
       round(100.0 * sum(nw * (1 - o)) / count(*) + 1e-9, 4) AS newly_pct
FROM flagged
GROUP BY lang
ORDER BY lang
"""


@register(
    "q173_contamination_delta",
    _Q173_ORACLE,
    "Benchmark-VERSION delta audit — the operational question a new "
    "eval-suite release raises: which already-shipped training docs "
    "become NEWLY contaminated (their first n-gram hit comes from the "
    "added tasks), per language — the re-filter worklist.  Old suite = "
    "every 100th base-range doc; the new version adds the 50th-but-not-"
    "100th docs (old subset of new, both pinned to the base id range — "
    "the fixed-benchmark premise).  Two broadcast gram probes over one "
    "corpus (map-side semi-joins, no corpus shuffle) and an id-sized "
    "flag join; n_newly = n_new − overlap exactly because old-bench "
    "grams are a subset of new-bench grams.  Oracle replays both "
    "probes and the delta arithmetic.",
    operators=("decontam-ngram", "decontam-delta", "J8", "A4"),
)
def q173(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import decontam

    docs = load_table_parallel(spark, sf_dir, "documents")
    bench_new_pred = (col("doc_id") % 50 == 0) & (col("doc_id") < _Q170_BENCH_MAX_ID)
    bench_old_pred = (col("doc_id") % 100 == 0) & (col("doc_id") < _Q170_BENCH_MAX_ID)
    return decontam.contamination_delta_report(
        docs.filter(~bench_new_pred),
        docs.filter(bench_old_pred),
        docs.filter(bench_new_pred),
        n=_Q173_N,
    )


# ---------------------------------------------------------------------------
# q174 — cross-document segment-level dedup (the CCNet line-dedup shape)
# ---------------------------------------------------------------------------

_Q174_SEG = 8
_Q174_BOILER_DF = 3

_Q174_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
idx AS (
    SELECT doc_id, lang, tk,
           unnest(range(1, CAST(ceil(len(tk) / {_Q174_SEG}.0) AS BIGINT) + 1))
               AS seg_idx
    FROM t
),
seg AS (
    SELECT doc_id, lang, seg_idx,
           array_to_string(list_slice(tk, (seg_idx - 1) * {_Q174_SEG} + 1,
                                      (seg_idx - 1) * {_Q174_SEG} + {_Q174_SEG}),
                           ' ') AS seg_text,
           len(list_slice(tk, (seg_idx - 1) * {_Q174_SEG} + 1,
                          (seg_idx - 1) * {_Q174_SEG} + {_Q174_SEG})) AS seg_tokens
    FROM idx
),
occ AS (
    SELECT doc_id, lang, seg_idx, seg_tokens, md5(seg_text) AS h,
           row_number() OVER (PARTITION BY md5(seg_text)
                              ORDER BY doc_id, seg_idx) AS rn
    FROM seg
),
ddf AS (
    SELECT h, count(DISTINCT doc_id) AS ddf FROM occ GROUP BY h
)
SELECT o.lang,
       CAST(count(DISTINCT o.doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN o.rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
       CAST(sum(CASE WHEN d.ddf >= {_Q174_BOILER_DF} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_boiler_segments,
       CAST(sum(o.seg_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN o.rn > 1 THEN o.seg_tokens ELSE 0 END) AS BIGINT)
           AS removed_tokens,
       round(100.0 * sum(CASE WHEN o.rn > 1 THEN o.seg_tokens ELSE 0 END)
             / nullif(sum(o.seg_tokens), 0) + 1e-9, 4) AS removed_pct
FROM occ o JOIN ddf d USING (h)
GROUP BY o.lang
ORDER BY o.lang
"""


@register(
    "q174_segment_dedup",
    _Q174_ORACLE,
    "Cross-document SEGMENT-level dedup — the CCNet line-dedup shape "
    "over fixed 8-token segments (this corpus's documents are single-"
    "line token streams, so the segment window stands in for the "
    "newline split): every occurrence of a segment hash after the "
    "first in global (doc_id, seg_idx) order is a removable duplicate, "
    "and segments seen in >= 3 distinct documents are boilerplate — "
    "the header/footer class that DOCUMENT-level dedup (q24/q28) never "
    "catches because the surrounding text differs.  Scale shape: one "
    "explode, then a single exchange on the uniform md5 segment hash "
    "reused by both the keep-first window and the doc-frequency "
    "groupBy-join (AQE coalesces); per-language rollup is a "
    "5-key shuffle.  Linear in corpus tokens — the same plan at "
    "100 TB.  Oracle replays the segmentation, the keep-first window "
    "and the boilerplate gate verbatim.",
    operators=("dedup-segment", "text-tokens", "W2", "A1", "A3"),
)
def q174(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    return dedup.segment_dedup_report(
        docs, seg_len=_Q174_SEG, boiler_df=_Q174_BOILER_DF
    )


# ---------------------------------------------------------------------------
# q175 — curriculum schedule (quality-staged training order)
# ---------------------------------------------------------------------------

_Q175_STAGES = 4

_Q175_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           string_split_regex(lower(text), '\\s+') AS toks,
           length(text) AS n_chars,
           length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct
    FROM documents
),
scored AS (
    SELECT doc_id, len(toks) AS n_tokens,
           round((least(1.0 * len(toks) / 200.0, 1.0)
            + (1.0 - least(5.0 * n_punct / nullif(n_chars, 0), 1.0))
            + least(4.0 * len(list_filter(toks, x -> list_contains([{_EN}], x)))
                    / nullif(len(toks), 0), 1.0)) / 3.0 + 1e-9, 6) AS quality
    FROM t
),
ranked AS (
    SELECT *, row_number() OVER (ORDER BY quality DESC, doc_id) AS rnk,
           count(*) OVER () AS n
    FROM scored
),
staged AS (
    SELECT *,
           least(((rnk - 1) * {_Q175_STAGES}) // n, {_Q175_STAGES - 1}) AS stage,
           md5('curr:' || CAST(doc_id AS VARCHAR)) AS pos
    FROM ranked
),
heads AS (
    SELECT stage,
           max(CASE WHEN hr = 1 THEN doc_id END) AS first_id,
           max(CASE WHEN hr = 2 THEN doc_id END) AS second_id,
           max(CASE WHEN hr = 3 THEN doc_id END) AS third_id
    FROM (SELECT stage, doc_id,
                 row_number() OVER (PARTITION BY stage ORDER BY pos, doc_id)
                     AS hr
          FROM staged)
    GROUP BY stage
)
SELECT s.stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(s.n_tokens) AS BIGINT) AS total_tokens,
       round(avg(s.quality) + 1e-9, 6) AS avg_quality,
       round(min(s.quality) + 1e-9, 6) AS min_quality,
       round(max(s.quality) + 1e-9, 6) AS max_quality,
       h.first_id, h.second_id, h.third_id
FROM staged s JOIN heads h USING (stage)
GROUP BY s.stage, h.first_id, h.second_id, h.third_id
ORDER BY s.stage
"""


@register(
    "q175_curriculum_schedule",
    _Q175_ORACLE,
    "Curriculum schedule: equal-frequency quality stages (stage 0 = "
    "cleanest quartile — curriculum training consumes the easy, high-"
    "quality slice first and anneals toward the noisy tail) with a "
    "salted-md5 within-stage shuffle so position never correlates with "
    "id/source order.  Stage boundaries come from the TWO-PASS global "
    "rank (range shuffle + broadcast offsets — never a single-partition "
    "window) and exact integer DIV (a double boundary can flip one "
    "rank cross-engine); the per-stage curriculum head (first three "
    "doc ids — the reproducibility probe) uses the two-stage top-k so "
    "no task ever holds a whole stage.  Quality rounds to 6 dp BEFORE "
    "ranking, the q36 convention.  Oracle replays scoring, ranking, "
    "the stage formula and the head selection verbatim.",
    operators=("curriculum-schedule", "text-quality", "W2", "O1", "A3"),
)
def q175(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curriculum

    docs = load_table_parallel(spark, sf_dir, "documents")
    return curriculum.curriculum_report(docs, n_stages=_Q175_STAGES)


# ---------------------------------------------------------------------------
# q176 — soft dedup: repeat discounting (data-constrained scaling)
# ---------------------------------------------------------------------------

_Q176_DELTA = 0.5

_Q176_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTES},
sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a
    JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
),
pairs AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE 1.0 * n_common / (sa.n_shingles + sb.n_shingles - n_common)
          >= {_Q25_THRESHOLD}
),
sym AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT a, a FROM sym
    UNION
    SELECT s.a, rr.r FROM sym s JOIN reach rr ON rr.node = s.b
),
comp AS (
    SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
),
t AS (
    SELECT doc_id, lang,
           len(string_split_regex(lower(text), '\\s+')) AS n_tok
    FROM documents
),
cl AS (
    SELECT t.doc_id, t.lang, t.n_tok,
           coalesce(c.cluster_id, t.doc_id) AS cluster_id
    FROM t LEFT JOIN comp c USING (doc_id)
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) AS j
    FROM cl
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(sum(n_tok) AS BIGINT) AS raw_tokens,
       CAST(sum(CASE WHEN j = 1 THEN n_tok ELSE 0 END) AS BIGINT)
           AS unique_tokens,
       CAST(sum(CASE WHEN j > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_repeat_docs,
       round(sum(power({_Q176_DELTA}, j - 1) * n_tok) + 1e-9, 4) AS soft_tokens,
       round(sum(power({_Q176_DELTA}, j - 1) * n_tok) / sum(n_tok) + 1e-9, 6)
           AS soft_utilization
FROM ranked
GROUP BY lang
ORDER BY lang
"""


@register(
    "q176_soft_dedup_value",
    _Q176_ORACLE,
    "Soft dedup — repeat DISCOUNTING instead of the keep-one/drop-rest "
    "binary: the j-th copy inside a near-dup cluster is worth "
    "delta^(j-1) of its tokens (delta=0.5: every weight an exact binary "
    "fraction, FP-deterministic cross-engine), the data-constrained-"
    "scaling view of repeated data.  Prices the corpus three ways per "
    "language — raw, hard-dedup unique, and soft-value tokens (what the "
    "q121 epoch-allocation planner should budget with).  Clusters = "
    "q46's alternating-star connected components over exact-Jaccard "
    "pairs (the oracle-replayable source; production swaps in the "
    "MinHash-LSH pair frame unchanged); singletons via coalesce, no "
    "join blowup; copy rank is a window over cluster ids whose sizes "
    "the pair gate bounds.  Oracle closes the same pair graph with a "
    "recursive CTE and replays the discount arithmetic.",
    operators=("dedup-soft", "graph-cc", "W2", "A3", "J9"),
)
def q176(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=_Q25_THRESHOLD
    ).select("doc_a", "doc_b")
    return dedup.soft_dedup_report(docs, pairs, delta=_Q176_DELTA)


# ---------------------------------------------------------------------------
# q177 — training-order randomization audit (adjacent same-source rate)
# ---------------------------------------------------------------------------

_Q177_ORACLE = """
WITH t AS (
    SELECT doc_id, source,
           md5('ord:' || CAST(doc_id AS VARCHAR)) AS h
    FROM documents
),
r AS (
    SELECT doc_id, source, row_number() OVER (ORDER BY h, doc_id) AS rnk
    FROM t
),
adj AS (
    SELECT a.source AS ga, b.source AS gb
    FROM r a JOIN r b ON b.rnk = a.rnk + 1
),
same AS (
    SELECT ga AS source, count(*) AS same_adj
    FROM adj WHERE ga = gb GROUP BY ga
),
sizes AS (
    SELECT source, count(*) AS n_docs FROM documents GROUP BY source
),
n AS (SELECT count(*) AS n FROM documents)
SELECT s.source,
       CAST(s.n_docs AS BIGINT) AS n_docs,
       round(1.0 * s.n_docs / n.n + 1e-9, 6) AS share,
       CAST(coalesce(m.same_adj, 0) AS BIGINT) AS same_adj_pairs,
       round(s.n_docs * (s.n_docs - 1) / n.n + 1e-9, 4) AS expected_pairs,
       round(coalesce(m.same_adj, 0)
             / nullif(s.n_docs * (s.n_docs - 1) / n.n, 0) + 1e-9, 4) AS ratio
FROM sizes s LEFT JOIN same m USING (source) CROSS JOIN n
ORDER BY s.source
"""


@register(
    "q177_shuffle_order_audit",
    _Q177_ORACLE,
    "Training-order randomization audit: per source, the count of "
    "ADJACENT pairs in salted-md5 shuffle order where both members are "
    "that source, against the exact random-permutation expectation "
    "n_g(n_g-1)/N.  A pipeline that silently emits ingestion order "
    "feeds the optimizer long same-source runs (correlated gradients) "
    "and nothing downstream notices unless something measures it — a "
    "healthy shuffle has ratio ~1 everywhere (the pytest twin asserts "
    "both that AND that id-order on a sorted-by-source corpus blows "
    "the ratio up).  Scale shape: position = two-pass global rank on "
    "the hash (range shuffle, never a single-partition window); "
    "adjacency = self-join on rank = rank+1, a dense unique uniform "
    "key; sizes are one hash aggregate and the corpus count broadcasts. "
    " Oracle replays the hash order, the adjacency join and the "
    "expectation arithmetic.",
    operators=("curriculum-shuffle-audit", "layout-global-rank", "J2", "A3"),
)
def q177(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curriculum

    docs = load_table_parallel(spark, sf_dir, "documents")
    return curriculum.shuffle_audit(docs, group_col="source", salt="ord")


# ---------------------------------------------------------------------------
# q178 — shard-balance audit (bytes skew + Gini per assignment strategy)
# ---------------------------------------------------------------------------

_Q178_S = 8

_Q178_DIGESTS = ", ".join(
    f"md5('hrw:' || CAST(doc_id AS VARCHAR) || ':{s}') AS d{s}"
    for s in range(_Q178_S)
)
_Q178_GREATEST = "greatest(" + ", ".join(f"d{s}" for s in range(_Q178_S)) + ")"
_Q178_ARGMAX = (
    "CASE "
    + " ".join(f"WHEN d{s} = g THEN {s}" for s in range(_Q178_S - 1))
    + f" ELSE {_Q178_S - 1} END"
)

_Q178_ORACLE = f"""
WITH r AS (
    SELECT doc_id, n_chars, {_Q178_DIGESTS}
    FROM documents
),
b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
assigned AS (
    SELECT 'rendezvous' AS strategy,
           (SELECT {_Q178_ARGMAX} FROM (SELECT {_Q178_GREATEST} AS g) t)
               AS shard,
           n_chars AS w
    FROM r
    UNION ALL
    SELECT 'hashmod',
           ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % {_Q178_S},
           n_chars
    FROM documents
    UNION ALL
    SELECT 'idrange',
           least(((doc_id - b.lo) * {_Q178_S}) // (b.hi - b.lo + 1),
                 {_Q178_S - 1}),
           n_chars
    FROM documents, b
),
occupied AS (
    SELECT strategy, shard, count(*) AS n_rows, sum(w) AS bytes
    FROM assigned GROUP BY strategy, shard
),
spine AS (
    SELECT s.strategy, u.shard
    FROM (VALUES ('rendezvous'), ('hashmod'), ('idrange')) s(strategy),
         unnest(range(0, {_Q178_S})) u(shard)
),
shards AS (
    SELECT sp.strategy, sp.shard,
           coalesce(o.n_rows, 0) AS n_rows,
           coalesce(o.bytes, 0) AS bytes
    FROM spine sp LEFT JOIN occupied o USING (strategy, shard)
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY strategy ORDER BY bytes, shard)
               AS i
    FROM shards
)
SELECT strategy,
       CAST(count(*) AS BIGINT) AS n_shards,
       CAST(sum(n_rows) AS BIGINT) AS total_rows,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       CAST(min(bytes) AS BIGINT) AS min_shard_bytes,
       CAST(max(bytes) AS BIGINT) AS max_shard_bytes,
       round(max(bytes) / (sum(bytes) / count(*)) + 1e-9, 4) AS max_over_mean,
       round(sum((2 * i - {_Q178_S} - 1) * bytes)
             / ({_Q178_S} * sum(bytes)) + 1e-9, 6) AS gini
FROM ranked
GROUP BY strategy
ORDER BY strategy
"""


@register(
    "q178_shard_balance_audit",
    _Q178_ORACLE,
    "Shard-balance decision table: byte skew (max/mean — the straggler "
    "tax; the slowest shard gates the stage) and the Gini coefficient "
    "of shard byte sizes for three assignment strategies side by side — "
    "rendezvous/HRW (balanced AND minimal movement on reshard), md5 "
    "mod S (balanced, but resharding moves ~half the keys), and "
    "contiguous id ranges (the tempting baseline that skews silently "
    "when length drifts with ingestion order).  Empty shards stay in "
    "the audit via an S-row spine — dropping them would shrink the "
    "Gini denominator and hide exactly the imbalance being measured.  "
    "Scale shape: map-side assignment expressions + one S-group "
    "aggregate per strategy; the Gini rank window is PARTITIONED BY "
    "strategy over exactly S rows.  Integer weights keep sums exact; "
    "id-range boundaries use integer DIV (q175's convention).  Oracle "
    "replays all three assignments (rendezvous via the same unrolled "
    "greatest/argmax over md5 digests) and the Gini arithmetic.",
    operators=("layout-shard-balance", "layout-rendezvous", "W2", "A3"),
)
def q178(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import layout

    docs = load_table_parallel(spark, sf_dir, "documents")
    return layout.shard_balance_report(docs, n_shards=_Q178_S)


# ---------------------------------------------------------------------------
# q179 — ingestion control chart (Shewhart over daily batch means)
# ---------------------------------------------------------------------------

_Q179_REF_END = "2024-01-15"

_Q179_ORACLE = f"""
WITH days AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           round(avg(value) + 1e-9, 6) AS day_mean
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY CAST(ts AS DATE)
),
ref AS (
    SELECT round(avg(day_mean) + 1e-9, 6) AS ref_mean,
           round(stddev_samp(day_mean) + 1e-9, 6) AS ref_sd,
           CAST(count(*) AS BIGINT) AS ref_days
    FROM days WHERE day < DATE '{_Q179_REF_END}'
)
SELECT d.day, d.n_events, d.day_mean, r.ref_mean, r.ref_sd, r.ref_days,
       round((d.day_mean - r.ref_mean) / nullif(r.ref_sd, 0) + 1e-9, 4)
           AS z_score,
       abs(round((d.day_mean - r.ref_mean) / nullif(r.ref_sd, 0) + 1e-9, 4))
           > 3.0 AS out_of_control
FROM days d CROSS JOIN ref r
WHERE d.day >= DATE '{_Q179_REF_END}'
ORDER BY d.day
"""


@register(
    "q179_ingestion_control_chart",
    _Q179_ORACLE,
    "Shewhart control chart over daily ingestion batches: days before "
    "2024-01-15 set the center line and the 3-sigma limits (stddev of "
    "DAY MEANS — the chart monitors the batch statistic, not row "
    "noise); every later day reports its z-score and an out-of-control "
    "flag.  The metric-drift companion to the schema drift report: a "
    "feed whose VALUES quietly shift passes every schema check.  Scale "
    "shape: one day-grain hash aggregate, then a broadcast 1-row "
    "reference joined to the day-cardinality frame.  Day means round "
    "to 6 dp BEFORE the reference stats and the z-score so sum-order "
    "ulps can't flip a flag at the boundary.  Oracle replays the day "
    "grain, the reference window and the z arithmetic.",
    operators=("profile-control-chart", "A3", "A5", "A9"),
)
def q179(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import profile

    ev = load_table(spark, sf_dir, "events")
    return profile.control_chart(ev, ref_end=_Q179_REF_END)


# ---------------------------------------------------------------------------
# q180 — incremental segment-level dedup (refresh face of q174)
# ---------------------------------------------------------------------------

#: batch = every 5th doc; standing = the rest (deterministic split)
_Q180_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS tk,
           doc_id % 5 = 0 AS is_batch
    FROM documents
),
idx AS (
    SELECT doc_id, lang, is_batch, tk,
           unnest(range(1, CAST(ceil(len(tk) / {_Q174_SEG}.0) AS BIGINT) + 1))
               AS seg_idx
    FROM t
),
seg AS (
    SELECT doc_id, lang, is_batch, seg_idx,
           md5(array_to_string(list_slice(tk, (seg_idx - 1) * {_Q174_SEG} + 1,
                                          (seg_idx - 1) * {_Q174_SEG} + {_Q174_SEG}),
                               ' ')) AS h,
           len(list_slice(tk, (seg_idx - 1) * {_Q174_SEG} + 1,
                          (seg_idx - 1) * {_Q174_SEG} + {_Q174_SEG})) AS seg_tokens
    FROM idx
),
corpus_h AS (SELECT DISTINCT h FROM seg WHERE NOT is_batch),
b AS (
    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_idx) AS rn
    FROM seg WHERE is_batch
),
st AS (
    SELECT lang, seg_tokens,
           CASE WHEN h IN (SELECT h FROM corpus_h) THEN 'dup_vs_corpus'
                WHEN rn > 1 THEN 'dup_in_batch'
                ELSE 'new' END AS status
    FROM b
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN status = 'dup_vs_corpus' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_vs_corpus,
       CAST(sum(CASE WHEN status = 'dup_in_batch' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_in_batch,
       CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(sum(seg_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN status <> 'new' THEN seg_tokens ELSE 0 END) AS BIGINT)
           AS removable_tokens,
       round(100.0 * sum(CASE WHEN status <> 'new' THEN seg_tokens ELSE 0 END)
             / nullif(sum(seg_tokens), 0) + 1e-9, 4) AS removable_pct
FROM st
GROUP BY lang
ORDER BY lang
"""


@register(
    "q180_incremental_segment_dedup",
    _Q180_ORACLE,
    "Incremental SEGMENT-level dedup — the q147/q163 refresh contract "
    "at q174's grain: a new batch's 8-token segments classify against "
    "the standing corpus' persisted segment-hash index as "
    "dup_vs_corpus / dup_in_batch (keep-first inside the batch) / new, "
    "with the tokens a keep-first writer would drop.  Join/shuffle "
    "volume is O(batch segments + matches): only the batch explodes, "
    "the index side is a column-pruned hash table read, the standing "
    "text is never touched.  Registered split: batch = every 5th doc, "
    "standing = the rest; the oracle replays the segmentation, the "
    "index membership and the within-batch keep-first window.",
    operators=("dedup-segment-incremental", "dedup-segment", "J8", "W2", "A4"),
)
def q180(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    batch = docs.filter(col("doc_id") % 5 == 0)
    standing = docs.filter(col("doc_id") % 5 != 0)
    return dedup.incremental_segment_report(batch, standing, seg_len=_Q174_SEG)


# ---------------------------------------------------------------------------
# q181 — corpus drift PSI (per-language length distribution, ref vs cur)
# ---------------------------------------------------------------------------

_Q181_LO, _Q181_W, _Q181_B = 0.0, 80.0, 10
_Q181_EPS = 1e-6

_Q181_ORACLE = f"""
WITH b AS (
    SELECT lang, doc_id % 2 = 1 AS is_cur,
           least({_Q181_B - 1},
                 greatest(0, CAST(floor((n_chars - {_Q181_LO}) / {_Q181_W})
                                  AS INT))) AS bucket
    FROM documents
),
cur AS (
    SELECT lang AS grp, bucket, count(*) AS cc FROM b WHERE is_cur
    GROUP BY lang, bucket
),
ref AS (
    SELECT lang AS grp, bucket, count(*) AS cr FROM b WHERE NOT is_cur
    GROUP BY lang, bucket
),
tc AS (SELECT grp, sum(cc) AS n_cur FROM cur GROUP BY grp),
tr AS (SELECT grp, sum(cr) AS n_ref FROM ref GROUP BY grp),
j AS (
    SELECT coalesce(c.grp, r.grp) AS grp,
           coalesce(c.cc, 0) AS cc, coalesce(r.cr, 0) AS cr
    FROM cur c FULL OUTER JOIN ref r
      ON c.grp = r.grp AND c.bucket = r.bucket
),
p AS (
    SELECT j.grp, tc.n_cur, tr.n_ref,
           1.0 * j.cc / tc.n_cur + {_Q181_EPS} AS pc,
           1.0 * j.cr / tr.n_ref + {_Q181_EPS} AS pr
    FROM j JOIN tc ON j.grp = tc.grp JOIN tr ON j.grp = tr.grp
)
SELECT grp,
       CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       round(sum((pc - pr) * ln(pc / pr)) + 1e-9, 6) AS psi,
       round(sum((pc - pr) * ln(pc / pr)) + 1e-9, 6) > 0.1 AS drifted
FROM p
GROUP BY grp, n_ref, n_cur
ORDER BY grp
"""


@register(
    "q181_corpus_drift_psi",
    _Q181_ORACLE,
    "Population Stability Index of the per-language document-length "
    "distribution between the even-id (reference) and odd-id (current) "
    "halves — the registered conformance face of the streaming drift "
    "monitor's PSI math (profile.value_bucket_counts + psi_from_counts, "
    "the `drift-monitor` CLI verb).  Fixed equal-width edge-clipped "
    "buckets are a map-side expression; count frames are "
    "|groups|x|buckets| rows, so every join past the scan is bounded.  "
    "The even/odd split is exchangeable, so PSI ~ 0 and nothing flags "
    "— the drifted=true path is exercised by the injected-shift pytest "
    "twin.  Oracle replays bucketing, smoothing and the PSI sum.",
    operators=("profile-psi-drift", "A4", "J3"),
)
def q181(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import profile

    docs = load_table_parallel(spark, sf_dir, "documents")
    cur = profile.value_bucket_counts(
        docs.filter(col("doc_id") % 2 == 1), "n_chars", "lang",
        _Q181_LO, _Q181_W, _Q181_B,
    )
    ref = profile.value_bucket_counts(
        docs.filter(col("doc_id") % 2 == 0), "n_chars", "lang",
        _Q181_LO, _Q181_W, _Q181_B,
    )
    return profile.psi_from_counts(cur, ref, eps=_Q181_EPS).orderBy("grp")


# ---------------------------------------------------------------------------
# q182 — curriculum-packed training batches (q175 × pack_contiguous)
# ---------------------------------------------------------------------------

_Q182_BUDGET = 512

_Q182_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           string_split_regex(lower(text), '\\s+') AS toks,
           length(text) AS n_chars,
           length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_punct
    FROM documents
),
scored AS (
    SELECT doc_id, len(toks) AS n_tokens,
           round((least(1.0 * len(toks) / 200.0, 1.0)
            + (1.0 - least(5.0 * n_punct / nullif(n_chars, 0), 1.0))
            + least(4.0 * len(list_filter(toks, x -> list_contains([{_EN}], x)))
                    / nullif(len(toks), 0), 1.0)) / 3.0 + 1e-9, 6) AS quality
    FROM t
),
ranked AS (
    SELECT *, row_number() OVER (ORDER BY quality DESC, doc_id) AS rnk,
           count(*) OVER () AS n
    FROM scored
),
staged AS (
    SELECT doc_id, n_tokens,
           least(((rnk - 1) * {_Q175_STAGES}) // n, {_Q175_STAGES - 1}) AS stage,
           md5('curr:' || CAST(doc_id AS VARCHAR)) AS pos
    FROM ranked
),
streams AS (
    SELECT *,
           CAST(stage AS VARCHAR) || ':' || substr(pos, 1, 1) AS stream,
           pos || ':' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS ord
    FROM staged
),
packed AS (
    SELECT *,
           (coalesce(sum(n_tokens) OVER (PARTITION BY stream ORDER BY ord), 0)
            - n_tokens) AS strt
    FROM streams
),
docs_p AS (
    SELECT stage, stream, n_tokens,
           strt // {_Q182_BUDGET} AS pack_id,
           strt % {_Q182_BUDGET} AS pack_offset
    FROM packed
),
per_stream AS (
    SELECT stage, stream,
           count(*) AS n_docs,
           max(pack_id) + 1 AS n_packs,
           sum(n_tokens) AS tok,
           sum(CASE WHEN pack_offset + n_tokens > {_Q182_BUDGET}
                    THEN 1 ELSE 0 END) AS straddle,
           CASE WHEN sum(n_tokens) % {_Q182_BUDGET} = 0
                THEN {_Q182_BUDGET}
                ELSE sum(n_tokens) % {_Q182_BUDGET} END AS tail_fill
    FROM docs_p
    GROUP BY stage, stream
)
SELECT stage,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_streams,
       CAST(sum(n_packs) AS BIGINT) AS n_packs,
       CAST(sum(tok) AS BIGINT) AS total_tokens,
       CAST(sum(straddle) AS BIGINT) AS n_straddling,
       round(100.0 * sum(straddle) / sum(n_docs) + 1e-9, 4) AS straddle_pct,
       round(100.0 * sum(tok) / (sum(n_packs) * {_Q182_BUDGET}.0) + 1e-9, 4)
           AS fill_pct
FROM per_stream
GROUP BY stage
ORDER BY stage
"""


@register(
    "q182_curriculum_packed_shards",
    _Q182_ORACLE,
    "Curriculum schedule materialized into training batches: each q175 "
    "stage's documents pack contiguously (concat-and-chunk at a "
    "512-token budget) in within-stage shuffle order, keyed by (stage, "
    "first pos-hex) sub-streams — 16 bounded window partitions per "
    "stage, the pack_contiguous contract's '(domain, shard)' keying, "
    "never a stage-sized window.  Per stage: pack count, fill rate "
    "(waste is only each sub-stream's tail pack), and the straddle "
    "count (documents cut by a pack boundary — the cost of split-"
    "allowed packing that q169's padding curve prices against).  "
    "Oracle replays scoring, staging, sub-streaming, the cumulative-"
    "offset pack arithmetic and the two-level rollup.",
    operators=("curriculum-schedule", "packing-contiguous", "W2", "A3", "A8"),
)
def q182(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curriculum, packing

    docs = load_table_parallel(spark, sf_dir, "documents")
    sched = curriculum.curriculum_schedule(docs, n_stages=_Q175_STAGES)
    streams = sched.select(
        "doc_id",
        "stage",
        "n_tokens",
        F.concat(
            col("stage").cast("string"), lit(":"), F.substring(col("pos"), 1, 1)
        ).alias("stream"),
        F.concat(
            col("pos"), lit(":"),
            F.lpad(col("doc_id").cast("string"), 12, "0"),
        ).alias("ord"),
    )
    packed = packing.pack_contiguous(
        streams, "stream", "ord", "n_tokens", _Q182_BUDGET
    )
    per_stream = packed.groupBy("stage", "stream").agg(
        F.count("*").cast("long").alias("n_docs"),
        (F.max("pack_id") + 1).cast("long").alias("n_packs"),
        F.sum("n_tokens").cast("long").alias("tok"),
        F.sum(
            (col("pack_offset") + col("n_tokens") > _Q182_BUDGET).cast("long")
        ).cast("long").alias("straddle"),
    )
    return (
        per_stream.groupBy("stage")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_streams"),
            F.sum("n_packs").cast("long").alias("n_packs"),
            F.sum("tok").cast("long").alias("total_tokens"),
            F.sum("straddle").cast("long").alias("n_straddling"),
            rnd(lit(100.0) * F.sum("straddle") / F.sum("n_docs"), 4).alias(
                "straddle_pct"
            ),
            rnd(
                lit(100.0) * F.sum("tok") / (F.sum("n_packs") * float(_Q182_BUDGET)),
                4,
            ).alias("fill_pct"),
        )
        .orderBy("stage")
    )


# ---------------------------------------------------------------------------
# q183 — corpus ↔ embedding contract audit (referential integrity)
# ---------------------------------------------------------------------------

_Q183_DIM = 64

_Q183_ORACLE = f"""
WITH rkeys AS (
    SELECT vec_id AS k, count(*) AS n_rows,
           sum(CASE WHEN len(embedding) <> {_Q183_DIM} THEN 1 ELSE 0 END)
               AS n_badlen
    FROM embeddings GROUP BY vec_id
),
j AS (
    SELECT d.doc_id AS k, d.lang AS g, r.n_rows, r.n_badlen
    FROM documents d LEFT JOIN rkeys r ON d.doc_id = r.k
),
per AS (
    SELECT g AS grp,
           count(*) AS n_primary,
           sum(CASE WHEN n_rows IS NOT NULL THEN 1 ELSE 0 END) AS n_matched,
           sum(CASE WHEN n_rows > 1 THEN 1 ELSE 0 END) AS n_dup_keys,
           sum(coalesce(n_badlen, 0)) AS n_bad_payload,
           0 AS n_orphans
    FROM j GROUP BY g
),
orph AS (
    SELECT count(*) AS n
    FROM rkeys r WHERE r.k NOT IN (SELECT DISTINCT doc_id FROM documents)
),
allr AS (
    SELECT '__all__' AS grp,
           count(*) AS n_primary,
           sum(CASE WHEN n_rows IS NOT NULL THEN 1 ELSE 0 END) AS n_matched,
           sum(CASE WHEN n_rows > 1 THEN 1 ELSE 0 END) AS n_dup_keys,
           sum(coalesce(n_badlen, 0)) AS n_bad_payload,
           (SELECT n FROM orph) AS n_orphans
    FROM j
),
u AS (SELECT * FROM per UNION ALL SELECT * FROM allr)
SELECT grp,
       CAST(n_primary AS BIGINT) AS n_primary,
       CAST(n_matched AS BIGINT) AS n_matched,
       round(100.0 * n_matched / nullif(n_primary, 0) + 1e-9, 4)
           AS coverage_pct,
       CAST(n_dup_keys AS BIGINT) AS n_dup_keys,
       CAST(n_bad_payload AS BIGINT) AS n_bad_payload,
       CAST(n_orphans AS BIGINT) AS n_orphans
FROM u
ORDER BY grp
"""


@register(
    "q183_embedding_contract_audit",
    _Q183_ORACLE,
    "Cross-table data-contract audit: key-level reconciliation of the "
    "documents corpus against its derived embeddings table — per-"
    "language coverage %, derived-side duplicate keys (double-written "
    "features corrupt training), wrong-dimension payloads (a truncated "
    "vector passes every schema check), and orphan embeddings on the "
    "__all__ rollup row.  A silently failed embedding job is invisible "
    "to schema checks; only this reconciliation sees it.  Scale shape: "
    "one distinct-aggregate on the derived key, one key equi-join from "
    "the primary, group-cardinality rollups — nothing wider than the "
    "key and two flags shuffles.  Oracle replays the join, the flag "
    "arithmetic and the rollup.",
    operators=("profile-contract-audit", "J2", "J8", "A4"),
)
def q183(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import profile

    docs = load_table_parallel(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return profile.contract_audit(
        docs, emb, "doc_id", "vec_id", "lang",
        right_len_col="embedding", expected_len=_Q183_DIM,
    )


# ---------------------------------------------------------------------------
# q184 — session transcript assembly (logs → training documents)
# ---------------------------------------------------------------------------

_Q184_GAP = 1800

_Q184_ORACLE = f"""
WITH ordered AS (
    SELECT user_id, event_id, ts, event_type,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
    WHERE ts IS NOT NULL
),
marked AS (
    SELECT *,
           CASE WHEN prev_ts IS NULL
                     OR date_diff('second', prev_ts, ts) > {_Q184_GAP}
                THEN 1 ELSE 0 END AS new_session
    FROM ordered
),
sessions AS (
    SELECT *,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM marked
),
assembled AS (
    SELECT user_id, session_seq,
           count(*) AS n_events,
           date_diff('second', min(ts), max(ts)) AS duration_s,
           md5(string_agg(event_type, ' ' ORDER BY ts, event_id))
               AS transcript_fp
    FROM sessions
    GROUP BY user_id, session_seq
)
SELECT CAST(n_events AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT transcript_fp) AS BIGINT) AS n_distinct,
       round(100.0 * (count(*) - count(DISTINCT transcript_fp))
             / count(*) + 1e-9, 4) AS dup_pct,
       round(avg(duration_s) + 1e-9, 4) AS avg_duration_s
FROM assembled
GROUP BY n_events
ORDER BY n_events
"""


@register(
    "q184_session_transcripts",
    _Q184_ORACLE,
    "Training-document ASSEMBLY from an event log: gap-sessionize "
    "(the shared temporal.sessionize, 30-min inactivity), concatenate "
    "each session's event types in (ts, event_id) order into one "
    "transcript (text.session_transcripts — the logs→corpus writer), "
    "then roll up to the BOUNDED session-length report: sessions, "
    "distinct transcript fingerprints (the behavioral-dedup potential "
    "— identical action sequences repeat across users), dup rate and "
    "mean duration per length.  The registered result is report-sized "
    "— the per-session frame is the writer's output, never collected.  "
    "Scale shape: two windows per user partition, one (user, session) "
    "groupBy bounded by session length, one length-cardinality rollup; "
    "array_sort on the (ts, id, token) struct makes assembly order "
    "total and layout-independent.  Oracle replays sessionization, "
    "ORDER BY string_agg assembly and the rollup.",
    operators=("text-session-transcripts", "W2", "W-lag", "A2", "A3"),
)
def q184(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = text.session_transcripts(ev, gap_seconds=_Q184_GAP)
    return (
        sess.groupBy("n_events")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.countDistinct("transcript_fp").cast("long").alias("n_distinct"),
            rnd(
                lit(100.0)
                * (F.count("*") - F.countDistinct("transcript_fp"))
                / F.count("*"),
                4,
            ).alias("dup_pct"),
            rnd(F.avg("duration_s"), 4).alias("avg_duration_s"),
        )
        .orderBy("n_events")
    )


# ---------------------------------------------------------------------------
# q185 — segment removal writer effect (the materialized q174 decision)
# ---------------------------------------------------------------------------

_Q185_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS tk
    FROM documents WHERE text IS NOT NULL
),
idx AS (
    SELECT doc_id, lang, tk,
           unnest(range(1, CAST(ceil(len(tk) / {_Q174_SEG}.0) AS BIGINT) + 1))
               AS seg_idx
    FROM t
),
seg AS (
    SELECT doc_id, lang, seg_idx,
           md5(array_to_string(list_slice(tk, (seg_idx - 1) * {_Q174_SEG} + 1,
                                          (seg_idx - 1) * {_Q174_SEG} + {_Q174_SEG}),
                               ' ')) AS h,
           len(list_slice(tk, (seg_idx - 1) * {_Q174_SEG} + 1,
                          (seg_idx - 1) * {_Q174_SEG} + {_Q174_SEG})) AS seg_tokens
    FROM idx
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_idx) AS rn
    FROM seg
),
per_doc AS (
    SELECT doc_id, lang,
           sum(seg_tokens) AS orig_tokens,
           sum(CASE WHEN rn = 1 THEN seg_tokens ELSE 0 END) AS kept_tokens,
           sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS kept_segs
    FROM ranked
    GROUP BY doc_id, lang
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN kept_tokens = orig_tokens THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unchanged,
       CAST(sum(CASE WHEN kept_segs = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_emptied,
       CAST(sum(orig_tokens) AS BIGINT) AS orig_tokens,
       CAST(sum(kept_tokens) AS BIGINT) AS kept_tokens,
       round(100.0 * sum(kept_tokens) / nullif(sum(orig_tokens), 0) + 1e-9, 4)
           AS retention_pct
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


@register(
    "q185_segment_removal_effect",
    _Q185_ORACLE,
    "The materialized q174 decision: rebuild every document from only "
    "the globally-first occurrences of its segment hashes "
    "(dedup.remove_duplicated_segments — the writer q174's report "
    "prices), then measure the effect per language: unchanged docs, "
    "emptied docs (every segment seen before), token retention.  The "
    "keep filter is a JOIN against the hash-cardinality firsts frame "
    "(AQE-splittable on a hot boilerplate hash, unlike a window); "
    "reassembly is a per-document groupBy bounded by document length.  "
    "Oracle replays segmentation, the keep-first rule and the per-doc "
    "rollup.",
    operators=("dedup-segment-writer", "dedup-segment", "J8", "A4", "A10"),
)
def q185(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    cleaned = dedup.remove_duplicated_segments(docs, seg_len=_Q174_SEG)
    orig = docs.filter(col("text").isNotNull()).select(
        "doc_id", "lang", text.token_count("text").cast("long").alias("orig_tokens")
    )
    per_doc = orig.join(cleaned, "doc_id")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((col("kept_tokens") == col("orig_tokens")).cast("long"))
            .cast("long")
            .alias("n_unchanged"),
            F.sum((col("kept_tokens") == 0).cast("long"))
            .cast("long")
            .alias("n_emptied"),
            F.sum("orig_tokens").cast("long").alias("orig_tokens"),
            F.sum("kept_tokens").cast("long").alias("kept_tokens"),
        )
        .withColumn(
            "retention_pct",
            rnd(
                lit(100.0) * col("kept_tokens") / F.nullif(col("orig_tokens"), lit(0)),
                4,
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q186 — soft dedup in PRODUCTION mode (MinHash-LSH pair source)
# ---------------------------------------------------------------------------


def _q186_oracle() -> str:
    """q176's repeat-discount arithmetic replayed over the MINHASH pair
    set (q176's oracle tail verbatim from ``sym`` on) — the q137/q144
    production-twin pattern applied to the one pair consumer that was
    still registered exact-only (VERDICT r11 item 1)."""
    tail = _Q176_ORACLE.split("sym AS (", 1)[1]
    return (
        f"WITH RECURSIVE {_SHINGLE_CTES},\n"
        + _minhash_pair_ctes(_Q25_THRESHOLD)
        + ",\npairs AS (SELECT doc_a, doc_b FROM mpairs),\nsym AS ("
        + tail
    )


@register(
    "q186_soft_dedup_minhash",
    _q186_oracle(),
    "q176's soft dedup (delta^(j-1) repeat discounting over near-dup "
    "clusters) in its PRODUCTION mode: the MinHash-LSH pair source "
    "(banded md5-signature buckets, exact Jaccard verified on "
    "candidates only — the shape that survives 100 TB) feeding the "
    "same alternating-star closure, copy-rank window and per-language "
    "token pricing.  Fully hash-checked: the md5 MinHash chain is "
    "byte-identical cross-engine (q28/q137/q144 precedent), so the "
    "oracle replays banding, candidate generation, exact verification, "
    "the recursive closure and the discount arithmetic.  MinHash pairs "
    "are a subset of exact pairs at the same threshold, so soft_tokens "
    "here upper-bounds q176's — the pytest twin asserts that ordering "
    "and value-equality on shared clusters.",
    operators=("dedup-soft", "dedup-minhash-lsh", "graph-cc", "W2", "A3"),
)
def q186(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", n=3, threshold=_Q25_THRESHOLD
    ).select("doc_a", "doc_b")
    return dedup.soft_dedup_report(docs, pairs, delta=_Q176_DELTA)


# ---------------------------------------------------------------------------
# q187 — incremental-curation GATE accounting: run_incremental's batch
# classification (rules / perplexity / duplicate_corpus / duplicate_batch /
# kept) as an oracle-checked conformance query (VERDICT r12 item 8 — the
# q132 treatment for the incremental face; the Spark side and
# CurateJob.run_incremental share ONE implementation,
# curation.incremental_gate_attribution)
# ---------------------------------------------------------------------------


def _q187_oracle() -> str:
    """DuckDB replay of the incremental gate on the q147 split (batch =
    doc_id%3=0, standing = the rest): the q122 rule battery on the
    batch only; bigram log-perplexity scored against the STANDING
    pool's add-1 model with INNER-join semantics (a batch doc none of
    whose bigrams appear in the standing model is unscored → stage
    'perplexity', mirroring ``lm.doc_bigram_perplexity(stats=...)``);
    then q147's banded-MinHash candidate generation + exact-Jaccard
    verification restricted to gate survivors, with dup_vs_corpus
    taking precedence over dup_in_batch (keep-first on the smaller
    id)."""
    from ..operators import rules as R

    return f"""
WITH base AS (
    SELECT doc_id, source, text,
           string_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
gated AS (
    SELECT doc_id, text, tk
    FROM base
    WHERE doc_id % 3 = 0
      AND NOT (len(tk) < {R.MIN_TOKENS} OR len(tk) > {R.MAX_TOKENS})
      AND 1.0 * list_sum(list_transform(tk, x -> length(x)))
          / nullif(len(tk), 0) BETWEEN {R.MEAN_LEN_LO} AND {R.MEAN_LEN_HI}
      AND 1.0 * len(list_filter(tk, x -> regexp_matches(x, '[^0-9\\s[:punct:]]')))
          / nullif(len(tk), 0) >= {R.ALPHA_MIN}
      AND coalesce(1.0 * length(regexp_replace(text, '[^[:punct:]]', '', 'g'))
          / nullif(length(text), 0), 0) <= {R.SYMBOL_MAX}
      AND 1.0 - 1.0 * len(list_distinct(tk)) / nullif(len(tk), 0) <= {R.REPEAT_MAX}
      AND 2.0 * list_max(list_transform(list_distinct(
                list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])),
            g -> len(list_filter(
                list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1]),
                x -> x = g)))) / nullif(len(tk), 0) <= {R.TOP_BIGRAM_MAX}
),
sbig AS (
    -- the STANDING pool's bigram model (full pool, ungated: the job
    -- scores batches against the corpus it already accepted)
    SELECT unnest(list_transform(range(1, len(tk)),
                  i -> tk[i] || ' ' || tk[i + 1])) AS bigram
    FROM base WHERE doc_id % 3 <> 0 AND len(tk) >= 2
),
c2 AS (SELECT bigram, count(*) AS c2 FROM sbig GROUP BY bigram),
cp AS (
    SELECT split_part(bigram, ' ', 1) AS prev, count(*) AS cprev
    FROM sbig GROUP BY prev
),
vocab AS (
    SELECT count(DISTINCT t) AS V
    FROM (SELECT unnest(tk) AS t FROM base WHERE doc_id % 3 <> 0)
),
bbig AS (
    SELECT doc_id, len(tk) - 1 AS nb,
           unnest(list_transform(range(1, len(tk)),
                  i -> tk[i] || ' ' || tk[i + 1])) AS bigram
    FROM gated WHERE len(tk) >= 2
),
scored AS (
    -- INNER join: bigrams unseen in the standing model contribute no
    -- term but still count in nb (Spark computes nb before the join)
    SELECT b.doc_id,
           round(-sum(ln((c2.c2 + 1.0) / (cp.cprev + 1.0 * vocab.V))) / b.nb
                 + 1e-9, 6) AS log_ppl
    FROM bbig b
    JOIN c2 USING (bigram)
    JOIN cp ON split_part(b.bigram, ' ', 1) = cp.prev
    CROSS JOIN vocab
    GROUP BY b.doc_id, b.nb
),
survivors AS (
    SELECT g.doc_id FROM gated g JOIN scored s USING (doc_id)
    WHERE s.log_ppl <= {_Q122_PPL}
),
{_SHINGLE_CTES},
{_MINHASH_BANDED_CTES},
cand AS (
    SELECT DISTINCT a.doc_id AS bd, s.doc_id AS sd
    FROM banded a
    JOIN banded s ON a.b = s.b AND a.bucket = s.bucket
    WHERE a.doc_id IN (SELECT doc_id FROM survivors) AND s.doc_id % 3 <> 0
),
bcand AS (
    SELECT DISTINCT a.doc_id AS da, s.doc_id AS db
    FROM banded a
    JOIN banded s ON a.b = s.b AND a.bucket = s.bucket
    WHERE a.doc_id IN (SELECT doc_id FROM survivors)
      AND s.doc_id IN (SELECT doc_id FROM survivors)
      AND a.doc_id < s.doc_id
),
docsh AS (
    SELECT doc_id, list(shingle) AS shset FROM sh GROUP BY doc_id
),
vcross AS (
    SELECT DISTINCT bd
    FROM cand
    JOIN docsh a ON bd = a.doc_id
    JOIN docsh s ON sd = s.doc_id
    WHERE 1.0 * len(list_intersect(a.shset, s.shset))
          / (len(a.shset) + len(s.shset) - len(list_intersect(a.shset, s.shset)))
          >= {_Q25_THRESHOLD}
),
vbatch AS (
    SELECT DISTINCT db
    FROM bcand
    JOIN docsh a ON da = a.doc_id
    JOIN docsh s ON db = s.doc_id
    WHERE 1.0 * len(list_intersect(a.shset, s.shset))
          / (len(a.shset) + len(s.shset) - len(list_intersect(a.shset, s.shset)))
          >= {_Q25_THRESHOLD}
),
attr AS (
    SELECT d.source,
           len(string_split_regex(lower(d.text), '\\s+')) AS n_tokens,
           CASE WHEN g.doc_id IS NULL THEN 'rules'
                WHEN s.log_ppl IS NULL OR s.log_ppl > {_Q122_PPL}
                    THEN 'perplexity'
                WHEN vc.bd IS NOT NULL THEN 'duplicate_corpus'
                WHEN vb.db IS NOT NULL THEN 'duplicate_batch'
                ELSE 'kept' END AS stage
    FROM documents d
    LEFT JOIN gated g ON d.doc_id = g.doc_id
    LEFT JOIN scored s ON d.doc_id = s.doc_id
    LEFT JOIN vcross vc ON d.doc_id = vc.bd
    LEFT JOIN vbatch vb ON d.doc_id = vb.db
    WHERE d.doc_id % 3 = 0
)
SELECT source, stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM attr
GROUP BY source, stage
ORDER BY source, stage
"""


@register(
    "q187_incremental_gate_attribution",
    _q187_oracle(),
    "The incremental-curation gate's accounting as a conformance query "
    "— q132's funnel attribution applied to CurateJob.run_incremental's "
    "batch face on the q147 split (batch = doc_id%3=0 vs the standing "
    "rest): every batch document charged to rules / perplexity (scored "
    "against the STANDING pool's bigram model, the CCNet fixed-model "
    "posture) / duplicate_corpus / duplicate_batch / kept, per source "
    "with token mass.  The Spark side IS the job's gate — "
    "curation.incremental_gate_attribution is called by run_incremental "
    "verbatim — so the oracle gate covers the production job's "
    "classification arithmetic, not a lookalike.  Fully hash-checked: "
    "the oracle replays the rule battery, the inner-join add-1 bigram "
    "scoring and the banded md5 MinHash chain (q147 precedent).",
    operators=("funnel-attribution", "dedup-incremental",
               "dedup-minhash-lsh", "rules", "lm-bigram", "A4"),
)
def q187(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curation

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(col("doc_id") % 3 == 0)
    standing = docs.filter(col("doc_id") % 3 != 0)
    attr, _ = curation.incremental_gate_attribution(
        batch, standing, _Q122_PPL, threshold=_Q25_THRESHOLD
    )
    return (
        attr.groupBy("source", "stage")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("source", "stage")
    )
