"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure column expressions (JVM-side, whole-stage-codegen) —
no Python UDFs — so they scale linearly with partitions and survive a
100 TB corpus.  Tokenization is a simple whitespace/regex split; language ID
is an n-gram/stopword heuristic (deterministic, oracle-replicable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit, when

# Tiny per-language stopword profiles for the heuristic language ID.
# Deterministic and SQL-replicable; real pipelines would swap in fastText —
# the Spark plumbing (column-expression scoring, argmax CASE) is the point.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in"),
    "es": ("el", "la", "de", "y", "que", "en"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "de", "et", "est", "un"),
    "zh": ("的", "是", "了", "在", "和", "有"),
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of lower-cased text."""
    c = col(text) if isinstance(text, str) else text
    return F.split(F.lower(c), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def char_count(text: Column | str) -> Column:
    c = col(text) if isinstance(text, str) else text
    return F.length(c)


def punct_ratio(text: Column | str) -> Column:
    """Share of characters that are not alphanumeric/whitespace."""
    c = col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(F.lower(c), r"[a-z0-9\s]", "")
    return F.length(stripped) / F.nullif(F.length(c), lit(0))


def stopword_hits(text: Column | str, words: tuple[str, ...]) -> Column:
    """Number of tokens that appear in ``words``."""
    toks = tokens(text)
    arr = F.array(*[lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def stopword_ratio(text: Column | str, words: tuple[str, ...]) -> Column:
    return stopword_hits(text, words) / F.nullif(token_count(text), lit(0))


def quality_score(text: Column | str, stop_langs: tuple[str, ...] = ("en",)) -> Column:
    """Heuristic document quality in [0, 1]:
    length component (saturating at 200 tokens), low punctuation noise, and
    stopword presence — the standard cheap pre-filter for LLM training data.
    """
    n_tok = token_count(text)
    length_component = F.least(n_tok / lit(200.0), lit(1.0))
    punct_component = lit(1.0) - F.least(punct_ratio(text) * 5.0, lit(1.0))
    all_stops: tuple[str, ...] = tuple(w for lang in stop_langs for w in LANG_STOPWORDS[lang])
    stop_component = F.least(stopword_ratio(text, all_stops) * 4.0, lit(1.0))
    return (length_component + punct_component + stop_component) / lit(3.0)


def lang_scores(text: Column | str) -> dict[str, Column]:
    return {lang: stopword_hits(text, words) for lang, words in LANG_STOPWORDS.items()}


def predicted_lang(text: Column | str) -> Column:
    """Argmax of per-language stopword hits; ties break by language-code
    order; no hits at all → 'und' (undetermined)."""
    scores = lang_scores(text)
    langs = sorted(scores)
    best = scores[langs[0]]
    best_lang: Column = lit(langs[0])
    for lang in langs[1:]:
        is_better = scores[lang] > best
        best_lang = when(is_better, lit(lang)).otherwise(best_lang)
        best = when(is_better, scores[lang]).otherwise(best)
    return when(best > 0, best_lang).otherwise(lit("und"))


# BPE-ish pre-tokenization pattern: letter runs, digit runs, single
# punctuation marks — the standard first pass before byte-pair merging.
# Kept to a regex subset with identical semantics in Java (Spark) and
# DuckDB's RE2-style engine.
BPE_TOKEN_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def bpe_token_count(text: Column | str) -> Column:
    """Token count under the BPE-ish pre-tokenizer (vs whitespace
    tokens: punctuation splits off, digit runs separate)."""
    c = col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(F.lower(c), lit(BPE_TOKEN_PATTERN), lit(0)))


def chunk_starts(toks: Column, stride: int) -> Column:
    """0-based start offsets of overlapping token-window chunks:
    ``0, stride, 2*stride, ...`` strictly below ``max(n_tokens, 1)`` —
    i.e. the last chunk always exists (an empty/1-token document yields
    exactly one chunk at offset 0) and starts are the same set DuckDB's
    ``range(0, greatest(len(toks), 1), stride)`` produces.  Explode the
    result and ``slice(toks, start+1, window)`` for the chunk itself:
    all map-side, no shuffle until the downstream aggregate."""
    return F.sequence(
        lit(0), F.greatest(F.size(toks) - 1, lit(0)), lit(stride)
    )


def rolling_fingerprint(text: Column | str, modulus: int = 1_000_000_007) -> Column:
    """Order-sensitive rolling (polynomial) hash over whitespace tokens:
    ``h = (h * 131 + len(tok) * 7 + first_char_code) mod p`` — a
    Rabin-Karp-style fingerprint expressible identically in the oracle
    engine (checked arithmetic forbids wrap-around, hence the modulus).
    Unlike the md5 fingerprint this changes when token ORDER changes."""
    toks = tokens(text)
    step = lambda acc, t: (  # noqa: E731
        acc * 131 + F.length(t) * 7 + F.coalesce(F.ascii(F.substring(t, 1, 1)), lit(0))
    ) % modulus
    return F.aggregate(toks, lit(0).cast("long"), step)


def fingerprint(text: Column | str, length: int = 16) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (lower-cased, whitespace collapsed), truncated to ``length`` hex chars.
    Identical output in the DuckDB oracle (md5 hex matches)."""
    c = col(text) if isinstance(text, str) else text
    normalized = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.substring(F.md5(normalized), 1, length)


def word_ngrams(text: Column | str, n: int = 2, sep: str = " ") -> Column:
    """Array of word-level n-grams (space-joined token windows) over the
    whitespace tokenization.  Empty array when the document has fewer
    than ``n`` tokens (the bare ``sequence(1, size-n+1)`` would count
    DOWN and fabricate grams)."""
    toks = tokens(text)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), sep),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_heavy_hitters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    k: int = 25,
) -> DataFrame:
    """Corpus-wide top-``k`` most frequent word n-grams with total
    occurrences and document frequency.

    Scale shape: explode → two-level aggregate.  The first groupBy on
    (ngram, doc) gets map-side partial aggregation (each doc's grams are
    co-located in its input split, so the combiner collapses within-doc
    repeats before the shuffle); the second groupBy on ngram alone then
    moves one row per (ngram, doc).  Top-k plans as
    TakeOrderedAndProject — per-partition heaps, no global sort.
    (occurrences DESC, ngram) is a total order, so the cut at ``k`` is
    deterministic."""
    grams = df.select(
        col(id_col).alias("doc"),
        F.explode(word_ngrams(text_col, n)).alias("ngram"),
    )
    per_doc = grams.groupBy("ngram", "doc").agg(F.count("*").alias("c"))
    return (
        per_doc.groupBy("ngram")
        .agg(
            F.sum("c").alias("occurrences"),
            F.count("*").alias("doc_freq"),
        )
        .orderBy(col("occurrences").desc(), "ngram")
        .limit(k)
    )


def feature_hash_vectors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
) -> DataFrame:
    """Hashing-trick text vectors (Weinberger et al. 2009): each token
    lands in bucket ``md5(token) % dim`` with a ±1 sign from another
    digest bit, summed per (doc, bucket) — a model-free text→vector
    bridge whose dimensionality is FIXED regardless of vocabulary, so
    the output frame is (docs × ≤dim) sparse rows no matter how the
    corpus grows.

    Returns the SPARSE form (id, bucket, val) — dot products between
    docs join on (id, bucket) and never materialize dense vectors; both
    hashes are md5-derived, so any SQL oracle reproduces the exact
    vectors.  One explode + one (doc, bucket)-keyed aggregate."""
    tok = df.select(id_col, F.explode(tokens(text_col)).alias("token"))
    bucket = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast(
        "long"
    ) % lit(int(dim))
    sign = F.when(
        F.conv(F.substring(F.md5("token"), 9, 1), 16, 10).cast("long") % 2
        == 0,
        1,
    ).otherwise(-1)
    return tok.groupBy(id_col, bucket.alias("bucket")).agg(
        F.sum(sign).alias("val")
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (vocab-weighted — the scalable shape)
# ---------------------------------------------------------------------------

def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 6,
):
    """Byte-pair-encoding merge learning (Sennrich et al. 2016) with the
    shape that scales: ONE corpus pass builds the frequency-weighted word
    vocabulary (a token-keyed count — |vocab| rows, model-sized), and
    every merge round then runs on that vocab frame alone, never
    re-touching the corpus.  At 100 TB the corpus pass is the usual
    explode+count shuffle; the per-round state (vocab × current
    segmentation) is tokenizer-sized, exactly like k-means centroids.

    Each word is kept as a wrapped-symbol string ``<h><e><l><l><o>`` so
    a merge is a plain (non-regex) left-to-right ``replace`` of
    ``<a><b>`` with ``<ab>`` — occurrences never share characters, so
    both Spark and any SQL oracle apply identical non-overlapping
    merges.  Pair counts weight by word frequency and count every
    adjacent occurrence (the classic get_stats); the argmax merge
    tie-breaks (count DESC, left, right) for a fully deterministic
    trajectory.

    Per round, the only driver-side data is ONE 1-row aggregate: the
    (count DESC, l, r) argmax via ``min_by`` over the (-count, l, r)
    struct order AND the total weighted pair-occurrence count, in the
    same job.  The total is what makes the per-round stat free: every
    word's symbol count is its adjacent-pair count + 1, so

        Σ_w freq·symbols(w) = Σ_w freq + Σ_pairs count = total_freq + tot

    — the weighted mean symbols-per-word after merge r is computed
    analytically from round r+1's pair totals (one trailing aggregate
    covers the final merge), halving the Spark jobs per merge round vs
    a separate post-merge stat pass.  Returns a list of
    ``(round, left, right, pair_count, avg_symbols_after)`` — the
    learned merge table plus the weighted mean symbols-per-word after
    applying each merge (proof the merge was applied, not just
    counted)."""
    vocab = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            F.regexp_replace("w", "(.)", "<$1>").alias("w"), "freq"
        )
        .localCheckpoint()
    )
    total_freq = int(
        vocab.agg(F.sum("freq").alias("tf")).collect()[0].tf or 0
    )

    def stat_after(tot_pairs) -> float:
        # nudge-rounded like functions/scalar.rnd so the value equals
        # the oracle's round(sum(freq*symbols)/sum(freq) + 1e-9, 6)
        if total_freq == 0:
            return 0.0
        return round(
            (total_freq + int(tot_pairs or 0)) / total_freq + 1e-9, 6
        )

    def pair_summary(v):
        arr = F.split(F.expr("substring(w, 2, length(w) - 2)"), "><")
        n = F.size(arr)
        pairs = F.when(
            n >= 2,
            F.zip_with(
                F.slice(arr, lit(1), n - lit(1)),
                F.slice(arr, lit(2), n - lit(1)),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        pc = (
            v.select("freq", F.explode(pairs).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("c"))
        )
        # argmax by (c DESC, l, r) == min over the (-c, l, r) struct
        # order; same job also reduces Σc for the analytic stat
        return pc.agg(
            F.min_by(
                F.struct("l", "r", "c"),
                F.struct((-col("c")).alias("nc"), col("l"), col("r")),
            ).alias("best"),
            F.sum("c").alias("tot"),
        ).collect()[0]

    merges = []
    prev = None  # the merge awaiting its post-merge stat
    for r in range(1, n_merges + 1):
        row = pair_summary(vocab)
        if prev is not None:
            merges.append((*prev, stat_after(row.tot)))
        if row.best is None:
            prev = None
            break
        left, right, cnt = row.best.l, row.best.r, int(row.best.c)
        vocab = vocab.select(
            F.replace(
                col("w"),
                lit(f"<{left}><{right}>"),
                lit(f"<{left}{right}>"),
            ).alias("w"),
            "freq",
        ).localCheckpoint()
        prev = (r, left, right, cnt)
    if prev is not None:
        merges.append((*prev, stat_after(pair_summary(vocab).tot)))
    return merges


def bpe_encode_symbol_count(
    text: Column | str, merges: list[tuple]
) -> Column:
    """Symbols-per-document under a learned BPE merge table — the
    ENCODE side of :func:`bpe_train_merges`, fully map-side: wrap every
    non-space character (``<a><b> <c>``, so merges can never cross a
    word boundary), apply the merges in learned order as plain
    non-overlapping replaces (the Sennrich encode loop), and count the
    remaining symbols.  The merge table is model-sized and baked into
    the expression as literals — tokenization of a 100 TB corpus is a
    pure scan-side projection, no shuffle, no UDF."""
    c = col(text) if isinstance(text, str) else text
    s = F.regexp_replace(F.lower(c), r"(\S)", "<$1>")
    for m in merges:
        left, right = m[1], m[2]
        s = F.replace(
            s, lit(f"<{left}><{right}>"), lit(f"<{left}{right}>")
        )
    return (F.length(s) - F.length(F.replace(s, lit("<"), lit("")))).cast(
        "long"
    )


def session_transcripts(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    token_col: str = "event_type",
) -> DataFrame:
    """Assemble TRAINING DOCUMENTS from an event log: gap-sessionize
    (q19's lag + running-sum machinery), then concatenate each
    session's tokens in (ts, id) order into one transcript — the
    logs→corpus step behavioral-sequence models train on (each session
    becomes a document; the token stream is the ordered action
    sequence).

    Returns one row per session: ``n_events``, exact integer
    ``duration_s``, and the md5 ``transcript_fp`` of the space-joined
    transcript (the fingerprint, not the raw text, keeps the row narrow
    and is what the dedup index consumes anyway).

    Scale shape: the session boundary comes from the SHARED
    :func:`~..temporal.sessionize` (two windows per user partition —
    q19 calls the same helper, so the gap rule can never drift), then
    one groupBy (user, session) whose collect_list is bounded by
    session length; array_sort on the (ts, id, token) struct makes the
    assembled order total and layout-independent.
    """
    from ..functions.scalar import to_epoch
    from .temporal import sessionize

    sess = sessionize(
        events.select(col(user_col), col(ts_col), col(id_col), col(token_col)),
        gap_seconds=gap_seconds,
        user_col=user_col,
        ts_col=ts_col,
        id_col=id_col,
    )
    transcript = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(col(ts_col), col(id_col), col(token_col)))
            ),
            lambda s: s[token_col],
        ),
        " ",
    )
    return (
        sess.groupBy(col(user_col), col("session_seq"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            (to_epoch(F.max(ts_col)) - to_epoch(F.min(ts_col)))
            .cast("long")
            .alias("duration_s"),
            F.md5(transcript).alias("transcript_fp"),
        )
        .orderBy(user_col, "session_seq")
    )
