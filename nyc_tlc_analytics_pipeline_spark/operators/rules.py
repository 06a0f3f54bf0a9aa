"""Gopher/C4-style quality-rule filters for training-data curation.

The rule battery runs as one Arrow batch kernel (``mapInArrow``) per
corpus pass: no shuffle, map-only, so it costs one corpus read at any
scale (the published pipelines — Gopher rules, C4 heuristics — are
exactly this shape: cheap per-document predicates applied before any
pairwise dedup).  Tokenization stays in the JVM (``text.tokens``); the
kernel dictionary-encodes the flattened tokens of a batch once and
derives every per-document statistic from integer segment arithmetic,
so the repetition rules cost O(tokens log tokens) per batch instead of
Catalyst's interpreted per-element array lambdas.  Every ratio is a
single IEEE division of exact integer counts, which is what keeps the
flags identical to the DuckDB oracle SQL (q49, q55).

Rule battery (token-adapted from the Gopher paper's Table A1 — the
line-based rules are omitted because this corpus is single-line):

- token count within [min_tokens, max_tokens]
- mean token length within [2, 10]
- ≥ 80% of tokens contain an alphabetic character (any script)
- symbol ratio (ASCII punctuation chars / all chars) ≤ 10%
- repeated-token fraction (1 − distinct/total) ≤ 60%
- top-bigram coverage (2 · max bigram frequency / tokens) ≤ 10%
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from . import text


def mean_token_length(toks: Column) -> Column:
    return F.aggregate(
        toks, lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ) / F.nullif(F.size(toks), lit(0))


# thresholds: module-level so the oracle SQL derives from the same values
MIN_TOKENS = 20
MAX_TOKENS = 1000
MEAN_LEN_LO = 2.0
MEAN_LEN_HI = 10.0
ALPHA_MIN = 0.8
SYMBOL_MAX = 0.1
REPEAT_MAX = 0.6
TOP_BIGRAM_MAX = 0.1


RULE_FLAG_NAMES = (
    "bad_length",
    "bad_mean_len",
    "bad_alpha",
    "bad_symbols",
    "bad_repetition",
    "bad_top_bigram",
)


#: ASCII punctuation, exactly Java's non-UNICODE_CHARACTER_CLASS
#: ``\p{Punct}`` (0x21-0x2F, 0x3A-0x40, 0x5B-0x60, 0x7B-0x7E) — re2
#: character-class form for the Arrow kernel
_PUNCT_RE2 = r"[!-/:-@\[-`{-~]"
#: a character that makes a token "alphabetic": anything outside
#: digits / ASCII punct / Java ``\s`` (= [ \t\n\x0B\f\r]), i.e. the
#: Java regex ``[^0-9\p{Punct}\s]`` — so CJK scripts pass
_ALPHA_RE2 = r"[^0-9!-/:-@\[-`{-~ \t\n\x0B\f\r]"


def apply_rules(
    df: DataFrame, text_col: str = "text", toks: Column | str | None = None
) -> DataFrame:
    """Attach the per-rule violation flags (True = rule VIOLATED, matching
    how curation pipelines report per-rule rejection counts; named in
    ``RULE_FLAG_NAMES``) and the overall ``rules_pass`` verdict.

    ``toks``: optionally a pre-computed token-array column (semantics of
    :func:`operators.text.tokens`).  Pipelines that tokenize once and
    feed several consumers (gate + decontam + token counts — the q55
    funnel) pass it to avoid re-splitting the text per consumer.

    One ``mapInArrow`` kernel computes all six flags per batch: it
    consumes the token LIST column zero-copy (child values + offsets),
    dictionary-encodes the flattened tokens ONCE (C++), and derives the
    statistics from integer segment arithmetic:

    - token count / mean length: cumsum of ``utf8_length`` over offsets;
    - alpha fraction: cumsum of one vectorized re2 match over tokens;
    - symbol ratio: ``count_substring_regex`` over the raw text column;
    - distinct fraction / top-bigram: one global ``np.unique`` over
      (row, code) and (row, bigram) keys (bigram = code[i]·V + code[i+1];
      tokens cannot contain whitespace, so code-pair identity ==
      joined-string identity).

    Null semantics are Spark SQL's with legacy ``size(null) = -1``: null
    tokens set ``bad_length``, leave ``bad_mean_len`` null and the
    alpha/repetition/top-bigram flags False; an empty token array leaves
    those three and ``bad_mean_len`` null; ``bad_symbols`` is False on
    null or empty text; ``rules_pass`` is the three-valued NOT(OR) of the
    six flags.  Columns of ``df`` pass through unchanged.
    """
    tk = toks if isinstance(toks, str) else "__rules_tk"
    if tk == "__rules_tk":
        df = df.withColumn(tk, text.tokens(text_col) if toks is None else toks)

    in_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    out_schema = (
        in_fields
        + ", "
        + ", ".join(f"{n} boolean" for n in RULE_FLAG_NAMES)
        + ", rules_pass boolean"
    )
    min_t, max_t = MIN_TOKENS, MAX_TOKENS
    len_lo, len_hi = MEAN_LEN_LO, MEAN_LEN_HI
    alpha_min, sym_max = ALPHA_MIN, SYMBOL_MAX
    rep_max, bigram_max = REPEAT_MAX, TOP_BIGRAM_MAX
    text_name = text_col

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            m = rb.num_rows
            if m == 0:
                continue
            lst = rb.column(rb.schema.get_field_index(tk))
            if isinstance(lst, pa.ChunkedArray):  # defensive; batches are flat
                lst = lst.combine_chunks()
            txt = rb.column(rb.schema.get_field_index(text_name))
            tk_valid = lst.is_valid().to_numpy(zero_copy_only=False)
            off = lst.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            flat = lst.values
            # one C++ pass each over the flattened tokens
            tok_len = pc.utf8_length(flat).to_numpy(zero_copy_only=False)
            tok_alpha = pc.match_substring_regex(flat, _ALPHA_RE2).to_numpy(
                zero_copy_only=False
            )
            codes_arr = pc.dictionary_encode(flat)
            codes = codes_arr.indices.to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            vocab = np.int64(len(codes_arr.dictionary))
            cs_len = np.concatenate(
                ([0], np.cumsum(tok_len.astype(np.int64)))
            )
            cs_alpha = np.concatenate(
                ([0], np.cumsum(tok_alpha.astype(np.int64)))
            )
            # symbol ratio inputs (raw text column)
            txt_valid = txt.is_valid().to_numpy(zero_copy_only=False)
            n_sym = pc.count_substring_regex(txt, _PUNCT_RE2).to_numpy(
                zero_copy_only=False
            )
            n_chr = pc.utf8_length(txt).to_numpy(zero_copy_only=False)

            # ---- fully vectorized per-row flags (no Python row loop) ----
            # offsets are ABSOLUTE indices into lst.values (the raw
            # child), even for sliced arrays — verified.  n per row:
            n = off[1:] - off[:-1]
            # null rows contribute nothing; their offset span is not
            # guaranteed empty, so gather segments through an explicit
            # index (contiguity across rows is then irrelevant)
            n_eff = np.where(tk_valid, n, 0).astype(np.int64)
            nonempty = tk_valid & (n > 0)
            # segment sums from the cumsums at the row boundaries: exact
            # integer sums and one IEEE division, as the oracle SQL
            # computes them (parity-critical)
            seg_len = cs_len[off[1:]] - cs_len[off[:-1]]
            seg_alpha = cs_alpha[off[1:]] - cs_alpha[off[:-1]]
            with np.errstate(divide="ignore", invalid="ignore"):
                mean_len = seg_len / n
                alpha_frac = seg_alpha / n
                sym_ratio = n_sym.astype(np.float64) / n_chr.astype(
                    np.float64
                )

            # bad_symbols: coalesce(ratio, 0.0) > max — False on null
            f_sym = np.where(
                txt_valid & (n_chr > 0), sym_ratio > sym_max, False
            )
            # Spark SQL under legacy sizeOfNull (ansi off):
            # size(null) = -1, so bad_length is TRUE on null tokens,
            # alpha = -1/-1 = 1.0 (False), repetition 0.0 (False),
            # top-bigram -0.0 (False); only mean_len stays null
            f_len = np.where(tk_valid, (n < min_t) | (n > max_t), True)
            f_mean = np.where(
                nonempty, ~((mean_len >= len_lo) & (mean_len <= len_hi)), False
            )
            f_alpha = np.where(nonempty, alpha_frac < alpha_min, False)

            # distinct / top-bigram counts over ALL rows at once: gather
            # every valid row's codes behind a row-id, then one global
            # np.unique per statistic
            starts = off[:-1]
            cum = np.concatenate(([0], np.cumsum(n_eff)))
            total = int(cum[-1])
            gather = np.repeat(starts, n_eff) + (
                np.arange(total, dtype=np.int64)
                - np.repeat(cum[:-1], n_eff)
            )
            codes_g = codes[gather]
            row_ids = np.repeat(np.arange(m, dtype=np.int64), n_eff)
            drow = np.zeros(m, dtype=np.int64)
            mx = np.zeros(m, dtype=np.int64)
            if total:
                uniq_rows = np.unique(row_ids * vocab + codes_g) // vocab
                drow += np.bincount(uniq_rows, minlength=m)
                within = row_ids[1:] == row_ids[:-1]
                if within.any():
                    r = row_ids[1:][within]
                    bg = codes_g[:-1][within] * vocab + codes_g[1:][within]
                    # keyed unique needs m·vocab² < 2^63; fall back to a
                    # lexsorted pair unique for pathological vocabularies
                    if vocab > 0 and m * vocab * vocab < (1 << 62):
                        uk, cnt = np.unique(
                            r * (vocab * vocab) + bg, return_counts=True
                        )
                        rows_u = uk // (vocab * vocab)
                    else:
                        order = np.lexsort((bg, r))
                        rs, bs = r[order], bg[order]
                        new = np.concatenate(
                            ([True], (rs[1:] != rs[:-1]) | (bs[1:] != bs[:-1]))
                        )
                        idx = np.flatnonzero(new)
                        cnt = np.diff(np.concatenate((idx, [len(rs)])))
                        rows_u = rs[idx]
                    np.maximum.at(mx, rows_u, cnt)
            with np.errstate(divide="ignore", invalid="ignore"):
                f_rep = np.where(nonempty, (1.0 - drow / n) > rep_max, False)
                f_big = np.where(nonempty, (mx * 2.0) / n > bigram_max, False)

            # null masks: mean is null when tokens are null OR empty;
            # the other array stats only when non-null-but-empty
            null_mean = ~nonempty
            null_stats = tk_valid & (n == 0)
            # rules_pass = NOT (f1 OR ... OR f6), three-valued OR
            any_true = (
                f_len
                | (f_mean & ~null_mean)
                | (f_alpha & ~null_stats)
                | f_sym
                | (f_rep & ~null_stats)
                | (f_big & ~null_stats)
            )
            any_null = null_mean | null_stats
            rp_null = ~any_true & any_null
            rp = ~any_true

            def _b(values, mask=None):
                return pa.array(
                    values.astype(bool),
                    type=pa.bool_(),
                    mask=None if mask is None else mask.astype(bool),
                )

            arrays = list(rb.columns) + [
                _b(f_len),
                _b(f_mean, null_mean),
                _b(f_alpha, null_stats),
                _b(f_sym),
                _b(f_rep, null_stats),
                _b(f_big, null_stats),
                _b(rp, rp_null),
            ]
            names = list(rb.schema.names) + list(RULE_FLAG_NAMES) + [
                "rules_pass"
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    out = df.mapInArrow(kernel, out_schema)
    return out if tk == toks else out.drop(tk)


def filter_by_rules(
    df: DataFrame, text_col: str = "text", toks: Column | str | None = None
) -> DataFrame:
    """Keep only rule-passing documents (the curation gate form)."""
    return apply_rules(df, text_col, toks).filter(col("rules_pass"))
