"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All hot-path logic is JVM-side builtin expressions (``length``, ``split``,
``filter``, ``regexp_replace``, ``md5``) — zero Python per row, so every
operator stays inside whole-stage codegen and scales linearly with input
bytes. The reference library's only text handling is per-row regex
tokenization in Python (alb_preprocessor.py:47, sysmon_preprocessor.py:23-28);
here the same class of work is vectorized and column-oriented.

Determinism contract: every function here is a pure function of the input
row, reproducible bit-for-bit in ANSI SQL (see ``__spark_entry__.oracle_sql``)
— that is what lets the differential DuckDB oracle gate these operators.
"""

from __future__ import annotations

import pandas

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny embedded stopword lists for the language-ID heuristic. Real
# deployments plug in fasttext/cld3 via mapInPandas (see multimodal.py for
# the plumbing pattern); the heuristic itself is useful for cheap bulk
# filtering at 100 TB because it never leaves the JVM.
STOPWORDS = {
    "en": ["the", "a", "of", "to", "and", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en", "es"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "ich"],
}

PUNCT_RE = r"[^a-zA-Z0-9_ \t]"


def tokens(text: Column) -> Column:
    """Whitespace tokens (single-space split — matches the synthetic corpus
    and the SQL oracle exactly; swap for ``\\s+`` on messy corpora)."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def subword_estimate(text: Column) -> Column:
    """BPE-ish token estimate: ceil(chars/4) — the standard rule-of-thumb
    proxy when the real tokenizer is too expensive for a bulk pass."""
    return F.ceil(F.length(text) / F.lit(4.0)).cast("long")


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, PUNCT_RE, "")
    return F.round(
        (F.length(text) - F.length(stripped)) / F.greatest(F.length(text), F.lit(1)),
        4,
    )


def stopword_hits(text: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(text), lambda x: x.isin(*words))).cast("long")


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    return F.round(
        stopword_hits(text, lang) / F.greatest(token_count(text), F.lit(1)), 4
    )


def lang_id(text: Column) -> Column:
    """Argmax over per-language stopword hit counts; ties break by the
    fixed language order en > es > de; zero hits everywhere -> 'und'."""
    en, es, de = (stopword_hits(text, l) for l in ("en", "es", "de"))
    return (
        F.when((en >= es) & (en >= de) & (en > 0), "en")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("und")
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 over whitespace-normalized lowercase text.
    Survives reformatting; used as the exact-dedup key."""
    norm = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.md5(norm)


# ---------------------------------------------------------------- PII scrub

# Shared-dialect regexes: character classes + bounded quantifiers +
# non-capturing groups only, so Java (Spark) and RE2-style (DuckDB)
# engines match byte-for-byte — required by the differential oracle.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"(?:[0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    ("number", r"[0-9]{4,}", "<NUM>"),
]


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """Mask PII-shaped spans and report per-pattern match counts.

    Output: id, ``masked`` (replacements applied in pattern order — order
    matters: emails are masked before the digit-run rule can eat their
    local part), and ``n_<name>`` counts measured on the ORIGINAL text so
    earlier replacements don't hide later patterns' counts.

    Entirely JVM ``regexp_replace`` / ``regexp_extract_all`` — no Python
    per row, pipelines inside the scan stage, no shuffle. At 100 TB this
    is the cheapest possible shape for a redaction pass: one codegen'd
    projection over the text bytes. (The reference has no redaction
    surface; its custom-source contract would put this in a per-row
    Lambda, cf. reference transformation_function/app.py:112-148.)
    """
    pats = PII_PATTERNS if patterns is None else patterns
    t = F.col(text_col)
    masked = t
    for _, pat, repl in pats:
        masked = F.regexp_replace(masked, pat, repl)
    return df.select(
        F.col(id_col),
        masked.alias("masked"),
        *[
            F.size(F.regexp_extract_all(t, F.lit(pat), 0))
            .cast("long")
            .alias(f"n_{name}")
            for name, pat, _ in pats
        ],
    )


def _isin_pred(words: list[str]):
    return lambda x: x.isin(*words)


def doc_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document stats block — two stacked projections, no shuffle,
    codegen'd. The token array and stopword hit counts are materialized
    once in the first projection; the composite stats (which reference
    them up to four times each) index those instead of re-splitting the
    text per stat. Values are identical to computing each stat
    independently (same formulas, same rounding)."""
    t = F.col(text_col)
    base = df.select(
        F.col(id_col),
        t.alias("__t"),
        tokens(t).alias("__toks"),
    ).select(
        F.col(id_col),
        F.col("__t"),
        F.size("__toks").cast("long").alias("__ntok"),
        # NB: filter lambdas must be UNARY — a second parameter (even a
        # default) makes pyspark pass the element INDEX into it
        *[
            F.size(
                F.filter(F.col("__toks"), _isin_pred(STOPWORDS[lang]))
            ).cast("long").alias(f"__sw_{lang}")
            for lang in ("en", "es", "de")
        ],
    )
    tt, ntok = F.col("__t"), F.col("__ntok")
    en, es, de = (F.col(f"__sw_{lang}") for lang in ("en", "es", "de"))
    stop_ratio = F.round(en / F.greatest(ntok, F.lit(1)), 4)
    pratio = punct_ratio(tt)
    lang_pred = (
        F.when((en >= es) & (en >= de) & (en > 0), "en")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("und")
    )
    len_score = F.least(ntok / F.lit(64.0), F.lit(1.0))
    mean_tok = F.length(tt) / F.greatest(ntok, F.lit(1))
    tok_score = F.when((mean_tok >= 3) & (mean_tok <= 10), 1.0).otherwise(0.5)
    stop_score = F.least(stop_ratio * 4, F.lit(1.0))
    quality = F.floor(
        (0.4 * len_score + 0.2 * tok_score + 0.2 * stop_score + 0.2 * (1 - pratio))
        * 10000 + 0.5
    ).cast("long")
    return base.select(
        F.col(id_col),
        F.length(tt).cast("long").alias("n_chars"),
        ntok.alias("n_tokens"),
        subword_estimate(tt).alias("n_subwords"),
        pratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        lang_pred.alias("lang_pred"),
        fingerprint(tt).alias("fingerprint"),
        quality.alias("quality_bp"),
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_norm",
    lowercase: bool = True,
) -> DataFrame:
    """Canonical text normalization for dedup/tokenizer front-ends:
    Unicode NFC composition, optional lowercasing, ASCII-whitespace
    collapse to single spaces, and edge trim. Adds ``out_col`` plus a
    ``changed`` flag (normalization touched the string) — the flag lets
    a pipeline route only mutated docs into re-tokenization.

    NFC runs on the JVM: ``java_method`` calls ICU4J's
    ``Normalizer.compose`` (icu4j ships in Spark's own jars), then the
    builtin ``lower`` — no Python worker, no Arrow transfer. ICU throws
    on a NULL argument, so a NULL text skips the call and stays NULL.
    The whitespace collapse is JVM-side regexp as well. Deterministic
    per-row function: partitioning-immune, and the DuckDB oracle replays
    it with nfc_normalize + regexp; the NFC + lowercase result is checked
    against Python's ``unicodedata`` on a batch of casing and
    composition edge cases (tests/test_quality_ops.py).
    """
    t = F.col(text_col)
    nfc = F.when(
        t.isNotNull(),
        F.java_method(
            F.lit("com.ibm.icu.text.Normalizer"), F.lit("compose"), t,
            F.lit(False),
        ),
    )
    if lowercase:
        nfc = F.lower(nfc)
    collapsed = F.trim(F.regexp_replace(nfc, "[ \\t\\n\\r]+", " "))
    return df.withColumn(out_col, collapsed).withColumn(
        "changed", F.col(out_col) != F.col(text_col)
    )


# --------------------------------------------------- character entropy gate

def char_entropy(text: Column) -> Column:
    """Shannon entropy (bits/char) of the character distribution of a
    string — the cheap degenerate-text detector (keyboard mash, single
    repeated char, base64 blobs all sit at distribution extremes; CCNet
    and Gopher both gate on it).

    Computed IN-ROW with zero shuffle: ``split('')`` -> ``array_sort``
    -> one linear fold over equal-char runs accumulating ``Σ c·ln c``
    incrementally (when a run reaches length r the term gains
    ``r·ln r − (r−1)·ln(r−1)``), then
    ``H = (ln n − (Σ c·ln c)/n) / ln 2``. Same sorted-run-fold shape as
    repetition.py's Gopher signals — O(L log L) per row inside
    whole-stage codegen, no explode (an explode would shuffle |chars|
    rows: at 100 TB that is the corpus byte count as exchange traffic).
    NULL for empty strings (undefined, not zero).

    Parallelism note: being scan-fused, task count == input split
    count — at real scale the corpus is thousands of files and every
    core folds its own splits; the single-file toy bench runs this
    CPU-bound fold in one task (the 594 KB sf0.1 documents file is one
    parquet split), which is a fixture artifact, not a plan property."""
    chars = F.array_sort(F.split(text, ""))
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0.0).alias("acc"),
    )

    def step(st: Column, x: Column) -> Column:
        run = (
            F.when(x.eqNullSafe(st["prev"]), st["run"] + F.lit(1))
            .otherwise(F.lit(1))
            .cast("long")
        )
        inc = F.when(
            run > 1,
            run.cast("double") * F.log(run.cast("double"))
            - (run - 1).cast("double") * F.log((run - 1).cast("double")),
        ).otherwise(F.lit(0.0))
        return F.struct(
            x.alias("prev"), run.alias("run"), (st["acc"] + inc).alias("acc")
        )

    sum_clnc = F.aggregate(chars, zero, step, lambda st: st["acc"])
    n = F.length(text).cast("double")
    ln2 = 0.6931471805599453
    return F.when(
        n > 0, (F.log(n) - sum_clnc / n) / F.lit(ln2)
    )


def char_entropy_arrow(text: Column) -> Column:
    """Arrow-vectorized backend for :func:`char_entropy` — identical
    value contract (Shannon bits/char over the code-point distribution;
    NULL for empty/NULL input), ~10× the throughput of the Catalyst
    lambda fold at equal scale-correctness.

    The SQL fold above is the declarative reference: it stays inside
    whole-stage codegen but pays a per-character expression-tree
    evaluation (split('') materializes one single-char string per
    character, array_sort compares strings, the fold allocates a struct
    per element). This backend flattens the WHOLE Arrow batch into one
    uint32 code-point array and never loops per row or per char in
    Python: per-doc char histograms come from ONE ``np.unique`` over
    ``doc_idx·2²¹ + codepoint`` composite keys (code points < 2²⁰·1.0625
    so the pack is collision-free), per-doc ``Σ c·ln c`` from ONE
    ``np.bincount`` with weights. Both backends are float64 end-to-end
    and equality-tested in tests/test_textstats_entropy.py.

    Scale shape is identical to the SQL form: a pure projection, zero
    shuffle, parallelism == input split count; the only difference is
    Arrow batch transfer, the standard trade this engine already makes
    for langid (langid.py) and BPE (bpe.py) when the per-char constant
    factor dominates."""
    import math

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _h(s: pandas.Series) -> pandas.Series:
        vals = s.to_numpy(dtype=object)
        n_docs = len(vals)
        if n_docs == 0:
            return pandas.Series(np.empty(0, dtype=np.float64))
        # utf-32-le yields exactly one uint32 per code point, no BOM —
        # bulk C-speed encode per row; no per-character Python anywhere.
        bufs = [
            v.encode("utf-32-le") if isinstance(v, str) else b""
            for v in vals
        ]
        lens = np.fromiter(
            (len(b) >> 2 for b in bufs), dtype=np.int64, count=n_docs
        )
        if int(lens.sum()) == 0:
            return pandas.Series(np.full(n_docs, np.nan))
        flat = np.frombuffer(b"".join(bufs), dtype="<u4").astype(np.int64)
        doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
        uk, counts = np.unique(
            doc_idx * np.int64(1 << 21) + flat, return_counts=True
        )
        c = counts.astype(np.float64)
        uk_doc = (uk >> 21).astype(np.int64)
        sum_clnc = np.bincount(uk_doc, weights=c * np.log(c), minlength=n_docs)
        nn = lens.astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            h = (np.log(nn) - sum_clnc / nn) / math.log(2.0)
        h[lens == 0] = np.nan
        return pandas.Series(h)

    # empty/NULL input must be SQL NULL, not double NaN (Arrow NaN stays
    # NaN through the transfer) — mask it declaratively.
    return F.when(F.length(text) > 0, _h(text))


def entropy_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_bits: float = 2.0,
    max_bits: float = 6.0,
) -> DataFrame:
    """Per-document entropy quality gate: emit id, entropy (4 dp), and
    keep/reject with the reject reason — the same persisted-reject
    discipline as corpus_filter / the mapping pipeline (rejects are
    routed, never silently dropped). Pure projection; scales with bytes.
    Entropy comes from the batch-flattened numpy histogram,
    :func:`char_entropy_arrow`."""
    h = char_entropy_arrow(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.round(h, 4).alias("entropy_bits"),
        F.when(h.isNull(), F.lit("empty"))
        .when(h < min_bits, F.lit("low_entropy"))
        .when(h > max_bits, F.lit("high_entropy"))
        .alias("reject_reason"),
    ).withColumn("keep", F.col("reject_reason").isNull())
