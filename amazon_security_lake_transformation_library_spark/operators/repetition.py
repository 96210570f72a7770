"""Repetition / natural-language quality signals for corpus filtering
(Gopher-style), corpus n-gram heavy hitters, and TF-IDF term scoring.

Scale design
------------
``repetition_stats`` is **shuffle-free**: every signal is a pure function
of one document row, computed with JVM array higher-order functions
(``split`` / ``array_sort`` / ``transform`` / ``aggregate``). The
classical formulation (explode n-grams, groupBy (doc_id, gram), re-group
by doc) costs two corpus-wide shuffles whose key cardinality is
#grams ≈ #tokens — at 100 TB that is the dominant cost of the whole
quality pass. Here the "group by gram within doc" happens inside the row:
sort the per-doc gram array once, then a single linear fold over runs of
equal grams yields both the max-frequency gram's character coverage and
the duplicated-gram character mass. Per-row cost is O(G log G) for G
grams in one document — bounded by document length, independent of corpus
size — and the whole operator pipelines inside one scan stage.

The DuckDB oracle for these queries intentionally uses the *other*
algorithm (UNNEST → GROUP BY gram → re-aggregate per doc), so the
differential gate compares two independent implementations.

``top_ngrams`` / ``tf_idf_top_terms`` are corpus-level and genuinely need
a shuffle on the gram/term key; both rely on map-side partial aggregation
(hash-agg combine before exchange) so the shuffled volume is the distinct
vocabulary per partition, not the token stream.

Signal definitions follow Rae et al., "Scaling Language Models: ... Gopher"
(arXiv 2112.11446) Table A1: fraction of characters in the most frequent
{2,3,4}-gram, fraction of characters in duplicated {5..10}-grams, and
duplicate line fractions. The reference library has no text-quality
surface at all (its only text handling is per-row log-line regex,
alb_preprocessor.py / sysmon_preprocessor.py); this module is part of the
LLM-training-pipeline extension mandated by the north rule.

Determinism: every output is reproducible in ANSI SQL; floats are rounded
to 4 decimals and ``+ 0.0`` normalizes negative zero (driver hash-gate
contract, see ``__spark_entry__``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import persist_tracked

__all__ = [
    "ngram_array",
    "top_run_chars",
    "dup_run_chars",
    "repetition_stats",
    "line_stats",
    "top_ngrams",
    "tf_idf_top_terms",
    "corpus_filter",
    "pmi_collocations",
]


def _r4(c: Column) -> Column:
    return F.round(c, 4) + F.lit(0.0)


def ngram_array(words: Column, n: int) -> Column:
    """Word n-grams of ``words`` as a string array (space-joined).

    Built with ``transform(sequence(1, nw-n+1), i -> concat_ws(' ',
    slice(words, i, n)))`` — the expression tree is O(1) in both ``n``
    and document length (no Python-side unrolling; see the round-2
    SimHash plan-width finding, BASELINE.md §5.6).
    """
    nw = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(1), nw - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    # sequence(1, k) with k < 1 would count DOWN — guard short docs.
    return F.when(nw >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _sorted_run_fold(sorted_grams: Column, merge, finish) -> Column:
    """Linear fold over runs of equal values in a sorted string array.

    State is ``struct(prev string, run long, acc long)``; ``merge`` maps
    (state, element, new_run_length) -> new acc; ``finish`` extracts the
    result. Runs of equal grams are adjacent after ``array_sort``, so one
    pass recovers per-gram counts without any grouping shuffle.
    """
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("acc"),
    )

    def step(st: Column, x: Column) -> Column:
        new_run = (
            F.when(x.eqNullSafe(st["prev"]), st["run"] + F.lit(1))
            .otherwise(F.lit(1))
            .cast("long")
        )
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            merge(st["acc"], x, new_run).alias("acc"),
        )

    return F.aggregate(sorted_grams, zero, step, finish)


def top_run_chars(grams: Column) -> Column:
    """Characters covered by the most frequent gram: max over distinct
    grams of count * length(gram). Equal-gram runs are adjacent in the
    sorted array, so the running ``run * length`` maximum is exact."""
    return _sorted_run_fold(
        F.array_sort(grams),
        lambda acc, x, run: F.greatest(acc, run * F.length(x).cast("long")),
        lambda st: st["acc"],
    )


def dup_run_chars(grams: Column) -> Column:
    """Characters covered by ALL occurrences of grams appearing >= 2
    times (first occurrence included: when a run reaches 2 the fold adds
    2*len, each further repeat adds len)."""
    return _sorted_run_fold(
        F.array_sort(grams),
        lambda acc, x, run: acc
        + F.when(run == 2, F.lit(2) * F.length(x).cast("long"))
        .when(run > 2, F.length(x).cast("long"))
        .otherwise(F.lit(0).cast("long")),
        lambda st: st["acc"],
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 8, 10),
) -> DataFrame:
    """Per-document Gopher repetition signals — zero shuffle, one scan.

    Output: id, n_words, dup_word_frac (1 - distinct/total tokens),
    top{n}_char_frac for n in ``top_ns`` (chars in the most frequent
    n-gram / total chars), dup{n}_char_frac for n in ``dup_ns`` (chars in
    duplicated n-grams / total chars, clamped to 1 — occurrences can
    overlap so the raw mass may exceed the text length).
    """
    t = F.col(text_col)
    base = df.select(
        F.col(id_col),
        t.alias("__t"),
        F.length(t).cast("long").alias("__nc"),
        F.split(t, " ").alias("__w"),
    )
    nw = F.size("__w").cast("long")
    nc = F.greatest(F.col("__nc"), F.lit(1)).cast("double")
    cols = [
        F.col(id_col),
        nw.alias("n_words"),
        _r4(
            (nw - F.size(F.array_distinct("__w")).cast("long"))
            / F.greatest(nw, F.lit(1))
        ).alias("dup_word_frac"),
    ]
    for n in top_ns:
        cols.append(
            _r4(top_run_chars(ngram_array(F.col("__w"), n)) / nc).alias(
                f"top{n}_char_frac"
            )
        )
    for n in dup_ns:
        cols.append(
            _r4(
                F.least(
                    dup_run_chars(ngram_array(F.col("__w"), n)) / nc,
                    F.lit(1.0),
                )
            ).alias(f"dup{n}_char_frac")
        )
    return base.select(*cols)


def corpus_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    max_dup_word_frac: float = 0.5,
    max_top2_char_frac: float = 0.20,
    max_dup5_char_frac: float = 0.15,
    mean_word_len_range: tuple[float, float] = (3.0, 10.0),
) -> DataFrame:
    """The composed Gopher-style quality GATE a pretraining pipeline runs:
    every rule evaluated in ONE shuffle-free projection over the scan
    (no join between signal tables — the signals share the tokenized
    array, so Catalyst keeps the whole thing in one codegen stage).

    Output: id, keep (no rule fired), reasons (comma-joined names of the
    rules that fired, in fixed order — '' when keep). Thresholds follow
    Rae et al. 2112.11446 Table A1 defaults; all are parameters because
    real pipelines tune them per-source.
    """
    t = F.col(text_col)
    base = df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("__nc"),
        F.split(t, " ").alias("__w"),
    )
    nw = F.size("__w").cast("long")
    nc = F.greatest(F.col("__nc"), F.lit(1)).cast("double")
    word_chars = F.aggregate(
        F.col("__w"), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    mean_wl = word_chars.cast("double") / F.greatest(nw, F.lit(1))
    dup_word = (nw - F.size(F.array_distinct("__w")).cast("long")) / F.greatest(
        nw, F.lit(1)
    )
    top2 = top_run_chars(ngram_array(F.col("__w"), 2)) / nc
    dup5 = F.least(
        dup_run_chars(ngram_array(F.col("__w"), 5)) / nc, F.lit(1.0)
    )
    lo, hi = mean_word_len_range
    reasons = F.concat_ws(
        ",",
        F.when((nw < min_words) | (nw > max_words), F.lit("word_count")),
        F.when(mean_wl < lo, F.lit("mean_word_len_low")),
        F.when(mean_wl > hi, F.lit("mean_word_len_high")),
        F.when(dup_word > max_dup_word_frac, F.lit("dup_words")),
        F.when(top2 > max_top2_char_frac, F.lit("top_bigram")),
        F.when(dup5 > max_dup5_char_frac, F.lit("dup_5grams")),
    )
    return base.select(
        F.col(id_col),
        (F.length(reasons) == 0).alias("keep"),
        reasons.alias("reasons"),
    )


def line_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Duplicate-line fractions (Gopher's doc-structure signals), same
    shuffle-free shape: id, n_lines, dup_line_frac (count basis),
    dup_line_char_frac (character basis, all occurrences of lines seen
    >= 2 times over total line chars). Blank/whitespace-only lines are
    dropped before counting."""
    lines = F.filter(
        F.split(F.col(text_col), sep), lambda x: F.length(F.trim(x)) > 0
    )
    base = df.select(F.col(id_col), lines.alias("__l"))
    nl = F.size("__l").cast("long")
    line_chars = F.aggregate(
        F.col("__l"),
        F.lit(0).cast("long"),
        lambda a, x: a + F.length(x).cast("long"),
    )
    return base.select(
        F.col(id_col),
        nl.alias("n_lines"),
        _r4(
            (nl - F.size(F.array_distinct("__l")).cast("long"))
            / F.greatest(nl, F.lit(1))
        ).alias("dup_line_frac"),
        _r4(
            dup_run_chars(F.col("__l"))
            / F.greatest(line_chars, F.lit(1)).cast("double")
        ).alias("dup_line_char_frac"),
    )


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide exact top-k word n-grams: (gram, cnt).

    One shuffle on the gram key with map-side partial aggregation (the
    exchange carries per-partition distinct grams, not the token stream);
    the final top-k is a TakeOrderedAndProject on the driver — k rows,
    not a sort of the vocabulary. Ties broken by gram text so the result
    is deterministic for the differential gate."""
    # materialize the token array as a bound column BEFORE the gram
    # lambda: passing the raw split expression into ngram_array would
    # re-evaluate it per gram inside the transform lambda (CollapseProject
    # keeps the multiply-referenced alias separate; see the same __w
    # idiom in repetition_stats)
    grams = df.select(F.split(F.col(text_col), " ").alias("__w")).select(
        F.explode(ngram_array(F.col("__w"), n)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("gram"))
        .limit(k)
    )


def tf_idf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF:
    score = tf * (ln((N + 1) / (df + 1)) + 1), rounded to 4 decimals.

    Shape: one explode -> groupBy (doc, term) with map-side combine for
    term frequencies; document frequencies and the corpus size N are
    aggregates OF that table (no second scan of the text); the df-side
    join is broadcast (right for bounded vocabularies — natural
    language). Top-k per doc is a rank-filter window
    partitioned by doc — Spark plans WindowGroupLimit, so only k rows
    per doc survive the window's sort buffer. Ties: term text asc.
    """
    terms = (
        df.select(
            F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
        )
        .where(F.length("term") > 0)
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    docfreq = F.broadcast(terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_docs")
    ))
    ndocs = df.select(
        F.count_distinct(F.col(id_col)).alias("n_docs")
    )
    ndocs = F.broadcast(ndocs)
    scored = (
        terms.join(docfreq, "term")
        .crossJoin(ndocs)
        .select(
            F.col(id_col),
            F.col("term"),
            F.col("tf"),
            F.col("df_docs"),
            _r4(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1)).cast("double")
                        / (F.col("df_docs") + F.lit(1)).cast("double")
                    )
                    + F.lit(1.0)
                )
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def pmi_collocations(
    df: DataFrame,
    k: int = 20,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-k adjacent-word collocations by pointwise mutual information:

        pmi(w1, w2) = ln( p(w1,w2) / (p(w1) · p(w2)) )
                    = ln( c12 · T · T / (B · c1 · c2) )

    with c12 the bigram count over B total bigrams and c1/c2 unigram
    counts over T total tokens. High-PMI pairs are multiword expressions
    ("machine learning", "et al") — the classic corpus-linguistics signal
    for tokenizer-merge candidates and boilerplate phrase mining.

    Shape: one tokenized scan feeds BOTH tallies (bigrams via two shifted
    slices zipped into structs, unigrams via a plain explode) — each is a
    hash aggregate with map-side partial combine, so the two exchanges
    carry per-partition distinct grams, not the token stream. The unigram
    table is vocabulary-sized and broadcast onto the bigram table twice;
    the totals are one-row aggregates cross-joined in (literal-sized).
    ``min_count`` is applied BEFORE the joins — low-count bigrams are the
    long tail of the vocabulary, and PMI is famously noisy on them, so
    pruning early shrinks the join probe side by orders of magnitude.
    Final top-k is TakeOrderedAndProject on (pmi desc, w1, w2) — k rows
    to the driver, never a full sort. PMI is rounded to 4 decimals BEFORE
    ranking so the k-th boundary is engine-stable for the oracle gate.
    """
    toks = df.select(
        F.filter(F.split(F.col(text_col), " "), lambda w: F.length(w) > 0).alias(
            "__w"
        )
    )
    m = F.greatest(F.size("__w") - F.lit(1), F.lit(0))
    bi = (
        toks.select(
            F.explode(
                F.zip_with(
                    F.slice("__w", 1, m),
                    F.slice("__w", 2, m),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("g")
        )
        .select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .where(F.col("c12") >= min_count)
    )
    uni = (
        toks.select(F.explode("__w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = persist_tracked(uni)
    tot = uni.agg(
        F.sum("c").cast("double").alias("T")
    )
    # B is the PRE-prune bigram total (sum of per-row bigram counts straight
    # off the token scan) so min_count pruning changes which pairs survive,
    # never the PMI value of a surviving pair.
    btot = toks.agg(F.sum(m).cast("double").alias("B"))
    u1 = F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")))
    u2 = F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")))
    pmi = F.log(
        F.col("c12").cast("double") * F.col("T") * F.col("T")
        / (F.col("B") * F.col("c1") * F.col("c2"))
    )
    return (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            F.col("c12").alias("pair_count"),
            _r4(pmi).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(k)
    )
