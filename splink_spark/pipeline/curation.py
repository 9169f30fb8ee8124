"""Corpus-curation operators for large-scale training-data pipelines:
Gopher-style quality rules, repetition metrics, benchmark decontamination,
deterministic stratified mixture sampling, sequence packing, PII redaction.

Public-knowledge provenance: the rule families follow the published
heuristics of Rae et al. 2021 ("Scaling Language Models: ... Gopher",
App. A) and Raffel et al. 2020 (C4); decontamination-by-ngram-overlap is
the published GPT-2/3 train-test-overlap procedure. All thresholds are
configurable; defaults mirror the published values.

Scale design: every per-document metric is a pure Column expression
(higher-order functions, JVM-side, whole-stage codegen, zero shuffle).
Corpus-level operators (decontamination, sampling, packing) shuffle only
on their natural keys and broadcast the small side (the eval-set n-gram
dictionary, the per-stratum plan).
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..internals.misc import optimizer_barrier, spread_to_cores

# Gopher App. A required stop words ("must contain >= 2 of ...")
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

_MINSTD_A = 48271
_MINSTD_M = 2147483647
_SAMPLE_MODULUS = 1_000_000


def _tokens(col: Column) -> Column:
    """Whitespace tokens of trimmed text; empty text -> empty array (a plain
    split would return [''] — one phantom token)."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def _gram_ws(toks: Column, i: Column, n: int) -> Column:
    """The word n-gram starting at 1-based index ``i``: byte-identical to
    ``concat_ws(" ", slice(toks, i, n))`` (concat_ws skips nulls either way)
    but via ``n`` direct element lookups. Higher-order-function lambdas run
    interpreted, so the slice form pays an array allocation plus interpreted
    concat_ws PER GRAM — measured 90.8s vs 6.1s for a full 124M-gram
    count pass at 1M docs (15x). Callers guarantee ``i + n - 1 <= size``
    via their sequence bounds (element_at stays in range under ANSI)."""
    return F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)])


# ---------------------------------------------------------------------------
# Gopher quality rules
# ---------------------------------------------------------------------------


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    stopwords: Sequence[str] = tuple(GOPHER_STOPWORDS),
) -> DataFrame:
    """Per-document Gopher rule metrics + pass/fail flags + overall keep.

    Rules (Rae et al. 2021, App. A "Quality filtering"): word count in
    [min_words, max_words]; mean word length in [3, 10]; symbol-to-word
    ratio (# and ellipsis) <= 0.1; >= 80% of words contain an alphabetic
    character; document contains >= 2 distinct required stop words.

    Pure Column expressions — no shuffle, linear per document. The token
    array is staged once behind a nondeterministic-identity barrier; the
    five consuming metrics read the materialized column instead of each
    re-splitting the text (CollapseProject would otherwise inline the
    split into all of them).
    """
    df = df.select(
        "*",
        optimizer_barrier(_tokens(F.col(text_col))).alias("__gq_toks"),
    )
    c = F.col(text_col)
    toks = F.col("__gq_toks")
    n_words = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    mean_word_len = sum_len.cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    n_symbols = (
        F.length(c)
        - F.length(F.regexp_replace(c, r"#", ""))
        + F.length(c)
        - F.length(F.regexp_replace(c, "…", ""))
        + F.regexp_count(c, F.lit(r"\.\.\."))
    )
    symbol_word_ratio = n_symbols.cast("double") / F.greatest(n_words, F.lit(1)).cast(
        "double"
    )
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_word_frac = n_alpha_words.cast("double") / F.greatest(n_words, F.lit(1)).cast(
        "double"
    )
    # per-token lower over the staged array == tokenizing lower(text):
    # case-folding never produces whitespace, so token boundaries agree
    low_toks = F.transform(toks, F.lower)
    stopword_hits = F.size(
        F.array_intersect(
            F.array_distinct(low_toks), F.array(*[F.lit(s) for s in stopwords])
        )
    )

    pass_word_count = (n_words >= min_words) & (n_words <= max_words)
    pass_mean_word_len = (mean_word_len >= min_mean_word_len) & (
        mean_word_len <= max_mean_word_len
    )
    pass_symbol_ratio = symbol_word_ratio <= max_symbol_word_ratio
    pass_alpha_frac = alpha_word_frac >= min_alpha_word_frac
    pass_stopwords = stopword_hits >= min_stopword_hits

    return df.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(symbol_word_ratio, 6).alias("symbol_word_ratio"),
        F.round(alpha_word_frac, 6).alias("alpha_word_frac"),
        stopword_hits.cast("bigint").alias("stopword_hits"),
        pass_word_count.alias("pass_word_count"),
        pass_mean_word_len.alias("pass_mean_word_len"),
        pass_symbol_ratio.alias("pass_symbol_ratio"),
        pass_alpha_frac.alias("pass_alpha_frac"),
        pass_stopwords.alias("pass_stopwords"),
        (
            pass_word_count
            & pass_mean_word_len
            & pass_symbol_ratio
            & pass_alpha_frac
            & pass_stopwords
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# repetition metrics (Gopher "repetitious text" family)
# ---------------------------------------------------------------------------


def repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "auto",
    hof_max_tokens: int = 1024,
) -> DataFrame:
    """Per-document repetition metrics: duplicate-word fraction, fraction of
    characters in the most frequent word, fraction of characters in the most
    frequent word 2-gram (Gopher App. A's "fraction of characters in most
    common n-gram" at n=1,2 plus a duplicate-token rate).

    ``method="hof"`` is pure Column HOFs — zero shuffle, but the top-run
    fold is superlinear per document, the right trade below ~1k tokens/doc.
    ``method="explode"`` is the long-document path: explode to (doc, token)
    rows, count by groupBy (map-side combine), re-aggregate — linear work at
    the cost of one shuffle keyed by (doc_id, token), which partitions
    evenly because doc_id is in the key. ``method="auto"`` (default) routes
    PER DOCUMENT on token count — docs at or below ``hof_max_tokens`` take
    the shuffle-free HOF path, longer docs the linear explode path — so
    defaults stay safe on 50k-token web documents without paying a shuffle
    for the short-doc bulk. All paths produce identical output (pinned by
    test).
    """
    # STAGE the token array behind a nondeterministic-identity barrier
    # (shuffle(array(x))[0] — linker.predict's threshold-barrier trick)
    # BEFORE deriving 2-grams from it. Without the barrier CollapseProject
    # inlines the split into the gram lambda, so building L grams re-splits
    # the whole text L times — O(L^2 * doc_len), measured 27s for just 200
    # docs of 2k tokens. With it, grams read the materialized array.
    stage1 = df.select(
        F.col(id_col),
        optimizer_barrier(_tokens(F.lower(F.col(text_col)))).alias("__toks"),
    )
    toks0 = F.col("__toks")
    grams_expr = F.when(
        F.size(toks0) < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks0) - 1, F.lit(1))),
            lambda i: _gram_ws(toks0, i, 2),
        )
    )
    staged = stage1.select(
        F.col(id_col), toks0, optimizer_barrier(grams_expr).alias("__grams2")
    )
    toks = F.col("__toks")
    grams2 = F.col("__grams2")

    def _explode_metrics(staged_part: DataFrame) -> DataFrame:
        base = staged_part.select(
            F.col(id_col), toks.alias("toks"), grams2.alias("grams2")
        )
        tok_counts = (
            base.select(id_col, F.explode("toks").alias("tok"))
            .groupBy(id_col, "tok")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy(id_col)
            .agg(
                F.sum("cnt").alias("n_words"),
                F.sum(F.length("tok") * F.col("cnt")).alias("total_chars"),
                F.count(F.lit(1)).alias("n_distinct"),
                F.max(
                    F.struct(
                        (F.length("tok") * F.col("cnt")).alias("chars"), F.col("tok")
                    )
                )["chars"].alias("top_word_chars"),
            )
        )
        gram_counts = (
            base.select(id_col, F.explode("grams2").alias("g"))
            .groupBy(id_col, "g")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy(id_col)
            .agg(
                F.max(
                    F.struct((F.length("g") * F.col("cnt")).alias("chars"), F.col("g"))
                )["chars"].alias("top_gram_chars"),
                F.sum(F.length("g") * F.col("cnt")).alias("total_gram_chars"),
            )
        )
        joined = (
            base.select(id_col)
            .join(tok_counts, id_col, "left")
            .join(gram_counts, id_col, "left")
        )
        return joined.select(
            id_col,
            F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
            F.round(
                (F.coalesce("n_words", F.lit(0)) - F.coalesce("n_distinct", F.lit(0)))
                .cast("double")
                / F.greatest(F.coalesce("n_words", F.lit(0)), F.lit(1)).cast("double"),
                6,
            ).alias("dup_word_frac"),
            F.round(
                F.coalesce("top_word_chars", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("total_chars", F.lit(0)), F.lit(1)).cast(
                    "double"
                ),
                6,
            ).alias("top_word_char_frac"),
            F.round(
                F.coalesce("top_gram_chars", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("total_gram_chars", F.lit(0)), F.lit(1)).cast(
                    "double"
                ),
                6,
            ).alias("top_2gram_char_frac"),
        )

    def _hof_metrics(staged_part: DataFrame) -> DataFrame:
        """Shuffle-free per-document metrics via one vectorized Arrow pass.

        The previous shape computed the top-element char counts with an
        interpreted ``F.aggregate`` fold over ``array_sort`` (plus two more
        interpreted folds for the char totals): higher-order-function
        lambdas run interpreted per ELEMENT, measured as the 10M-doc
        hof-variant floor (712-743s, perfectly linear — the same
        interpreted-lambda cost class as the `_gram_ws` fix). One
        ``mapInPandas`` over ONLY (id, token-array) replaces all of it:
        counting runs through ``collections.Counter`` (a C loop) per
        document, grams are zipped adjacent token pairs (bijective with the
        concat_ws(" ") gram strings — tokens cannot contain a space), and
        every emitted value is an exact integer, so the final fractions —
        computed by the SAME Spark Column expressions as before from the
        same integers — are bit-identical (pinned by the explode/hof
        equality test). Still zero shuffle; the Python boundary ships only
        the token arrays (guide §4.2 vectorized-batch rule)."""
        id_type = staged_part.schema[id_col].dataType.simpleString()
        out_schema = (
            f"{id_col} {id_type}, __nw bigint, __nd bigint, __tc bigint,"
            " __twc bigint, __tgc bigint, __tg_total bigint"
        )

        def kernel(batches):
            from collections import Counter

            import pandas as pd

            for pdf in batches:
                ids = pdf[id_col]
                nw_l, nd_l, tc_l, twc_l, tgc_l, tgt_l = [], [], [], [], [], []
                for toks in pdf["__toks"]:
                    if toks is None:
                        nw_l.append(None); nd_l.append(None)
                        tc_l.append(None); twc_l.append(None)
                        tgc_l.append(None); tgt_l.append(None)
                        continue
                    toks = list(toks)
                    counts = Counter(toks)
                    total_chars = 0
                    top_word = 0
                    for w, cnt in counts.items():
                        v = len(w) * cnt
                        total_chars += v
                        if v > top_word:
                            top_word = v
                    top_gram = 0
                    total_gram = 0
                    if len(toks) >= 2:
                        gcounts = Counter(zip(toks, toks[1:]))
                        for (a, b), cnt in gcounts.items():
                            v = (len(a) + len(b) + 1) * cnt
                            total_gram += v
                            if v > top_gram:
                                top_gram = v
                    nw_l.append(len(toks)); nd_l.append(len(counts))
                    tc_l.append(total_chars); twc_l.append(top_word)
                    tgc_l.append(top_gram); tgt_l.append(total_gram)
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "__nw": pd.array(nw_l, dtype="Int64"),
                        "__nd": pd.array(nd_l, dtype="Int64"),
                        "__tc": pd.array(tc_l, dtype="Int64"),
                        "__twc": pd.array(twc_l, dtype="Int64"),
                        "__tgc": pd.array(tgc_l, dtype="Int64"),
                        "__tg_total": pd.array(tgt_l, dtype="Int64"),
                    }
                )

        ints = staged_part.select(F.col(id_col), F.col("__toks")).mapInPandas(
            kernel, out_schema
        )
        nw = F.col("__nw")
        return ints.select(
            F.col(id_col),
            nw.cast("bigint").alias("n_words"),
            F.round(
                (nw - F.col("__nd")).cast("double")
                / F.greatest(nw, F.lit(1)).cast("double"),
                6,
            ).alias("dup_word_frac"),
            F.round(
                F.col("__twc").cast("double")
                / F.greatest(F.col("__tc"), F.lit(1)).cast("double"),
                6,
            ).alias("top_word_char_frac"),
            F.round(
                F.col("__tgc").cast("double")
                / F.greatest(F.col("__tg_total"), F.lit(1)).cast("double"),
                6,
            ).alias("top_2gram_char_frac"),
        )

    # NOTE on tokenize-once: the explode path reads the staged token
    # frame three times and auto's branches twice, so persisting it looks
    # like an obvious share — it is NOT. Measured at 10M docs / 1.25B
    # tokens: persist made repetition_metrics_explode 954s (42 GiB heap)
    # vs 714s re-tokenizing. Re-running the whole-stage-codegen
    # split+gram build is CHEAPER than materializing a billion token
    # arrays into the columnar cache; each consumer streams the narrow
    # projection instead. (The optimizer barrier still prevents the
    # worse failure mode — expression inlining INTO the gram lambda,
    # which is O(L²) per document.)
    if method == "explode":
        return _explode_metrics(staged)
    if method == "hof":
        # the Arrow kernel derives gram metrics from the token array
        # directly, so the hof path never builds __grams2 at all
        return _hof_metrics(stage1)
    if method != "auto":
        raise ValueError("method must be 'auto', 'hof' or 'explode'")
    # per-document routing: short docs stay shuffle-free (and skip the JVM
    # gram build — the kernel zips grams itself), long docs get the linear
    # explode-aggregate
    short = stage1.where(F.size(toks) <= F.lit(hof_max_tokens))
    long_docs = staged.where(F.size(toks) > F.lit(hof_max_tokens))
    return _hof_metrics(short).unionByName(_explode_metrics(long_docs))


# ---------------------------------------------------------------------------
# decontamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------


def word_ngrams(col: Column, n: int) -> Column:
    """Word-level n-grams of lowercased text as an array of strings.

    NB if ``col`` is a raw text column, Catalyst inlines the tokenize into
    every one of the L gram-lambda invocations (O(L^2 * doc_len)); callers
    that build grams over whole tables should stage the TOKEN ARRAY first
    (see ``_staged_word_ngrams``), then pass the array column here via
    ``tokens=``-style pre-split input. This helper keeps the simple
    signature for ad-hoc/row-at-a-time use.
    """
    toks = _tokens(F.lower(col))
    return _ngrams_of(toks, n)


def _ngrams_of(toks: Column, n: int) -> Column:
    return F.when(
        F.size(toks) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: _gram_ws(toks, i, n),
        )
    )


def _staged_word_ngrams(
    df: DataFrame, text_col: str, n: int, *keep_cols: str
) -> DataFrame:
    """(keep_cols..., grams) with the token array materialized behind a
    nondeterministic-identity barrier so gram construction reads the array
    column instead of re-splitting the text per gram (O(L) not O(L^2))."""
    staged = df.select(
        *[F.col(c) for c in keep_cols],
        optimizer_barrier(_tokens(F.lower(F.col(text_col)))).alias("__toks"),
    )
    return staged.select(
        *[F.col(c) for c in keep_cols],
        _ngrams_of(F.col("__toks"), n).alias("grams"),
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: Optional[str] = None,
    broadcast_eval: Optional[bool] = None,
    broadcast_max_grams: int = 5_000_000,
    bloom_prescreen: Optional[bool] = None,
    bloom_bits: int = 1 << 27,
    bloom_hashes: int = 4,
) -> DataFrame:
    """Flag corpus documents sharing any word ``n``-gram with the eval set
    (the published GPT-2/3 train-test-overlap decontamination procedure).

    Returns one row per corpus document: ``n_overlap`` (count of DISTINCT
    contaminated n-grams in the doc) and ``contaminated``.

    Scale design: the eval side collapses to a distinct n-gram dictionary;
    when that dictionary is genuinely small (benchmarks — thousands of docs)
    it is broadcast, so the corpus side explodes to distinct (doc_id, gram)
    pairs map-side, hits the broadcast hash join with no shuffle, and
    re-aggregates keyed by doc_id — corpus text scanned once, the only
    shuffle the final doc_id groupBy. But the eval input is UNBOUNDED (a
    100k-doc eval slice yields hundreds of MB of distinct 8-grams), and a
    forced broadcast of that would OOM the driver / hit the broadcast size
    ceiling — so ``broadcast_eval=None`` (default) probes the dictionary
    with one cheap count aggregate and broadcasts only below
    ``broadcast_max_grams``; above it the join is left unhinted for the
    optimizer (a shuffled hash/sort-merge join keyed by gram). Pass
    ``broadcast_eval=True/False`` to skip the probe when the eval side's
    size is known.

    On the non-broadcast path a Bloom-filter prescreen
    (``bloom_prescreen=None`` → auto-on; force with True/False) cuts the
    shuffled join's input EXACTLY: corpus grams are screened map-side
    against a fixed-size filter over the eval dictionary (``bloom_bits``
    bits — 16 MiB of packed words at the default — via zero-shuffle
    broadcast joins, pipeline/sketches.py). Bloom filters have no false
    negatives, so every truly-overlapping gram survives the screen, and
    the exact join removes the false positives — output identical, but
    only ~fpr of the non-overlapping corpus grams (the overwhelming
    majority at web scale) ever reach the exchange.
    """
    eval_text_col = eval_text_col or text_col
    eval_grams = (
        _staged_word_ngrams(eval_df, eval_text_col, n)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    if broadcast_eval is None:
        # one aggregate over the eval side — linear, constant memory, unlike
        # the broadcast it is guarding. The eval set is scanned twice (probe
        # + join); for the common small-benchmark case both scans are trivial
        broadcast_eval = eval_grams.count() <= broadcast_max_grams
    corpus_grams = _staged_word_ngrams(corpus, text_col, n, id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(F.col("grams"))).alias("gram"),
    )
    if bloom_prescreen is None:
        bloom_prescreen = not broadcast_eval
    if bloom_prescreen and not broadcast_eval:
        from .sketches import bloom_build, bloom_probe

        bloom = bloom_build(
            eval_grams.select(F.col("gram").alias("key")),
            num_bits=bloom_bits,
            num_hashes=bloom_hashes,
        )
        corpus_grams = (
            bloom_probe(
                corpus_grams.withColumnRenamed("gram", "key"),
                bloom,
                num_bits=bloom_bits,
                num_hashes=bloom_hashes,
            )
            .where(F.col("maybe_member"))
            .select(F.col(id_col), F.col("key").alias("gram"))
        )
    eval_side = F.broadcast(eval_grams) if broadcast_eval else eval_grams
    overlap = (
        corpus_grams.join(eval_side, "gram", "inner")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        corpus.select(id_col)
        .join(overlap, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlap", F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def ngram_novelty(
    corpus: DataFrame,
    reference: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    reference_text_col: Optional[str] = None,
    broadcast_reference: Optional[bool] = None,
    broadcast_max_grams: int = 5_000_000,
) -> DataFrame:
    """Score each corpus document by how much of it is NEW relative to a
    reference corpus: the fraction of its distinct word ``n``-grams that
    never appear in ``reference``. The selection dual of
    ``decontaminate`` — there overlap disqualifies, here novelty ranks
    (dedup-aware data selection keeps high-novelty documents; boilerplate
    and templated pages score near zero).

    Returns one row per corpus document: ``n_grams`` (distinct n-grams),
    ``n_novel`` (those absent from the reference), and ``novelty_ppm`` —
    an EXACT parts-per-million integer (``n_novel * 1e6 div n_grams``),
    so the score is bit-identical in any engine, no float division.
    Documents shorter than ``n`` tokens have 0 grams and NULL ppm.

    Same scale shape as ``decontaminate``: the reference collapses to a
    distinct n-gram dictionary, probed with one count and broadcast only
    under ``broadcast_max_grams``; otherwise the gram join shuffles and
    the optimizer picks the strategy. Corpus text is scanned once.
    """
    reference_text_col = reference_text_col or text_col
    ref_grams = (
        _staged_word_ngrams(reference, reference_text_col, n)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    if broadcast_reference is None:
        broadcast_reference = ref_grams.count() <= broadcast_max_grams
    ref_side = F.broadcast(ref_grams) if broadcast_reference else ref_grams
    corpus_grams = _staged_word_ngrams(corpus, text_col, n, id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(F.col("grams"))).alias("gram"),
    )
    seen = (
        corpus_grams.join(
            ref_side.select("gram", F.lit(True).alias("__seen")),
            "gram",
            "left",
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("__seen").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_novel"),
        )
    )
    # true integer division (`div`) — `/` is double division in Spark
    # and floor(double) misrounds at integer boundaries (see quality.py)
    return (
        corpus.select(id_col)
        .join(seen, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        )
        .withColumn(
            "novelty_ppm",
            F.when(
                F.col("n_grams") > 0,
                F.expr("(n_novel * 1000000) div n_grams"),
            ).cast("bigint"),
        )
    )


def decontaminate_spans(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: Optional[str] = None,
    broadcast_eval: Optional[bool] = None,
    broadcast_max_grams: int = 5_000_000,
) -> DataFrame:
    """SURGICAL decontamination: instead of flagging/dropping whole
    documents that share an eval ``n``-gram (:func:`decontaminate`), remove
    only the overlapping ``n``-token spans and rebuild the text — the
    treatment used when contaminated documents are too valuable to drop
    wholesale. Matching is case-insensitive (span keys are md5 of the
    lowercased window); the rebuilt text keeps the original tokens,
    space-joined (same whitespace simplification as
    ``dedup.cross_document_span_dedup``, whose removal/rebuild machinery
    this mirrors).

    Scale shape: one tokenize per corpus doc (staged behind the optimizer
    barrier), posexplode of fixed-width md5 span keys, a key join against
    the distinct eval span dictionary (broadcast when small, probed like
    :func:`decontaminate`), one groupBy back on the doc id, and a pure
    per-doc HOF rebuild. Overlapping contaminated spans union their
    covered positions.

    Output: one row per corpus document —
    (``id_col``, n_tokens, n_removed_tokens, n_contaminated_spans,
    cleaned_text).
    """
    from ..internals.misc import optimizer_barrier, spread_to_cores

    eval_text_col = eval_text_col or text_col
    nn = int(n)
    if nn < 1:
        raise ValueError("n must be >= 1")

    def span_keys(toks):
        return F.when(
            F.size(toks) < nn, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (nn - 1)),
                lambda i: F.md5(F.lower(_gram_ws(toks, i, nn))),
            )
        )

    eval_keys = (
        eval_df.select(_tokens(F.col(eval_text_col)).alias("__etoks"))
        .select(F.explode(span_keys(F.col("__etoks"))).alias("__key"))
        .distinct()
    )
    if broadcast_eval is None:
        broadcast_eval = eval_keys.count() <= broadcast_max_grams
    eval_side = F.broadcast(eval_keys) if broadcast_eval else eval_keys

    staged = corpus.select(
        F.col(id_col), optimizer_barrier(_tokens(F.col(text_col))).alias("__toks")
    ).persist()
    toks = F.col("__toks")
    doc_spans = staged.select(
        F.col(id_col), F.posexplode(span_keys(toks)).alias("__gpos", "__key")
    )
    removals = doc_spans.join(eval_side, "__key").select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("__gpos"), F.col("__gpos") + F.lit(nn - 1))
        ).alias("__pos"),
        F.col("__key"),
    )
    per_doc = removals.groupBy(id_col).agg(
        F.collect_set("__pos").alias("__remove_pos"),
        F.count_distinct("__key").alias("n_spans"),
    )
    out = staged.join(per_doc, on=id_col, how="left")
    remove_pos = F.coalesce(F.col("__remove_pos"), F.array().cast("array<int>"))
    kept = F.filter(
        F.arrays_zip(
            toks, F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)))
        ),
        lambda s: ~F.array_contains(remove_pos, s["1"].cast("int")),
    )
    return out.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.coalesce(F.size(F.col("__remove_pos")), F.lit(0))
        .cast("bigint")
        .alias("n_removed_tokens"),
        F.coalesce(F.col("n_spans"), F.lit(0))
        .cast("bigint")
        .alias("n_contaminated_spans"),
        F.when(F.size(toks) == 0, F.lit("")).otherwise(
            F.concat_ws(" ", F.transform(kept, lambda s: s["__toks"]))
        ).alias("cleaned_text"),
    )


def dedup_repeated_spans(
    corpus: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Exact substring SELF-deduplication (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" treatment, at span
    granularity): any ``n``-token span occurring at least ``min_count``
    times ACROSS the corpus keeps only its FIRST occurrence — minimal
    (doc id, position), fully deterministic — and every other occurrence's
    tokens are removed, the text rebuilt. The self-corpus sibling of
    :func:`decontaminate_spans` (eval-set dictionary) and
    ``text.remove_boilerplate_lines`` (line granularity).

    Scale shape: md5 span keys posexplode (fixed width — document bodies
    never shuffle), ONE map-side-combined aggregate per key producing the
    occurrence count and the keeper (min struct), an equi-join carrying
    only occurrences of repeated keys, position-union removal and the same
    HOF rebuild as decontaminate_spans. The repeated-key table is joined
    shuffled, never broadcast (it scales with the corpus).

    Output: (``id_col``, n_tokens, n_removed_tokens, n_repeated_spans,
    cleaned_text) — n_repeated_spans counts removed (non-keeper) span
    occurrences in the document.
    """
    from ..internals.misc import optimizer_barrier, spread_to_cores

    nn = int(n)
    if nn < 1:
        raise ValueError("n must be >= 1")

    def span_keys(toks):
        return F.when(
            F.size(toks) < nn, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (nn - 1)),
                lambda i: F.md5(F.lower(_gram_ws(toks, i, nn))),
            )
        )

    staged = corpus.select(
        F.col(id_col), optimizer_barrier(_tokens(F.col(text_col))).alias("__toks")
    ).persist()
    toks = F.col("__toks")
    doc_spans = staged.select(
        F.col(id_col), F.posexplode(span_keys(toks)).alias("__gpos", "__key")
    )
    per_key = (
        doc_spans.groupBy("__key")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(F.struct(F.col(id_col), F.col("__gpos"))).alias("__keep"),
        )
        .where(F.col("__cnt") >= int(min_count))
        .select("__key", "__keep")
    )
    removals = (
        doc_spans.join(per_key, "__key")
        .where(
            ~(
                (F.col(id_col) == F.col(f"__keep.{id_col}"))
                & (F.col("__gpos") == F.col("__keep.__gpos"))
            )
        )
        .select(
            F.col(id_col),
            F.col("__gpos"),
            F.explode(
                F.sequence(F.col("__gpos"), F.col("__gpos") + F.lit(nn - 1))
            ).alias("__pos"),
        )
    )
    per_doc = removals.groupBy(id_col).agg(
        F.collect_set("__pos").alias("__remove_pos"),
        F.count_distinct("__gpos").alias("n_spans"),
    )
    out = staged.join(per_doc, on=id_col, how="left")
    remove_pos = F.coalesce(F.col("__remove_pos"), F.array().cast("array<int>"))
    kept = F.filter(
        F.arrays_zip(
            toks, F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)))
        ),
        lambda s: ~F.array_contains(remove_pos, s["1"].cast("int")),
    )
    return out.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.coalesce(F.size(F.col("__remove_pos")), F.lit(0))
        .cast("bigint")
        .alias("n_removed_tokens"),
        F.coalesce(F.col("n_spans"), F.lit(0))
        .cast("bigint")
        .alias("n_repeated_spans"),
        F.when(F.size(toks) == 0, F.lit("")).otherwise(
            F.concat_ws(" ", F.transform(kept, lambda s: s["__toks"]))
        ).alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# deterministic stratified sampling / mixture planning
# ---------------------------------------------------------------------------


def _minstd_bucket(id_col: str) -> Column:
    """MINSTD multiplicative-hash bucket in [0, 1e6): plain int64 arithmetic
    any SQL engine reproduces bit-for-bit (same portable sampler as
    estimate_u's cross-engine gate, training.py)."""
    return F.pmod(
        F.pmod(F.col(id_col).cast("bigint") * F.lit(_MINSTD_A), F.lit(_MINSTD_M)),
        F.lit(_SAMPLE_MODULUS),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its MINSTD bucket
    falls below ``fraction * 1e6`` for its stratum. Reproducible across
    engines and runs (no RNG state), stable under repartitioning, and a
    pure filter — no shuffle, fully pushed down to the scan.
    """
    thresholds = {k: int(round(v * _SAMPLE_MODULUS)) for k, v in fractions.items()}
    thr = F.lit(int(round(default_fraction * _SAMPLE_MODULUS)))
    for k, v in sorted(thresholds.items()):
        thr = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(thr)
    return df.where(_minstd_bucket(id_col) < thr)


def mixture_plan(
    df: DataFrame,
    strata_col: str,
    target_shares: Mapping[str, float],
) -> DataFrame:
    """Per-stratum sampling plan to hit a target mixture from the available
    counts (data-mixing: e.g. 40% web / 30% code / 30% books).

    The largest feasible total is T = min_g(n_g / w_g); each stratum keeps
    ``keep_frac = T * w_g / n_g`` (the limiting stratum keeps 1.0). One
    count aggregation (tiny output: #strata rows) + an all-rows window —
    no data movement beyond the count shuffle.
    """
    share = F.create_map(
        *[F.lit(x) for kv in sorted(target_shares.items()) for x in kv]
    )
    counts = (
        df.where(F.col(strata_col).isin(*target_shares.keys()))
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n_avail"))
        .withColumn("target_share", share[F.col(strata_col)])
    )
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    feasible_total = F.min(
        F.col("n_avail").cast("double") / F.col("target_share")
    ).over(w)
    keep_frac = F.least(
        F.lit(1.0),
        feasible_total * F.col("target_share") / F.col("n_avail").cast("double"),
    )
    return counts.select(
        strata_col,
        "n_avail",
        F.round("target_share", 6).alias("target_share"),
        F.round(keep_frac, 6).alias("keep_frac"),
        F.floor(feasible_total * F.col("target_share")).cast("bigint").alias(
            "expected_rows"
        ),
    )


# ---------------------------------------------------------------------------
# document chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 512,
    stride: Optional[int] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-token-window chunks with optional
    overlap — the standard pre-training/RAG preprocessing step upstream of
    :func:`pack_sequences` (which bins whole items; this SPLITS long items).

    Chunk ``k`` covers tokens ``[k*stride, k*stride + chunk_tokens)``;
    ``stride`` defaults to ``chunk_tokens`` (disjoint windows). A window is
    emitted when it starts inside the document AND is not fully contained in
    the previous window (so with overlap the tail is covered exactly once and
    no chunk is a pure suffix-duplicate of its predecessor). Empty documents
    emit no chunks.

    Scale shape: the token array is staged once behind an identity barrier
    (the CollapseProject re-inlining trap, see repetition_metrics), then one
    ``posexplode`` per document — linear work, output rows ~ total_tokens /
    stride, no shuffle at all.

    Output: ``(id_col, chunk_id, n_tokens, chunk_text)``.
    """

    if stride is None:
        stride = chunk_tokens
    if chunk_tokens < 1 or stride < 1:
        raise ValueError("chunk_tokens and stride must be >= 1")

    staged = spread_to_cores(df).select(
        F.col(id_col),
        optimizer_barrier(_tokens(F.col(text_col))).alias("__toks"),
    ).withColumn("__n", F.size("__toks"))
    starts = staged.where(F.col("__n") > 0).select(
        id_col,
        "__toks",
        "__n",
        F.explode(
            F.sequence(F.lit(0), F.col("__n") - 1, F.lit(stride))
        ).alias("__start"),
    )
    kept = starts.where(
        (F.col("__start") == 0)
        | (F.col("__start") - stride + chunk_tokens < F.col("__n"))
    )
    return kept.select(
        F.col(id_col),
        (F.col("__start") / stride).cast("bigint").alias("chunk_id"),
        F.least(F.lit(chunk_tokens), F.col("__n") - F.col("__start"))
        .cast("bigint")
        .alias("n_tokens"),
        F.array_join(
            F.slice(F.col("__toks"), F.col("__start") + 1, F.lit(chunk_tokens)),
            " ",
        ).alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    capacity: int,
    shard_col: str,
    token_count_col: Optional[str] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign documents to fixed-capacity context-window bins (sequence
    packing for pretraining batches), straddle policy: a document belongs
    to the bin where it STARTS; bins fill in (shard, doc_id) order.

    bin_id = floor((cumsum_tokens - doc_tokens) / capacity); offset is the
    document's start position within its bin. Per-shard windows — the
    shard column (e.g. a path prefix, a date, pmod(doc_id, K)) bounds the
    sort so no global ordering is ever required; each shard packs
    independently on its own executor, which is exactly how a 100 TB corpus
    is packed in practice (per input-file-group).
    """
    if token_count_col is None:
        trimmed = F.trim(F.col(text_col))
        ntok = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
            F.size(F.split(trimmed, r"\s+"))
        )
    else:
        ntok = F.col(token_count_col)
    w = Window.partitionBy(shard_col).orderBy(id_col)
    cum = F.sum(ntok).over(w)
    start = cum - ntok
    return df.select(
        F.col(shard_col).alias("shard"),
        F.col(id_col),
        ntok.cast("bigint").alias("n_tokens"),
        F.floor(start / capacity).cast("bigint").alias("bin_id"),
        F.pmod(start, F.lit(capacity)).cast("bigint").alias("bin_offset"),
    )


def packing_stats(packed: DataFrame, capacity: int) -> DataFrame:
    """Per-bin fill statistics for a pack_sequences() output."""
    return (
        packed.groupBy("shard", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("start_tokens"),
        )
        .select(
            "shard",
            "bin_id",
            "n_docs",
            "start_tokens",
            F.round(
                F.least(F.col("start_tokens"), F.lit(capacity)).cast("double")
                / capacity,
                6,
            ).alias("min_fill_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Patterns restricted to the syntax subset with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+[0-9][0-9()\- ]{7,}[0-9]",
}


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: Optional[Mapping[str, str]] = None,
) -> DataFrame:
    """Replace PII spans with ``<TYPE>`` placeholders and count matches per
    type. Pure regexp Column expressions (JVM, codegen) — the standard
    pre-training scrub pass. Patterns are applied in sorted-name order so
    the output is deterministic under overlapping matches.
    """
    patterns = dict(patterns or PII_PATTERNS)
    out = F.col(text_col)
    counts = []
    for name in sorted(patterns):
        pat = patterns[name]
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("bigint").alias(f"n_{name}")
        )
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return df.select(F.col(id_col), out.alias("redacted"), *counts)


# ---------------------------------------------------------------------------
# end-to-end corpus curation
# ---------------------------------------------------------------------------


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_df: Optional[DataFrame] = None,
    decontaminate_n: int = 8,
    dedup_kwargs: Optional[dict] = None,
    pack_capacity: Optional[int] = None,
    pack_shard_col: Optional[str] = None,
    quality_kwargs: Optional[dict] = None,
) -> DataFrame:
    """The full pre-training curation pass, one call:

    1. Gopher quality rules -> drop failing documents;
    2. PII redaction (text rewritten in place);
    3. near-dup removal via :func:`splink_spark.pipeline.dedup.
       deduplicate_corpus` (keep each cluster's canonical document);
    4. benchmark decontamination vs ``eval_df`` (drop overlapping docs);
    5. optional sequence packing (adds shard/bin_id/bin_offset).

    Each stage is the already-gated operator; this composes them in the
    order a production pipeline runs them (cheap row-local filters first,
    the pairwise dedup join only over survivors, the broadcast
    decontamination join last over the deduped set).
    """
    from .dedup import deduplicate_corpus

    flags = gopher_quality_flags(
        docs, text_col=text_col, id_col=id_col, **(quality_kwargs or {})
    )
    kept = docs.join(
        flags.where(F.col("keep")).select(id_col), id_col, "inner"
    )
    redacted = pii_redact(kept, text_col=text_col, id_col=id_col)
    kept = (
        kept.drop(text_col)
        .join(redacted.select(id_col, F.col("redacted").alias(text_col)), id_col)
    )
    clusters = deduplicate_corpus(
        kept, text_col=text_col, id_col=id_col, **(dedup_kwargs or {})
    )
    kept = kept.join(
        clusters.where(F.col("is_canonical")).select(id_col), id_col, "inner"
    )
    if eval_df is not None:
        contam = decontaminate(
            kept, eval_df, n=decontaminate_n, text_col=text_col, id_col=id_col
        )
        kept = kept.join(
            contam.where(~F.col("contaminated")).select(id_col), id_col, "inner"
        )
    if pack_capacity is not None and pack_shard_col is not None:
        packed = pack_sequences(
            kept, pack_capacity, pack_shard_col, text_col=text_col, id_col=id_col
        )
        kept = kept.join(
            packed.select(id_col, "bin_id", "bin_offset", "n_tokens"), id_col
        )
    return kept


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` salient terms per document by TF-IDF (smoothed:
    idf = ln((N+1)/(df+1)) + 1), the standard corpus primitive behind
    topic filtering and keyword-based curation.

    Scale shape: one explode -> (doc, token) groupBy for term frequencies
    (map-side combine), a token-level document-frequency aggregate joined
    back ON TOKEN — both sides come out of token-keyed shuffles, and the
    join is deliberately NOT hint-broadcast: a web-scale vocabulary
    (typos, numbers, ids) runs to billions of distinct tokens, so the
    right plan is AQE's call — it broadcasts when the vocab is actually
    small and sort-merges co-partitioned exchanges when it is not.
    Finishes with one top-k window partitioned by doc_id. No driver data.

    Ranking determinism (for the cross-engine gate): idf is quantized to
    integer micro-units (round(idf * 1e6)), so the ranking key
    ``tf * idf_micro`` is exact int64 arithmetic — engines can differ in
    the last ulp of ln() without ever flipping a rank. Ties break on the
    token string ascending.
    """
    toks = _tokens(F.lower(F.col(text_col)))
    tf = (
        docs.select(F.col(id_col), F.explode(toks).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("__n"))
    df_t = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "df",
            F.round(
                (F.log((F.col("__n") + 1).cast("double") / (F.col("df") + 1).cast("double")) + 1.0)
                * 1_000_000
            )
            .cast("bigint")
            .alias("idf_micro"),
        )
    )
    scored = tf.join(df_t, "token").select(
        F.col(id_col),
        "token",
        "tf",
        "df",
        (F.col("tf") * F.col("idf_micro")).alias("score_micro"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_micro"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(
            id_col,
            "rank",
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round(F.col("score_micro").cast("double") / 1_000_000, 6).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# corpus statistics (data cards)
# ---------------------------------------------------------------------------


def corpus_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    by: Optional[str] = None,
) -> DataFrame:
    """One-row (or one-row-per-``by``-group) corpus summary — the numbers a
    training-data card reports: document count, total/mean/median tokens,
    exact vocabulary size, total characters.

    Two aggregations: doc-level token counts (pure map), then one global
    (or per-group) agg; vocabulary via explode -> distinct count, whose
    shuffle is token-keyed and combines map-side. For quick interactive
    estimates swap the exact distinct for approx_count_distinct — the gate
    uses the exact form.
    """
    toks = _tokens(F.lower(F.col(text_col)))
    keys = [F.col(by)] if by else []
    per_doc = docs.select(
        *keys,
        F.col(id_col),
        F.size(toks).alias("__ntok"),
        F.length(F.col(text_col)).alias("__nchar"),
    )
    gb = per_doc.groupBy(*keys) if by else per_doc.groupBy()
    base = gb.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__ntok").cast("bigint").alias("total_tokens"),
        F.round(F.avg("__ntok"), 6).alias("mean_doc_tokens"),
        F.round(F.expr("percentile(__ntok, 0.5)"), 6).alias("median_doc_tokens"),
        F.sum("__nchar").cast("bigint").alias("total_chars"),
    )
    vocab_gb = docs.select(*keys, F.explode(toks).alias("__tok"))
    vocab = (
        (vocab_gb.groupBy(*keys) if by else vocab_gb.groupBy())
        .agg(F.count_distinct("__tok").alias("vocab_size"))
    )
    if by:
        return base.join(vocab, by).orderBy(by)
    return base.crossJoin(vocab)


# ---------------------------------------------------------------------------
# DSIR: data selection with importance resampling
# ---------------------------------------------------------------------------


def dsir_importance_weights(
    corpus: DataFrame,
    target: DataFrame,
    *,
    n: int = 2,
    smoothing: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_text_col: Optional[str] = None,
    hash_buckets: Optional[int] = None,
) -> DataFrame:
    """Per-document importance weights for DSIR-style data selection
    (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling", NeurIPS).

    Fits bag-of-word-``n``-gram unigram models of the TARGET distribution
    ``p`` and the RAW-corpus distribution ``q`` with add-``smoothing``
    estimation over the union vocabulary, then scores every corpus document
    with ``log w(x) = sum_g count_x(g) * (ln p(g) - ln q(g))`` — the
    published hashed-ngram likelihood-ratio feature.

    Two feature spaces:

    - ``hash_buckets=None`` (exact): the vocabulary is the set of observed
      grams. Gram counting shuffles keyed by gram with map-side combine; the
      per-doc scoring join is gram-keyed (big-to-big at web scale). This is
      the verification path — the oracle gate replays it in SQL.
    - ``hash_buckets=B`` (scale path, the paper's construction): grams hash
      into ``B`` buckets (xxhash64 % B), so BOTH distributions collapse to
      B-row dictionaries. The log-ratio dictionary is at most B rows —
      broadcast, never shuffled — and scoring is one map-side broadcast
      join + doc-keyed re-aggregation: the corpus is scanned once, the only
      wide shuffle the final groupBy(doc_id). B=10k (the paper's default
      order) keeps the dictionary a few hundred KB at any corpus size.

    Returns ``(id_col, log_weight)`` for every corpus document (documents
    with no grams score 0.0).

    Cache lifecycle: the aggregated gram dictionary stays ``persist()``-ed
    (it is read again by the returned lazy scoring DAG, so it cannot be
    released here). In a long-lived session, ``spark.catalog.clearCache()``
    or materializing the result and discarding it releases the ~B-row (or
    vocab-row) cache.
    """
    target_text_col = target_text_col or text_col

    def _doc_grams(df: DataFrame, tcol: str, *keep: str) -> DataFrame:
        g = _staged_word_ngrams(df, tcol, n, *keep)
        out = g.select(*keep, F.explode("grams").alias("gram"))
        if hash_buckets is not None:
            out = out.select(
                *keep,
                F.pmod(F.xxhash64("gram"), F.lit(hash_buckets)).alias("gram"),
            )
        return out

    corpus_grams = _doc_grams(corpus, text_col, id_col)
    target_grams = _doc_grams(target, target_text_col)

    c_counts = corpus_grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c_cnt"))
    t_counts = target_grams.groupBy("gram").agg(F.count(F.lit(1)).alias("t_cnt"))
    # persist the aggregated dictionary: it is read TWICE (the totals
    # reduction below, then the ratio projection inside the scoring DAG)
    # and each read would otherwise re-run the full corpus gram-count
    # pass — measured a third of the 3390s dsir wall at 10M docs. Unlike
    # the raw token arrays (see repetition_metrics), this frame is POST-
    # aggregation: B rows hashed / vocab rows exact, cheap to cache.
    joined = c_counts.join(t_counts, "gram", "full_outer").select(
        "gram",
        F.coalesce("c_cnt", F.lit(0)).alias("c_cnt"),
        F.coalesce("t_cnt", F.lit(0)).alias("t_cnt"),
    ).persist()

    if hash_buckets is not None:
        vocab_size = float(hash_buckets)
        totals = joined.agg(
            F.sum("c_cnt").alias("ct"), F.sum("t_cnt").alias("tt")
        ).first()
        n_vocab = vocab_size
    else:
        totals = joined.agg(
            F.sum("c_cnt").alias("ct"),
            F.sum("t_cnt").alias("tt"),
            F.count(F.lit(1)).alias("v"),
        ).first()
        n_vocab = float(totals["v"])
    c_total = float(totals["ct"] or 0.0)
    t_total = float(totals["tt"] or 0.0)

    a = float(smoothing)
    log_ratio = (
        F.log((F.col("t_cnt") + F.lit(a)) / F.lit(t_total + a * n_vocab))
        - F.log((F.col("c_cnt") + F.lit(a)) / F.lit(c_total + a * n_vocab))
    ).alias("log_ratio")
    # only grams that occur in the corpus can contribute to a corpus doc's
    # weight, so the dictionary keeps the corpus-side rows only
    ratios = joined.where(F.col("c_cnt") > 0).select("gram", log_ratio)
    if hash_buckets is not None:
        ratios = F.broadcast(ratios)

    scored = (
        corpus_grams.join(ratios, "gram", "inner")
        .groupBy(id_col)
        .agg(F.sum("log_ratio").alias("log_weight"))
    )
    from ..internals.misc import attach_caches

    return attach_caches(
        corpus.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
        ),
        joined,
    )


def dsir_resample(
    corpus: DataFrame,
    target: DataFrame,
    k: int,
    *,
    n: int = 2,
    smoothing: float = 1.0,
    temperature: float = 1.0,
    method: str = "gumbel",
    text_col: str = "text",
    id_col: str = "doc_id",
    target_text_col: Optional[str] = None,
    hash_buckets: Optional[int] = None,
    exact_topk_max: int = 10_000,
) -> DataFrame:
    """Select ``k`` corpus documents by importance resampling against the
    target distribution (DSIR's sampling-without-replacement step).

    ``method="gumbel"`` (the paper's estimator): score each document
    ``log_weight / temperature + Gumbel(0,1)`` and keep the top ``k`` — the
    Gumbel-top-k trick draws a weighted sample without replacement. The
    Gumbel noise is derived from the portable MINSTD hash of the document
    id (``u in (0,1)``, ``g = -ln(-ln(u))``), so the draw is deterministic,
    engine-portable, and stable under repartitioning — the same
    reproducibility contract as :func:`stratified_sample`.

    ``method="topk"``: plain highest-weight selection (temperature 0).

    Selection shape: for ``k <= exact_topk_max`` the ranking is Spark's
    TakeOrderedAndProject — each partition keeps its local top-k, a single
    merge keeps the global k. That single merge reads ``partitions * k``
    rows, so for web-scale selections (k in the millions — DSIR's real
    regime selects whole training sets) it degenerates into a one-task
    bottleneck. Above ``exact_topk_max`` the selection switches to a
    threshold filter: one ``percentile_approx`` aggregate finds the score
    cutoff and a pure filter keeps rows at or above it — two linear passes,
    no global sort, ~k rows kept (approximate by the sketch's rank error;
    exact k matters at small k, where the exact path applies anyway).

    Cache lifecycle: on the threshold path the narrow scored frame stays
    persisted in the RETURNED DataFrame's lineage (the caller's first
    action is its third consumer — unpersisting here would re-run the
    ~700s/pass corpus-gram DAG). The caller owns the cache, same
    convention as ``dsir_importance_weights`` / ``char_lm_fit``.
    """
    w = dsir_importance_weights(
        corpus,
        target,
        n=n,
        smoothing=smoothing,
        text_col=text_col,
        id_col=id_col,
        target_text_col=target_text_col,
        hash_buckets=hash_buckets,
    )
    if method == "gumbel":
        # u in (0,1): TWO MINSTD steps over id+1 (avoids the 0 fixpoint;
        # never 0 or 1). A single step is monotone in id below M/A ≈ 44k,
        # which would make the Gumbel noise systematically favor high ids —
        # the second multiplication wraps for every id and mixes properly.
        u = (_minstd_u01_state(F.col(id_col).cast("bigint") + F.lit(1)))
        score = F.col("log_weight") / F.lit(float(temperature)) - F.log(-F.log(u))
    elif method == "topk":
        score = F.col("log_weight")
    else:
        raise ValueError("method must be 'gumbel' or 'topk'")
    from ..internals.misc import attach_caches

    w_caches = list(getattr(w, "_splink_caches", ()) or ())
    scored = w.select(id_col, "log_weight", F.round(score, 9).alias("score"))
    if k > exact_topk_max:
        # persist the NARROW scored frame (id, log_weight, score — a few
        # hundred MB at 10M docs) before the three actions that read it
        # (count, percentile cutoff, the returned filter): without the
        # barrier each action re-runs the whole weights DAG — the corpus
        # gram explode + scoring join, ~700s per pass at 10M docs;
        # measured 3300s for this op pre-persist vs one paid pass after.
        # Same post-aggregation-cache rule as the gram dictionary in
        # dsir_importance_weights (raw gram arrays stay UNcached — see
        # repetition_metrics' measured-negative tokenize-once note).
        scored = scored.persist()
        n_rows = scored.count()
        if k >= n_rows:
            return attach_caches(scored, *w_caches, scored)
        frac = 1.0 - float(k) / float(n_rows)
        cutoff = scored.agg(
            F.expr(f"percentile_approx(score, {frac!r}, 10000)").alias("c")
        ).first()["c"]
        return attach_caches(
            scored.where(F.col("score") >= F.lit(float(cutoff))),
            *w_caches,
            scored,
        )
    return attach_caches(
        scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k), *w_caches
    )


def _minstd_u01_state(state: Column) -> Column:
    """u in (0,1) from two MINSTD multiplicative steps over an int64 state —
    engine-portable (plain * and mod), and well-mixed even for small
    sequential ids (one step stays monotone below M/A ≈ 44k). The
    intermediate fits int64: (M-1) * A < 2^47."""
    x1 = F.pmod(state * F.lit(_MINSTD_A), F.lit(_MINSTD_M))
    x2 = F.pmod(x1 * F.lit(_MINSTD_A), F.lit(_MINSTD_M))
    return (x2.cast("double") + F.lit(0.5)) / F.lit(float(_MINSTD_M))


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, probability
    proportional to ``weight_col`` (the Efraimidis–Spirakis scheme via the
    Gumbel-top-k identity, the same estimator ``dsir_resample`` uses
    internally): score = ln(weight) + g, g = -ln(-ln(u)), u the portable
    MINSTD hash of (id, seed) — reproducible, engine-portable, and
    re-drawable per epoch by changing ``seed``. Rows with weight <= 0 are
    excluded. Returns the k winners as (id, score).

    Scale shape: the score is a pure projection; selection is a top-k
    (sort-limit per partition, k-row merge on the driver side of the
    exchange) — no full sort, nothing else moves.
    """
    u = _minstd_u01_state(F.col(id_col).cast("bigint") + F.lit(1 + int(seed)))
    score = F.log(F.col(weight_col).cast("double")) - F.log(-F.log(u))
    return (
        df.where(F.col(weight_col) > 0)
        .select(F.col(id_col), F.round(score, 9).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(int(k))
    )


def weighted_sample_per_group(
    df: DataFrame,
    k: int,
    weight_col: str,
    group_cols: "Sequence[str] | str",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted sampling without replacement, ``k`` winners
    PER GROUP (the per-source/per-domain twin of ``weighted_sample`` —
    e.g. "keep the 10k highest-quality-weighted documents from every
    source"). Same Efraimidis–Spirakis/Gumbel scoring with the portable
    MINSTD draw keyed on (id, seed); selection is a ``row_number`` over
    ``partitionBy(group)`` ordered by the ROUNDED score (ties broken by
    id), so the winner set is reproducible and engine-portable.

    One shuffle keyed by the group columns — the scoring itself is a pure
    projection, and unlike a global top-k no driver-side merge grows with
    group cardinality. Rows with weight <= 0 are excluded. Returns
    (group_cols..., id, score).
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    u = _minstd_u01_state(F.col(id_col).cast("bigint") + F.lit(1 + int(seed)))
    score = F.round(
        F.log(F.col(weight_col).cast("double")) - F.log(-F.log(u)), 9
    )
    w = Window.partitionBy(*groups).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        df.where(F.col(weight_col) > 0)
        .select(*groups, F.col(id_col), score.alias("score"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= int(k))
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# per-domain / per-source caps
# ---------------------------------------------------------------------------


def cap_per_group(
    df: DataFrame,
    group_col: str,
    max_per_group: int,
    *,
    order_col: Optional[str] = None,
    id_col: str = "doc_id",
    method: str = "exact",
) -> DataFrame:
    """Cap the number of rows kept per group — the C4/RefinedWeb-style
    per-domain limit that stops a handful of giant hosts dominating a web
    corpus.

    ``method="exact"``: rank within each group (``order_col`` descending —
    best first — with ``id_col`` as the deterministic tiebreak; plain
    ``id_col`` order if no ``order_col``) and keep ranks ``<= max_per_group``.
    One shuffle keyed by group. NOTE the skew caveat: a power-law domain
    distribution puts the hottest domain on one partition and sorts ALL its
    rows to rank them (AQE skew handling does not split window partitions).

    ``method="sampled"``: skew-free scale path — one count aggregate per
    group (tiny), then a pure MINSTD filter at ``max_per_group / count``
    per group. Keeps ~``max_per_group`` rows per group (binomial, not
    exact), never sorts, never concentrates a group on one task, and is
    deterministic and repartition-stable — the right default above ~1k rows
    per hot group. Groups under the cap pass through unfiltered in both
    methods.
    """
    if method == "exact":
        order = (
            [F.col(order_col).desc(), F.col(id_col).asc()]
            if order_col
            else [F.col(id_col).asc()]
        )
        w = Window.partitionBy(group_col).orderBy(*order)
        return (
            df.withColumn("__rank", F.row_number().over(w))
            .where(F.col("__rank") <= max_per_group)
            .drop("__rank")
        )
    if method == "sampled":
        counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
        frac = F.least(
            F.lit(1.0), F.lit(float(max_per_group)) / F.col("__n").cast("double")
        )
        thr = (frac * _SAMPLE_MODULUS).cast("bigint")
        return (
            df.join(F.broadcast(counts.select(group_col, thr.alias("__thr"))),
                    group_col)
            .where(_minstd_bucket(id_col) < F.col("__thr"))
            .drop("__thr")
        )
    raise ValueError("method must be 'exact' or 'sampled'")


def shard_corpus(
    df: DataFrame,
    num_shards: int,
    id_col: str = "doc_id",
    seed: int = 0,
    with_position: bool = True,
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data output:
    every document gets a ``shard`` in [0, num_shards) and (optionally) a
    0-based ``position`` within its shard, both pure functions of
    ``(id, seed)`` — re-running on a repartitioned / differently-ordered
    corpus yields the identical layout, and changing ``seed`` gives an
    independent shuffle (epoch reshuffling).

    Mechanics: a MINSTD multiplicative hash of ``id + seed`` (the same
    portable int64 sampler as ``stratified_sample`` — any engine reproduces
    it bit-for-bit) orders the corpus pseudo-randomly; ``shard`` is the
    hash mod num_shards, ``position`` the rank of the hash within the
    shard (ties broken by id).

    Scale design: the shard assignment is a pure projection (no shuffle);
    ``with_position`` adds one hash-partition shuffle on ``shard`` and a
    per-shard sort.  Each shard's rank runs as one task, so parallelism ==
    num_shards — which matches how training shards are sized in practice
    (thousands of shards of a few GB each, each sorted comfortably within
    a task).  For layout-only use (writers that just need balanced files),
    ``with_position=False`` keeps it shuffle-free.
    """
    if num_shards < 1:
        raise ValueError("num_shards must be >= 1")
    key = F.pmod(
        (F.col(id_col).cast("bigint") + F.lit(int(seed))) * F.lit(_MINSTD_A),
        F.lit(_MINSTD_M),
    )
    out = df.withColumn("__shuffle_key", key).withColumn(
        "shard", F.pmod(F.col("__shuffle_key"), F.lit(int(num_shards))).cast("int")
    )
    if with_position:
        from pyspark.sql import Window

        w = Window.partitionBy("shard").orderBy("__shuffle_key", id_col)
        out = out.withColumn("position", (F.row_number().over(w) - 1).cast("bigint"))
    return out.drop("__shuffle_key")


def shard_stats(
    sharded: DataFrame,
    token_count_col: Optional[str] = None,
) -> DataFrame:
    """Per-shard balance check: document count (and token sum when a token
    count column is named) per ``shard`` — one map-side-combining groupBy."""
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if token_count_col is not None:
        aggs.append(F.sum(token_count_col).alias("n_tokens"))
    return sharded.groupBy("shard").agg(*aggs).orderBy("shard")


def skew_report(
    df: DataFrame,
    key_col: str,
    top_n: int = 20,
) -> DataFrame:
    """Join/aggregation-key skew diagnostic: the ``top_n`` heaviest keys
    with their share of all rows and the multiple of a perfectly uniform
    key's share — the number that predicts whether a shuffle on this key
    needs salting (``blocking.py`` salting / ``temporal.asof_join``
    bucket_size). One map-side-combined count per key plus two one-row
    scalar aggregates; only ``top_n`` rows ever reach the driver.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.agg(
        F.sum("n").alias("__total"), F.count(F.lit(1)).alias("__nkeys")
    )
    # top-n via orderBy().limit() — planned as TakeOrderedAndProject
    # (per-partition heaps + driver merge of top_n rows), NOT a global
    # row_number window, which would single-task-sort the full key
    # cardinality; rank is then derived over the <= top_n survivors
    top = counts.orderBy(F.desc("n"), F.asc("key")).limit(int(top_n))
    w = Window.orderBy(F.desc("n"), F.asc("key"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(totals))
        .select(
            "rank",
            "key",
            "n",
            F.round(F.col("n") / F.col("__total"), 6).alias("row_share"),
            F.round(
                (F.col("n") / F.col("__total")) * F.col("__nkeys"), 3
            ).alias("x_uniform"),
        )
    )


def split_dataset(
    df: DataFrame,
    weights: Mapping[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/validation/test assignment: each row lands in
    exactly one named split with probability proportional to its weight,
    decided by the portable MINSTD hash of (id, seed) against exact
    integer ppm thresholds — reproducible across runs, engines, and
    repartitioning (the ``stratified_sample`` filter as a labeller
    instead of a filter). Re-drawable per experiment by changing
    ``seed``; a row's split NEVER depends on other rows, so late-added
    data doesn't reshuffle old assignments.

    Pure projection — zero shuffle, predicate-pushdown friendly when a
    consumer filters one split.
    """
    names = list(weights)
    if not names:
        raise ValueError("weights must name at least one split")
    vals = [float(weights[n]) for n in names]
    if any(v < 0 for v in vals) or sum(vals) <= 0:
        raise ValueError("weights must be non-negative and sum > 0")
    total = sum(vals)
    # cumulative integer ppm thresholds; the final one is forced to the
    # modulus so float rounding can never leave a row unassigned
    cum = []
    acc = 0.0
    for v in vals:
        acc += v
        cum.append(int(round(acc / total * _SAMPLE_MODULUS)))
    cum[-1] = _SAMPLE_MODULUS
    u = F.pmod(
        F.pmod(
            (F.col(id_col).cast("bigint") + F.lit(1 + int(seed)))
            * F.lit(_MINSTD_A),
            F.lit(_MINSTD_M),
        )
        * F.lit(_MINSTD_A),
        F.lit(_MINSTD_M),
    ) % F.lit(_SAMPLE_MODULUS)
    # half-open ppm bands [prev, threshold) walked in declaration order
    out = None
    prev = -1
    for name, threshold in zip(names, cum):
        cond = (u >= F.lit(int(prev))) & (u < F.lit(int(threshold)))
        out = F.when(cond, F.lit(name)) if out is None else out.when(
            cond, F.lit(name)
        )
        prev = threshold
    return df.withColumn(split_col, out)


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns (Sweeney 2002):
    one row per equivalence class (distinct quasi-identifier
    combination, NULLs grouped as values) with its size and an
    ``at_risk`` flag for classes smaller than ``k`` — the rows a
    release would expose to re-identification. The companion number a
    privacy review wants next to PII redaction.

    One map-side-combined groupBy on the quasi columns; the output is
    at most the class count (small for coarse quasi-identifiers —
    that's the point of the audit).
    """
    if int(k) < 1:
        raise ValueError("k must be >= 1")
    cols = list(quasi_cols)
    if not cols:
        raise ValueError("need at least one quasi-identifier column")
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(*cols, "n", (F.col("n") < int(k)).alias("at_risk"))
    )
