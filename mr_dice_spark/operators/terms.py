"""Corpus term statistics: TF-IDF keyword extraction (beyond-reference
training-data-pipeline operator — keyword/topic signals for corpus curation,
the same two-pass shape as C4/RefinedWeb boilerplate statistics).

Scale shape: one explode + one (doc, term) hash aggregate with map-side
combine; the document-frequency dimension is vocabulary-sized (orders of
magnitude smaller than the corpus) and is broadcast back, so the only
corpus-sized shuffles are the TF aggregate and the per-doc top-k window —
both keyed on the document id. Nothing touches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    rational_idf: bool = False,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: (id, term, score, rank).

    ``rational_idf=False`` (default) uses the standard smoothed
    ``ln((N+1)/(df+1)) + 1``. ``rational_idf=True`` substitutes the
    monotone-in-df rational weight ``(N+1)/(df+1)`` — every operation is
    then exact IEEE arithmetic on integer-valued doubles, so an independent
    engine (the DuckDB oracle) reproduces scores BIT-identically; ``ln``
    implementations may differ in the last ulp across libms, which a
    hash-compare would see. Ranking ties (identical scores) break on term
    order, so top-k membership is deterministic on both engines.
    """
    # The TF aggregate feeds BOTH the scores and the document-frequency
    # dimension, so Catalyst plans its lineage twice (two corpus scans).
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__t"),
    ).where(F.col("__t") != "")
    tf = toks.groupBy("__id", "__t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("df"))
    n = df.select(F.count(F.lit(1)).cast("double").alias("__n"))
    ratio = (F.col("__n") + 1.0) / (F.col("df") + F.lit(1.0))
    idf = ratio if rational_idf else (F.log(ratio) + 1.0)
    scored = (
        tf.join(F.broadcast(dfreq), "__t")
        .crossJoin(F.broadcast(n))
        .select("__id", "__t", (F.col("tf") * idf).alias("__score"))
    )
    w = Window.partitionBy("__id").orderBy(F.desc("__score"), F.asc("__t"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__id").alias(id_col),
            F.col("__t").alias("term"),
            F.col("__score").alias("score"),
            "rank",
        )
    )


def unigram_lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Per-document unigram language-model quality score — the CCNet/Dolma
    perplexity-filter shape with the corpus itself as the model. Returns
    (id, n_tokens, avg_neg_logprob) where ``avg_neg_logprob`` is the mean
    over tokens of ``ln(N) - ln(count(token))``; low = fluent/common
    language, high = rare-token soup (spam, mangled encodings, code in a
    text corpus). ``2**(avg/ln 2)`` would be the perplexity proxy.

    ``vocab`` (token, cnt) scores against an externally trained model —
    tokens absent from it get add-one smoothing (count 1). Default trains
    on ``df`` itself, where every token has count >= 1 by construction.

    Scale shape (mirrors tfidf_top_terms): one (doc, token) aggregate with
    map-side combine keyed on the doc id; the vocabulary dimension is
    vocabulary-sized and broadcast back; the total-token count is a 1-row
    broadcast cross join. Docs with no non-empty tokens are absent from
    the output.

    When self-training, the (doc, token) aggregate feeds the scores, the
    vocabulary, AND the total — Catalyst plans its lineage three times
    (three corpus scans + explodes).
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__t"),
    ).where(F.col("__t") != "")
    dw = toks.groupBy("__id", "__t").agg(F.count(F.lit(1)).alias("__c"))
    if vocab is None:
        vocab = dw.groupBy("__t").agg(F.sum("__c").alias("__cw"))
    else:
        vocab = vocab.select(
            F.col(vocab.columns[0]).alias("__t"),
            F.col(vocab.columns[1]).cast("long").alias("__cw"),
        )
    tot = vocab.agg(F.sum("__cw").cast("double").alias("__n"))
    scored = (
        dw.join(F.broadcast(vocab), "__t", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "__id",
            "__c",
            (
                F.col("__c")
                * (F.log("__n") - F.log(F.coalesce(F.col("__cw"), F.lit(1)).cast("double")))
            ).alias("__nlp"),
        )
    )
    return scored.groupBy("__id").agg(
        F.sum("__c").alias("n_tokens"),
        (F.sum("__nlp") / F.sum("__c")).alias("avg_neg_logprob"),
    ).select(F.col("__id").alias(id_col), "n_tokens", "avg_neg_logprob")


def duplicate_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Per-document duplicated-span signal — the exact-substring-dedup
    statistic of Lee et al. ("Deduplicating Training Data Makes Language
    Models Better"): the fraction of a document's tokens lying inside some
    ``n``-gram that occurs at least twice in the corpus (across documents
    or repeated within one). Returns (id, n_tokens, dup_tokens,
    dup_token_ratio) for documents with at least one ``n``-gram; a high
    ratio marks near-copies and templated text for span-level dedup.

    Scale shape: gram starts are posexploded once; the duplicate census is
    a gram-keyed aggregate with map-side combine; a semi-join marks
    duplicated starts (AQE broadcasts the census when small); coverage
    expands each duplicated start to ``n`` token positions and counts
    distinct (doc, position) — every corpus-sized shuffle is keyed on the
    doc id or the gram, never global. The gram stream feeds both census
    and semi-join, so its lineage is planned twice."""
    from mr_dice_spark.operators.scale import fan_out

    words = fan_out(
        df.select(
            F.col(id_col).alias("__id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("__w"),
        )
    ).where(F.size("__w") >= n)
    k = F.size("__w") - (n - 1)
    starts = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(
                " ", *[F.element_at("__w", (i + j).cast("int")) for j in range(n)]
            ).alias("g"),
        ),
    )
    grams = words.select(
        "__id",
        F.size("__w").alias("__len"),
        F.explode_outer(starts).alias("__s"),
    ).where(F.col("__s").isNotNull()).select(
        "__id", "__len", F.col("__s.pos").alias("__pos"), F.col("__s.g").alias("__g")
    )
    dup = (
        grams.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= 2)
        .select("__g")
    )
    covered = (
        grams.join(dup, "__g", "left_semi")
        .select("__id", F.explode(F.sequence("__pos", F.col("__pos") + (n - 1))).alias("__j"))
        .distinct()
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("dup_tokens"))
    )
    lens = words.select("__id", F.size("__w").alias("n_tokens"))
    return (
        lens.join(covered, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            (
                F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens")
            ).alias("dup_token_ratio"),
        )
    )


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
) -> DataFrame:
    """Gopher-style intra-document repetition signals per doc (docs with at
    least one ``n``-gram): total n-gram count (with multiplicity), distinct
    count, the most-frequent gram's share, and the duplicate-gram share
    (1 - distinct/total). High shares flag boilerplate/spam for corpus
    filtering.

    One explode + one (doc, gram) aggregate with map-side combine + one
    per-doc re-aggregate — both shuffles keyed on the doc id. The words
    array is materialized behind a fan_out exchange so the split runs once
    per row (see operators/dedup.py:69-121 for the HOF hazards this
    avoids)."""
    from mr_dice_spark.operators.scale import fan_out

    words = fan_out(
        df.select(
            F.col(id_col).alias("__id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("__w"),
        )
    )
    k = F.greatest(F.size("__w") - (n - 1), F.lit(0))
    grams = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            lambda i: F.concat_ws(
                " ", *[F.element_at("__w", (i + j).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = (
        words.select("__id", F.explode_outer(grams).alias("__g"))
        .where(F.col("__g").isNotNull())
    )
    per_gram = ex.groupBy("__id", "__g").agg(F.count(F.lit(1)).alias("__c"))
    return per_gram.groupBy("__id").agg(
        F.sum("__c").alias("total_grams"),
        F.count(F.lit(1)).alias("distinct_grams"),
        F.max("__c").alias("top_gram_count"),
    ).select(
        F.col("__id").alias(id_col),
        "total_grams",
        "distinct_grams",
        (F.col("top_gram_count") / F.col("total_grams")).alias("top_gram_share"),
        (F.lit(1.0) - F.col("distinct_grams") / F.col("total_grams")).alias(
            "dup_gram_share"
        ),
    )


def bigram_lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    add_k: float = 0.5,
) -> DataFrame:
    """Per-document bigram language-model score — the next model order up
    from unigram_lm_score, so word ORDER finally matters: "the the the"
    scores far worse than "the quick fox" even though their unigram
    profiles are identical. Returns (id, n_bigrams, avg_neg_logprob)
    where the per-bigram probability is add-k smoothed over left
    contexts: ``P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V)`` with
    ``c(w1·)`` the count of bigrams starting at w1 (NOT the unigram
    count — they differ at document ends) and V the corpus unigram
    vocabulary size. Low = fluent under the corpus model. Docs with
    fewer than two tokens have no bigrams and are absent.

    Scale shape: tokens pair IN-ROW (filter empties, slice+zip_with —
    no positional window), then one (doc, w1, w2) aggregate; the bigram
    and context models grow with the corpus, so they join back by gram
    key (never broadcast — the decontaminate rule); V and totals are
    1-row broadcast cross joins. The (doc, bigram) aggregate feeds both
    the model and the scores, so its lineage is planned twice."""
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    n = F.size(F.col("__w"))
    grams = F.zip_with(
        F.slice(F.col("__w"), 1, n - 1),
        F.slice(F.col("__w"), 2, n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    docs_w = df.select(F.col(id_col).alias("__id"), words.alias("__w"))
    dw = (
        docs_w.where(n >= 2)
        .select("__id", F.explode(grams).alias("__g"))
        .select("__id", F.col("__g.a").alias("__a"), F.col("__g.b").alias("__b"))
        .groupBy("__id", "__a", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    cb = dw.groupBy("__a", "__b").agg(F.sum("__c").alias("__cb"))
    cu = cb.groupBy("__a").agg(F.sum("__cb").alias("__cu"))
    vocab = docs_w.select(F.explode("__w").alias("__t")).agg(
        F.count_distinct("__t").cast("double").alias("__v")
    )
    k = float(add_k)
    nlp = -F.log(
        (F.col("__cb") + F.lit(k))
        / (F.col("__cu") + F.lit(k) * F.col("__v"))
    )
    scored = (
        dw.join(cb, ["__a", "__b"])
        .join(cu, "__a")
        .crossJoin(F.broadcast(vocab))
        .select("__id", "__c", (F.col("__c") * nlp).alias("__nlp"))
    )
    return (
        scored.groupBy("__id")
        .agg(
            F.sum("__c").alias("n_bigrams"),
            (F.sum("__nlp") / F.sum("__c")).alias("avg_neg_logprob"),
        )
        .select(F.col("__id").alias(id_col), "n_bigrams", "avg_neg_logprob")
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information: word pairs
    that co-occur adjacently far more than their marginal frequencies
    predict — multiword-expression mining ("New York", "machine
    learning") for tokenizer vocabulary design and phrase-aware dedup.
    ``pmi = ln((cb / Nb) / ((ca / Nu) * (cb2 / Nu)))`` with cb the
    bigram count (>= ``min_count`` to suppress one-off noise), ca/cb2
    the unigram counts, Nb/Nu the bigram/unigram totals. Returns
    (w1, w2, n_pair, pmi) — the k highest-PMI pairs, ties broken on
    (w1, w2) so the k-boundary is deterministic cross-engine.

    Scale shape: in-row token pairing (no positional window), one
    bigram-keyed and one unigram-keyed aggregate, the unigram dim joins
    back BY KEY (vocabulary grows with the corpus — never broadcast),
    totals are 1-row broadcast cross joins, and the global top-k is
    orderBy+limit — TakeOrderedAndProject, the PERFORMANCE.md finding-11
    shape, never a single-partition window."""
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    n = F.size(F.col("__w"))
    grams = F.zip_with(
        F.slice(F.col("__w"), 1, n - 1),
        F.slice(F.col("__w"), 2, n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    docs_w = df.select(words.alias("__w"))
    uni = (
        docs_w.select(F.explode("__w").alias("__t"))
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__cu"))
    )
    nu = uni.agg(F.sum("__cu").cast("double").alias("__nu"))
    big = (
        docs_w.where(n >= 2)
        .select(F.explode(grams).alias("__g"))
        .select(F.col("__g.a").alias("w1"), F.col("__g.b").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= int(min_count))
    )
    nb = (
        docs_w.select((n - 1).alias("__d"))
        .where(F.col("__d") > 0)
        .agg(F.sum("__d").cast("double").alias("__nb"))
    )
    pmi = F.log(
        (F.col("n_pair") / F.col("__nb"))
        / ((F.col("__ca") / F.col("__nu")) * (F.col("__cb2") / F.col("__nu")))
    )
    scored = (
        big.join(uni.select(F.col("__t").alias("w1"), F.col("__cu").alias("__ca")), "w1")
        .join(uni.select(F.col("__t").alias("w2"), F.col("__cu").alias("__cb2")), "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(pmi + F.lit(1e-9), 6).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(int(k))


def llr_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k collocations by Dunning's log-likelihood ratio (G², 1993)
    — the field-standard fix for :func:`pmi_collocations`' low-count
    bias (PMI rewards rare pairs maximally; G² weighs the EVIDENCE, so
    a 500x "machine learning" outranks a 2x typo pair). The 2x2
    contingency is over adjacent-bigram positions: ``k11`` the pair
    count, marginals the first-/second-position token counts,
    ``G² = 2 * sum k_ij * ln(k_ij * N / (row_i * col_j))`` with empty
    cells contributing 0; only OVER-represented pairs
    (``k11 * N > row1 * col1``) are scored — G² is two-sided and the
    anti-collocations are a different report. Ordering is on the
    ROUNDED statistic (4 dp) with (w1, w2) tiebreak, so the top-k
    boundary cannot flip on cross-libm ln ulps. Returns
    ``(w1, w2, n_pair, llr)``.

    Scale shape: one in-row bigram aggregate, localCheckpoint-pinned
    (both position marginals, the total AND the candidate filter derive
    from it — four branches); marginals join back BY KEY (vocabulary
    grows with the corpus — never broadcast); top-k is
    TakeOrderedAndProject."""
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    n = F.size(F.col("__w"))
    grams = F.zip_with(
        F.slice(F.col("__w"), 1, n - 1),
        F.slice(F.col("__w"), 2, n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    docs_w = df.select(words.alias("__w"))
    big = (
        docs_w.where(n >= 2)
        .select(F.explode(grams).alias("__g"))
        .select(F.col("__g.a").alias("w1"), F.col("__g.b").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .localCheckpoint(eager=True)
    )
    first = big.groupBy("w1").agg(F.sum("n_pair").alias("__r1"))
    second = big.groupBy("w2").agg(F.sum("n_pair").alias("__c1"))
    tot = big.agg(F.sum("n_pair").cast("double").alias("__nn"))
    cand = (
        big.where(F.col("n_pair") >= int(min_count))
        .join(first, "w1")
        .join(second, "w2")
        .crossJoin(F.broadcast(tot))
    )
    k11 = F.col("n_pair").cast("double")
    r1 = F.col("__r1").cast("double")
    c1 = F.col("__c1").cast("double")
    nn = F.col("__nn")
    k12 = r1 - k11
    k21 = c1 - k11
    k22 = nn - r1 - k21
    r2 = nn - r1
    c2 = nn - c1

    def t(kc, row, col):
        return F.when(kc > 0, kc * F.log(kc * nn / (row * col))).otherwise(0.0)

    llr = 2.0 * (t(k11, r1, c1) + t(k12, r1, c2) + t(k21, r2, c1) + t(k22, r2, c2))
    scored = cand.where(k11 * nn > r1 * c1).select(
        "w1", "w2", "n_pair",
        F.round(llr + F.lit(1e-9), 4).alias("llr"),
    )
    return scored.orderBy(F.desc("llr"), "w1", "w2").limit(int(k))


def distinct_ngram_diversity(
    df: DataFrame,
    text_col: str,
    max_n: int = 3,
) -> DataFrame:
    """Corpus diversity dashboard: for each n in 1..max_n, the corpus
    distinct-n ratio ``distinct n-grams / total n-grams`` — the
    generation-diversity metric (distinct-1/-2 of Li et al.) applied to
    corpus QA: a crawl dominated by templated boilerplate shows distinct-2
    collapsing long before exact dedup fires, the earliest signal that a
    source is synthetic or mirror-heavy. Returns one row per n (a row
    appears only when the corpus has at least one n-gram at that n):
    ``(n, total_grams, distinct_grams, distinct_ratio)`` nudge-rounded
    to 6.

    Thin corpus-level view over
    :func:`mr_dice_spark.operators.vocab.distinct_ngram_diversity` (the
    grouped generalization added in round 7): a constant group key, so
    ALL n sizes build in one codegen projection and explode once — the
    corpus is scanned and tokenized exactly once, replacing this
    function's original scan-per-n loop (a measured 3x-scan plan)."""
    if max_n < 1:
        raise ValueError(f"max_n must be >= 1: {max_n}")
    from mr_dice_spark.operators.vocab import (
        distinct_ngram_diversity as _grouped,
    )

    out = _grouped(
        df.select(F.lit(1).alias("__all"), F.col(text_col)),
        "__all",
        text_col,
        ns=tuple(range(1, max_n + 1)),
    )
    return out.select(
        "n",
        F.col("total_ngrams").alias("total_grams"),
        F.col("distinct_ngrams").alias("distinct_grams"),
        "distinct_ratio",
    )


def term_burstiness(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 10,
    k: int = 50,
) -> DataFrame:
    """Top-``k`` burstiest terms: the Fano factor (variance-to-mean
    ratio) of each term's per-document count, zeros included — Church &
    Gale's burstiness. A term whose occurrences CLUMP into few documents
    (fano >> 1) is topical/templated; a term spread evenly (fano ~ 1,
    the Poisson floor) is function-word-like. On a crawl this separates
    boilerplate tokens (cookie banners: huge df AND huge fano) from
    genuine connective tissue — a signal the tfidf/PMI family misses
    because both condition on presence, not dispersion.

    Absent-document zeros need no explicit rows: with N total documents,
    ``mean = s1/N`` and ``var = s2/N - mean^2`` from the per-term sums
    of tf and tf² alone. All inputs are exact integers, every float op
    is a correctly-rounded IEEE step on identical operands, so the fano
    is BIT-identical across engines and ordering on it is deterministic
    (ties break on the term). ``min_df`` floors the df so one-document
    hapaxes (fano = tf trivially) don't drown the report.

    Scale shape: one (doc, term) aggregate with map-side combine, one
    term-keyed reduce, a 1-row broadcast of N, TakeOrdered k. Returns
    ``(term, df, total_tf, mean_tf, fano)``."""
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1: {min_df}")
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__t"),
    ).where(F.col("__t") != "")
    tf = toks.groupBy("__id", "__t").agg(F.count(F.lit(1)).alias("__tf"))
    per = tf.groupBy("__t").agg(
        F.count(F.lit(1)).alias("__df"),
        F.sum("__tf").alias("__s1"),
        F.sum(F.col("__tf") * F.col("__tf")).alias("__s2"),
    )
    n = df.select(F.count(F.lit(1)).cast("double").alias("__n"))
    j = per.where(F.col("__df") >= min_df).crossJoin(F.broadcast(n))
    m = F.col("__s1").cast("double") / F.col("__n")
    fano = (F.col("__s2").cast("double") / F.col("__n") - m * m) / m
    return (
        j.select(
            F.col("__t").alias("term"),
            F.col("__df").cast("long").alias("df"),
            F.col("__s1").cast("long").alias("total_tf"),
            F.round(m + F.lit(1e-9), 6).alias("mean_tf"),
            fano.alias("__fano"),
        )
        .orderBy(F.desc("__fano"), F.asc("term"))
        .limit(k)
        .select(
            "term", "df", "total_tf", "mean_tf",
            F.round(F.col("__fano") + F.lit(1e-9), 6).alias("fano"),
        )
    )


def unigram_kl_by_group(
    df: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """Per-group unigram KL divergence from the corpus:
    ``KL(P_g || P) = sum_t p_g(t) * log2(p_g(t) / p(t))`` in bits — how
    far each slice's token distribution sits from the blend. The
    mixture-weighting diagnostic: a language/source whose KL spikes
    after an ingest is the slice whose new shards changed character,
    caught at distribution level before any downstream metric moves.
    Every group token appears in the corpus by construction, so p(t) >
    0 wherever p_g(t) > 0 — no smoothing, no epsilon.

    Each term contributes ``(c/N_g) * log2((c*N) / (N_g*ct))`` — one
    transcendental per (group, term), operands exact integers in
    doubles (the ANSI long-product rule), cross-libm ulp drift absorbed
    by the output rounding. The (group, term) cell aggregate is
    localCheckpoint-pinned: group totals, corpus term totals and the
    final join all derive from it. Returns
    ``(group, n_tokens, vocab_terms, kl_bits)``."""
    cells = (
        df.select(
            F.col(group_col).alias("__g"),
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__t"),
        )
        .where(F.col("__t") != "")
        .groupBy("__g", "__t")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=True)
    )
    gt = cells.groupBy("__g").agg(F.sum("__c").alias("__ng"))
    tt = cells.groupBy("__t").agg(F.sum("__c").alias("__ct"))
    nn = cells.agg(F.sum("__c").cast("double").alias("__nn"))
    term = (
        cells.join(F.broadcast(gt), "__g")
        .join(tt, "__t")
        .crossJoin(F.broadcast(nn))
        .select(
            "__g",
            F.col("__ng").alias("__ng"),
            (
                (F.col("__c").cast("double") / F.col("__ng").cast("double"))
                * F.log2(
                    (F.col("__c").cast("double") * F.col("__nn"))
                    / (F.col("__ng").cast("double") * F.col("__ct").cast("double"))
                )
            ).alias("__kl"),
        )
    )
    return (
        term.groupBy("__g")
        .agg(
            F.max("__ng").alias("__ng"),
            F.count(F.lit(1)).alias("vocab_terms"),
            F.sum("__kl").alias("__k"),
        )
        .select(
            F.col("__g").alias(group_col),
            F.col("__ng").cast("long").alias("n_tokens"),
            F.col("vocab_terms").cast("long").alias("vocab_terms"),
            F.round(F.col("__k") + F.lit(1e-9), 6).alias("kl_bits"),
        )
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 lexical relevance of every document to a fixed query
    term list (Robertson-Sparck Jones weights, the Lucene '+1' idf
    variant so weights stay positive at high document frequency):
    ``(id, score)`` for documents matching at least one term, with
    ``score = sum_t idf_t * tf_t*(k1+1) / (tf_t + k1*(1-b+b*dl/avgdl))``
    and ``idf_t = ln((N - df_t + 0.5)/(df_t + 0.5) + 1)``. The lexical
    half of hybrid retrieval (pair with a dense cosine ranking through
    rrf_fuse).

    Scale shape: the query is BOUNDED (len(terms) literals — this is a
    query evaluator, not a corpus-dim join), so per-document tf/dl are
    one in-row pass over the token array, and N/avgdl/df all fit ONE
    1-row aggregate broadcast back; zero corpus shuffles."""
    if not terms:
        raise ValueError("bm25_scores: terms must be non-empty")
    if len(set(terms)) != len(terms):
        raise ValueError(f"bm25_scores: duplicate query terms: {terms}")
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda x: x != "",
    )

    def _eq(term: str):
        # NOT `lambda x, t=term`: a two-parameter lambda makes the HOF
        # helper pass (element, index) and the index silently shadows
        # the bound term
        return lambda x: x == F.lit(term)

    sized = df.select(
        F.col(id_col).alias("__id"),
        toks.alias("__w"),
    ).select(
        "__id",
        F.size("__w").cast("double").alias("__dl"),
        *[
            F.size(F.filter("__w", _eq(t))).cast("double").alias(f"__tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = sized.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("double")).alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / F.col("__avgdl")
    )
    parts = [
        F.log(
            (F.col("__n") - F.col(f"__df{i}") + 0.5)
            / (F.col(f"__df{i}") + 0.5)
            + 1.0
        )
        * (F.col(f"__tf{i}") * F.lit(k1 + 1.0))
        / (F.col(f"__tf{i}") + norm)
        for i in range(len(terms))
    ]
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    return (
        sized.crossJoin(F.broadcast(stats))
        .where(sum((F.col(f"__tf{i}") for i in range(len(terms))), F.lit(0.0)) > 0)
        .select(F.col("__id").alias(id_col), score.alias("score"))
    )
