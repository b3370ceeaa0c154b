"""Tokenizer-training statistics: BPE pair counts over the corpus and
per-document n-gram novelty.

Beyond-reference training-data-pipeline operators — the corpus-side half
of tokenizer training (Sennrich et al. 2016: count adjacent symbol pairs
weighted by word frequency, merge the most frequent, iterate) and the
diversity audit (how much of a document's n-gram mass is first seen in
that document) that corpus curation uses to spot stale or boilerplate
sources before training.

Scale shapes
------------
``bpe_pair_stats``: one corpus-sized word-count aggregate (map-side
combine on the word key — the classic wordcount shuffle), after which all
work is VOCABULARY-sized: pair explosion runs over distinct words
weighted by their counts, so a 100 TB corpus with a 10 M-word vocabulary
does the char-pair pass over 10 M rows, not 10 T tokens. The top-k is a
single tiny sort on the pair-count table (alphabet² rows).

``ngram_novelty``: the gram→first-document attribution is one hash
aggregate keyed on the gram (the same corpus-sized exchange any
gram-indexed operator pays, e.g. decontamination) followed by a gram-keyed
join back — both shuffles share the gram key, so Catalyst reuses the
partitioning; per-document novelty is then a doc-keyed re-aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mr_dice_spark.functions.text import tokens
from mr_dice_spark.operators.local import local_frame


def bpe_pair_stats(
    df: DataFrame,
    text_col: str,
    *,
    top_k: int = 20,
) -> DataFrame:
    """Adjacent character-pair counts for one BPE merge step:
    ``(pair, n_occurrences, rank)`` — the ``top_k`` most frequent adjacent
    symbol pairs across the whitespace-tokenized corpus, each word's pairs
    weighted by the word's corpus frequency. Ties rank by pair string
    ascending, so the result (and the induced merge choice, rank 1) is
    deterministic on any engine.

    This is one iteration; a full tokenizer build re-tokenizes with the
    merged symbol and re-runs — each iteration's heavy half is exactly this
    shape, so the operator is the unit the pipeline schedules. Integer
    counts only: the oracle restatement is hash-exact.
    """
    words = df.select(F.explode(tokens(F.col(text_col))).alias("__w"))
    wc = words.groupBy("__w").agg(F.count(F.lit(1)).alias("__n"))
    # pair i = substr(word, i, 2): no char-array materialization, and the
    # same expression exists verbatim in ANSI SQL
    pairs = (
        wc.where(F.length("__w") >= 2)
        .select(
            "__w",
            "__n",
            F.explode(F.sequence(F.lit(1), F.length("__w") - 1)).alias("__i"),
        )
        .select(
            F.substring(F.col("__w"), F.col("__i"), 2).alias("pair"),
            F.col("__n"),
        )
        .groupBy("pair")
        .agg(F.sum("__n").alias("n_occurrences"))
    )
    # global top-k as orderBy+limit (TakeOrderedAndProject: each partition
    # forwards <= K candidates) — an empty-partition-spec row_number
    # window would sort the WHOLE pair table on one task, and the
    # "alphabet²-sized" intuition fails on CJK/byte-noise corpora where
    # distinct adjacent pairs run to millions (PERFORMANCE.md finding 12);
    # the rank window then runs over only the K surviving rows
    top = pairs.orderBy(F.col("n_occurrences").desc(), F.col("pair").asc()).limit(
        top_k
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
    return top.withColumn("rank", F.row_number().over(w)).orderBy("rank")


def vocab_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    vocab_size: int = 1000,
) -> DataFrame:
    """Tokenizer-coverage audit: build the corpus top-``vocab_size``
    word vocabulary (frequency desc, word asc on ties — deterministic on
    any engine), then report per document the token-level out-of-vocab
    rate: ``(id, n_tokens, n_oov, oov_frac)`` for every document with at
    least one token. The audit a pipeline runs before freezing a
    tokenizer: sources with high OOV under the corpus's own head
    vocabulary are exactly the ones a fixed vocab will shred into bytes.

    Scale shape: the wordcount aggregate (map-side combine on the word
    key), a single-partition top-k over the VOCABULARY-sized count table,
    and the vocabulary broadcast back into a token-keyed membership join
    — the corpus is scanned twice but shuffled only for the wordcount;
    the per-doc rollup keys on the doc id. ``oov_frac`` counts tokens
    with multiplicity (a document repeating one OOV word is still mostly
    OOV) and is nudge-rounded to 6 places.
    """
    id_ = F.col(id_col)
    toks = df.select(id_.alias("__id"), F.explode(tokens(F.col(text_col))).alias("__w"))
    wc = toks.groupBy("__w").agg(F.count(F.lit(1)).alias("__n"))
    # global top-K as orderBy + limit -> TakeOrderedAndProject: each
    # partition forwards at most K candidates and the driver merges K
    # (a global row_number window would instead sort the whole
    # vocabulary on one partition)
    vocab = (
        wc.orderBy(F.col("__n").desc(), F.col("__w").asc())
        .limit(vocab_size)
        .select("__w", F.lit(True).alias("__in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "__w", "left")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("__in_vocab").isNull()).alias("n_oov"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens") + F.lit(1e-9), 6).alias(
                "oov_frac"
            ),
        )
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: of the document's DISTINCT word
    ``n``-grams, how many are first seen in this document —
    ``(id, n_grams, n_novel, novelty_frac)`` for every document with at
    least one gram. "First seen" attributes each gram to the smallest
    document id containing it (corpus order); a re-crawl or boilerplate
    source scores near 0, fresh text near 1 — the aggregate complement of
    pairwise near-dup detection.

    ``novelty_frac`` is nudge-rounded to 6 places; counts are exact
    integers, so the DuckDB restatement hash-matches.
    """
    id_ = F.col(id_col)
    w = df.select(id_.alias("__id"), tokens(F.col(text_col)).alias("__w"))
    k = F.size("__w") - (n - 1)
    # per-doc distinct grams built IN-ROW (transform + array_distinct):
    # the exploded (id, gram) stream is distinct by construction, saving
    # the corpus-wide distinct exchange the naive plan pays; min-per-gram
    # then runs as a window on the gram key (ONE gram-keyed shuffle
    # total) instead of an aggregate plus a join back
    gram_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.array_join(F.slice(F.col("__w"), i, n), " "),
        )
    )
    grams = (
        w.where(k >= 1)
        .select("__id", F.explode(gram_arr).alias("__g"))
    )
    wg = Window.partitionBy("__g")
    return (
        grams.withColumn("__first", F.min("__id").over(wg))
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if(F.col("__first") == F.col("__id")).alias("n_novel"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams") + F.lit(1e-9), 6).alias(
                "novelty_frac"
            ),
        )
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str,
    n_merges: int = 12,
) -> DataFrame:
    """Train the first ``n_merges`` BPE merges on the corpus (Sennrich
    et al. 2016, the loop whose per-round heavy half is
    ``bpe_pair_stats``): whitespace words weighted by corpus frequency,
    symbols initialized to characters; each round counts adjacent symbol
    pairs, picks the winner with the deterministic (count DESC, left,
    right) tiebreak, and applies the merge greedily left-to-right in
    every word (non-overlapping from the left — equivalently the
    run-parity positional rule the SQL oracle restates). Returns the
    merge table ``(rank, left_sym, right_sym, pair_count)``. No
    end-of-word marker: merges stay within whitespace tokens (the marker
    is tokenizer packaging, orthogonal to the corpus computation).

    Scale shape: ONE corpus-sized wordcount shuffle up front; every
    round after that is vocabulary-sized — an in-row pair zip over
    distinct words, a pair-keyed aggregate with map-side combine, a
    1-row argmax collect (the k-means centroid idiom: driver state is
    the bounded model, never corpus data), and a narrow per-word fold to
    apply the merge, re-materialized per round with an eager
    localCheckpoint so round t+1 reads arrays, not a t-deep lazy
    expression tower. 100 TB corpus, 10 M-word vocab: every round
    touches 10 M rows."""
    from mr_dice_spark.functions.text import tokens

    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1: {n_merges}")
    words = df.select(F.explode(tokens(F.col(text_col))).alias("__w")).where(
        F.col("__w") != ""
    )
    wc = words.groupBy("__w").agg(F.count(F.lit(1)).alias("__f"))
    syms = wc.select(
        "__f", F.split("__w", "").alias("__s")
    ).localCheckpoint(eager=True)
    out: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        n = F.size("__s")
        top = (
            syms.where(n >= 2)
            .select(
                "__f",
                F.explode(
                    F.zip_with(
                        F.slice("__s", 1, n - 1),
                        F.slice("__s", 2, n - 1),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    )
                ).alias("__g"),
            )
            .groupBy(F.col("__g.a").alias("a"), F.col("__g.b").alias("b"))
            .agg(F.sum("__f").alias("c"))
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        out.append((rank, a, b, c))
        if rank == n_merges:
            break  # last round's rebuild would be dead work
        # greedy left-to-right merge as a per-word fold: consume the
        # current symbol into the accumulator, collapsing (a, b) only
        # when the PREVIOUS accumulated symbol is a verbatim `a` —
        # a freshly merged tail can never re-match, which is exactly
        # the non-overlapping-from-left BPE rule. F.get (not
        # element_at) keeps the empty-accumulator probe NULL-safe
        # under ANSI mode. (Shared with bpe_encode_stats.)
        fold = _bpe_merge_fold(F.col("__s"), a, b)
        # LAZY checkpoint (r12, guide §2.6 "overlap independent jobs"
        # applied to a sequential loop): eager=True ran a dedicated
        # materialization job per round — 24 sequential jobs for 12
        # rounds, pure scheduling floor on a vocab-sized frame. With
        # eager=False the next round's argmax (a TakeOrdered, which
        # computes EVERY partition, so the checkpoint persists fully)
        # materializes the fold as a side effect: one job per round,
        # same flat LogicalRDD plan for round t+1.
        syms = syms.select("__f", fold.alias("__s")).localCheckpoint(
            eager=False
        )
    return local_frame(
        df.sparkSession, out, "rank int, left_sym string, right_sym string, pair_count long"
    )


def _bpe_merge_fold(col, a: str, b: str):
    """Greedy left-to-right non-overlapping application of one merge
    (a, b) to a symbol array — the fold `bpe_train_merges` applies each
    round, shared with the encoder."""
    merged = a + b
    return F.aggregate(
        col,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.get(acc, F.size(acc) - 1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_encode_stats(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    group_col: str | None = None,
) -> DataFrame:
    """Apply a trained BPE merge list to the corpus and report per-group
    tokenizer fertility — ``(group?, n_words, n_tokens, n_distinct_words,
    fertility = tokens/words)`` — the 'how many tokens does this corpus
    cost under this tokenizer' number that drives mixture budgeting, and
    the consumer side of :func:`bpe_train_merges` (train -> encode in
    one pipeline).

    Encoding collapses to DISTINCT words first (the set-equivalence
    trick: a 100 TB corpus has a vocabulary-sized distinct-word table,
    and each word is encoded ONCE), applies the merges in rank order
    with the exact training fold (materialized per merge — a 12-deep
    lazy aggregate tower would breach codegen limits, the PQ/Janino
    lesson), and joins token counts back to the per-group word counts —
    one corpus-sized shuffle for the word counts, vocabulary-sized work
    after.
    """
    from mr_dice_spark.functions.text import tokens

    gcols = [group_col] if group_col else []
    words = df.select(
        *gcols, F.explode(tokens(F.col(text_col))).alias("__w")
    ).where(F.col("__w") != "")
    dw = words.groupBy(*gcols, "__w").agg(F.count(F.lit(1)).alias("__c"))
    enc = dw.select("__w").distinct().select(
        "__w", F.split("__w", "").alias("__s")
    )
    for a, b in merges:
        enc = enc.select("__w", _bpe_merge_fold(F.col("__s"), a, b).alias("__s"))
        enc = enc.localCheckpoint(eager=True)
    enc = enc.select("__w", F.size("__s").alias("__nt"))
    joined = dw.join(enc, "__w")
    agg = joined.groupBy(*gcols).agg(
        F.sum("__c").alias("n_words"),
        F.sum(F.col("__c") * F.col("__nt")).alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_words"),
    )
    return agg.select(
        *gcols,
        "n_words",
        "n_tokens",
        "n_distinct_words",
        F.try_divide(
            F.col("n_tokens").cast("double"), F.col("n_words").cast("double")
        ).alias("fertility"),
    )


def heaps_law_fit(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: reading documents in id
    order, the distinct-term count follows ``V(n) ~ K * n^beta`` in the
    cumulative token count ``n`` (beta ~0.4-0.6 for organic text); a
    templated or looping corpus flattens early (low beta), synthetic
    id-stuffed text inflates it — the growth-curve twin of the Zipf
    slope (which reads the FREQUENCY distribution at one point in
    time). Returns one row ``(n_docs, total_tokens, vocab, beta,
    log10_k, r2)`` from a log10-log10 OLS over the per-document
    cumulative points.

    Construction: per-doc token totals and per-term FIRST document (one
    aggregate each — a term adds to the vocabulary exactly once, at its
    first document), then running sums over the DOC-sized relation give
    (cum_tokens, cum_vocab) per document — via the DISTRIBUTED two-pass
    prefix sum (`operators.scale.prefix_sums`), so no single-partition
    window exists at any corpus size. Both logs are quantized to 6 dp
    before the moment sums (the chained-float contract).
    """
    from mr_dice_spark.functions.text import tokens
    from mr_dice_spark.operators.scale import prefix_sums

    words = df.select(
        F.col(id_col).alias("__d"), F.explode(tokens(F.col(text_col))).alias("__w")
    ).where(F.col("__w") != "")
    per_doc = words.groupBy("__d").agg(F.count(F.lit(1)).alias("__nt"))
    first = words.groupBy("__w").agg(F.min("__d").alias("__fd"))
    new_terms = first.groupBy(F.col("__fd").alias("__d")).agg(
        F.count(F.lit(1)).alias("__nv")
    )
    docs = per_doc.join(new_terms, "__d", "left").select(
        "__d", "__nt", F.coalesce("__nv", F.lit(0)).alias("__nv")
    )
    cum = prefix_sums(docs, "__d", ["__nt", "__nv"]).select(
        "__d",
        F.col("__nt_cum").alias("__cn"),
        F.col("__nv_cum").alias("__cv"),
    ).where((F.col("__cn") > 0) & (F.col("__cv") > 0))
    pts = cum.select(
        F.round(F.log10(F.col("__cn").cast("double")) + F.lit(1e-9), 6).alias("__x"),
        F.round(F.log10(F.col("__cv").cast("double")) + F.lit(1e-9), 6).alias("__y"),
    )
    x, y = F.col("__x"), F.col("__y")
    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
        F.sum(x * y).alias("__sxy"),
    )
    totals = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("total_tokens"),
        F.sum("__nv").alias("vocab"),
    )
    nn = F.col("__n")
    vx = nn * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = nn * F.col("__syy") - F.col("__sy") * F.col("__sy")
    cov = nn * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    beta = F.try_divide(cov, vx)
    out = totals.crossJoin(F.broadcast(m))
    return out.select(
        "n_docs",
        "total_tokens",
        "vocab",
        beta.alias("beta"),
        ((F.col("__sy") - beta * F.col("__sx")) / nn).alias("log10_k"),
        F.try_divide(cov * cov, vx * vy).alias("r2"),
    )


def vocab_richness_estimate(df: DataFrame, text_col: str) -> DataFrame:
    """Chao1 species-richness + Good-Turing unseen-mass estimates for
    the corpus vocabulary — the "how many types exist that this sample
    hasn't seen yet" planning numbers (Chao 1984; Good 1953) a corpus
    curator reads next to the Heaps exponent before deciding whether
    more crawling buys new vocabulary:

    * ``chao1 = D + f1*(f1-1) / (2*(f2+1))`` (bias-corrected form —
      defined even when no type occurs exactly twice),
    * ``gt_unseen_mass = f1 / N`` (the probability the NEXT token is an
      unseen type),

    over whitespace tokens (the heaps/zipf convention), where D =
    distinct types, f1/f2 = singleton/doubleton counts, N = total
    tokens. One token explode + two tiny aggregates; single-row output
    ``(n_tokens, vocab, f1, f2, chao1, gt_unseen_mass)``.
    """
    words = df.select(
        F.explode(
            F.filter(
                F.split(F.trim(F.col(text_col)), r"\s+"),
                lambda x: x != "",
            )
        ).alias("__w")
    )
    freq = words.groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    agg = freq.agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.count_if(F.col("__c") == 1).alias("f1"),
        F.count_if(F.col("__c") == 2).alias("f2"),
    )
    f1 = F.col("f1").cast("double")
    chao1 = F.col("vocab").cast("double") + f1 * (f1 - 1.0) / (
        2.0 * (F.col("f2").cast("double") + 1.0)
    )
    return agg.select(
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        F.round(chao1 + F.lit(1e-9), 4).alias("chao1"),
        F.round(
            F.try_divide(f1, F.col("n_tokens").cast("double")) + F.lit(1e-9), 6
        ).alias("gt_unseen_mass"),
    )


def distinct_ngram_diversity(
    df: DataFrame,
    group_col: str,
    text_col: str,
    ns: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Distinct-n diversity per group: for each n in ``ns``, the count of
    word n-grams, the count of DISTINCT word n-grams, and their ratio —
    the standard text-generation/corpus diversity readout (distinct-1/2/3
    of Li et al. 2016): a corpus (or a source, or a model's outputs)
    dominated by templates collapses the ratio long before exact-dup
    detectors fire, because no two documents are identical.

    All n-grams for all n are built in ONE projection (a concat of
    per-n transform() arrays over the token array, entirely inside
    whole-stage codegen) and exploded once, so the corpus is scanned and
    tokenized exactly once regardless of len(ns). Distinctness is a
    two-level hash aggregate — (group, n, gram) then (group, n) — the
    exact-count regime; at extreme gram cardinality use the sketch
    family (operators/sketch.approx_distinct) instead. Documents shorter
    than n tokens contribute nothing at that n. Returns
    ``(group, n, total_ngrams, distinct_ngrams, distinct_ratio)``.
    """
    if not ns or any(n < 1 for n in ns):
        raise ValueError(f"distinct_ngram_diversity: ns must be >= 1, got {ns!r}")
    toks = tokens(F.col(text_col))

    def _gram_lambda(n: int):
        # single-parameter lambda ON PURPOSE: a second parameter (even a
        # defaulted closure capture) makes pyspark pass the 0-based array
        # INDEX into it — transform(x, (el, idx) -> ...) dispatch is by
        # the lambda's arity
        return lambda i: F.struct(
            F.lit(n).alias("n"),
            F.concat_ws(" ", F.slice("__t", i, n)).alias("gram"),
        )

    parts = [
        F.when(
            F.size("__t") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - F.lit(n - 1)),
                _gram_lambda(n),
            ),
        ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))
        for n in ns
    ]
    grams = (
        df.where(F.col(text_col).isNotNull() & F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("__g"), toks.alias("__t"))
        .select("__g", F.explode(F.concat(*parts)).alias("__e"))
        .select("__g", F.col("__e.n").alias("n"), F.col("__e.gram").alias("__gram"))
    )
    per_gram = grams.groupBy("__g", "n", "__gram").agg(
        F.count(F.lit(1)).alias("__c")
    )
    out = per_gram.groupBy("__g", "n").agg(
        F.sum("__c").alias("total_ngrams"),
        F.count(F.lit(1)).alias("distinct_ngrams"),
    )
    return out.select(
        F.col("__g").alias(group_col),
        F.col("n").cast("int").alias("n"),
        F.col("total_ngrams").cast("long").alias("total_ngrams"),
        F.col("distinct_ngrams").cast("long").alias("distinct_ngrams"),
        F.round(
            F.col("distinct_ngrams").cast("double")
            / F.col("total_ngrams").cast("double")
            + F.lit(1e-9),
            6,
        ).alias("distinct_ratio"),
    )
