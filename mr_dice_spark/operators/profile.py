"""Dataset observability operators: snapshot diffing, column profiling,
and fixed-range histograms.

Beyond-reference training-data-pipeline operators — the daily-run QA
surface of a corpus store: what changed between two snapshots (the
incremental-curation audit), per-column health (null rates, exact
cardinalities), and value distributions. The reference's nearest
analogue is its result-envelope statistics (SURVEY.md §2.2); these are
their corpus-scale generalization.

Scale shapes
------------
``snapshot_diff``: one full-outer join keyed on the id — the same single
exchange any id-keyed reconciliation pays; comparisons are null-safe
column expressions, no hashing round-trip, no collect.

``profile_columns``: ONE pass over the corpus. Multiple exact
count-distincts in one aggregate go through Spark's Expand (input
multiplied by the profiled-column count before the shuffle) — the
documented price of exactness in one job; profile few columns, or trade
to approx_count_distinct when ~5% is acceptable (Spark's default
rsd=0.05).

``value_histogram``: a narrow bucket expression and a hash aggregate on
at most ``nbins`` keys — the shuffle moves bins, not rows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    compare_cols: Sequence[str],
    include_unchanged: bool = False,
    digest: bool = False,
) -> DataFrame:
    """Reconcile two corpus snapshots by id: ``(id, change)`` with
    ``change`` in ``added`` (id only in ``new``), ``removed`` (only in
    ``old``), ``changed`` (present in both, any ``compare_cols`` differs
    under null-safe equality), ``unchanged`` (emitted only when
    ``include_unchanged``). The audit an incremental curation run
    publishes next to its output — and the input to incremental
    recompute (only ``added``/``changed`` ids need re-embedding).

    PRECONDITION: ``id_col`` must be unique within each snapshot — a
    duplicated id fans out the full-outer join and emits one (possibly
    contradictory) change row per old×new copy. Corpus stores keyed by
    document id satisfy this by construction; dedup first if yours does
    not.

    ``digest=True`` is the 100 TB mode: each side pre-hashes
    ``compare_cols`` to one 256-bit sha2 over a JSON framing (NULL vs ''
    vs absent stay distinct) BEFORE the join, so the full-outer shuffle
    carries a fixed-width digest per row instead of the document bodies.
    Change classification is then equal-up-to-collision (~2^-128 —
    negligible next to storage bit-error rates); the default exact mode
    keeps the raw columns and is what the SQL oracle restates.
    """

    def side(df: DataFrame, tag: str) -> DataFrame:
        if digest:
            return df.select(
                F.col(id_col).alias("__id"),
                F.sha2(
                    F.to_json(F.struct(*[F.col(c) for c in compare_cols])), 256
                ).alias(f"__{tag}_digest"),
                F.lit(True).alias(f"__in_{tag}"),
            )
        return df.select(
            F.col(id_col).alias("__id"),
            *[F.col(c).alias(f"__{tag}_{c}") for c in compare_cols],
            F.lit(True).alias(f"__in_{tag}"),
        )

    o, n = side(old, "old"), side(new, "new")
    j = o.join(n, "__id", "full_outer")
    if digest:
        same = F.col("__old_digest").eqNullSafe(F.col("__new_digest"))
    else:
        same = F.lit(True)
        for c in compare_cols:
            same = same & F.col(f"__old_{c}").eqNullSafe(F.col(f"__new_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(~same, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(F.col("__id").alias(id_col), change.alias("change"))
    if not include_unchanged:
        out = out.where(F.col("change") != "unchanged")
    return out


def profile_columns(
    df: DataFrame, cols: Sequence[str], exact: bool = True,
) -> DataFrame:
    """Per-column profile in ONE corpus pass:
    ``(column, n_rows, n_null, null_frac, n_distinct)`` — one output row
    per profiled column, in the given order. ``n_distinct`` counts
    non-null distinct values; ``exact=True`` (default, what the golden's
    oracle states) pays the multi-distinct Expand (input replicated per
    profiled column before the shuffle — see module docstring), while
    ``exact=False`` swaps in approx_count_distinct (HLL++, ~5% relative
    error at Spark's default rsd=0.05) and keeps the pass a plain
    single-width aggregate — the right trade when the profile feeds a
    dashboard rather than a reconciliation.
    ``null_frac`` is nudge-rounded to 6 places; a zero-row input yields
    NULL null_frac.
    """
    if not cols:
        raise ValueError("profile_columns: cols must be non-empty")
    nd = F.count_distinct if exact else F.approx_count_distinct
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__rows_{c}"),
            F.count_if(F.col(c).isNull()).alias(f"__null_{c}"),
            nd(F.col(c)).alias(f"__nd_{c}"),
        ]
    one = df.agg(*aggs)
    per = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__rows_{c}").alias("n_rows"),
                F.col(f"__null_{c}").alias("n_null"),
                F.col(f"__nd_{c}").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(per).alias("p")).select(
        F.col("p.column").alias("column"),
        F.col("p.n_rows").alias("n_rows"),
        F.col("p.n_null").alias("n_null"),
        F.when(
            F.col("p.n_rows") > 0,
            F.round(F.col("p.n_null") / F.col("p.n_rows") + F.lit(1e-9), 6),
        ).alias("null_frac"),
        F.col("p.n_distinct").alias("n_distinct"),
    )


def value_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
) -> DataFrame:
    """Fixed-range equal-width histogram: ``(bin, lo_edge, hi_edge, n)``
    for every NON-EMPTY bin, bin = floor((v - lo) / width) clamped into
    [0, nbins-1] (so lo/hi outliers land in the edge bins — the profiler
    contract; filter first if outliers should be excluded). NULL and NaN
    values are dropped — an unguarded NaN would cast to bin 0 and
    silently inflate the lowest bin. Edges are derived from the same
    double arithmetic on both engines, so rows hash-match.
    """
    if not nbins > 0:
        raise ValueError(f"value_histogram: nbins must be positive: {nbins}")
    if not hi > lo:
        raise ValueError(f"value_histogram: need hi > lo: {lo}, {hi}")
    width = (float(hi) - float(lo)) / float(nbins)
    v = F.col(value_col).cast("double")
    bin_ = F.least(
        F.greatest(
            F.floor((v - F.lit(float(lo))) / F.lit(width)).cast("long"), F.lit(0)
        ),
        F.lit(nbins - 1),
    )
    return (
        df.where(v.isNotNull() & ~F.isnan(v))
        .select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            F.round(F.lit(float(lo)) + F.col("bin") * F.lit(width) + F.lit(1e-9), 6)
            .alias("lo_edge"),
            F.round(F.lit(float(lo)) + (F.col("bin") + 1) * F.lit(width) + F.lit(1e-9), 6)
            .alias("hi_edge"),
            "n",
        )
    )


def psi_drift(
    df_old: DataFrame,
    df_new: DataFrame,
    value_col: str,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two corpus snapshots: bin
    edges are the BASELINE snapshot's exact interior quantiles (the
    standard PSI recipe — equal-population bins on old, so drift shows
    up as mass leaving them), each snapshot's share per bin, and the
    per-bin PSI term ``(q - p) * ln(q / p)`` with both shares floored at
    ``eps`` so an emptied or newly-populated bin contributes a large
    finite term instead of infinity. Total PSI = SUM(psi_term); the
    usual reading is <0.1 stable, 0.1-0.25 moderate, >0.25 shifted.

    The monitoring complement of snapshot_diff (which is row-identity
    drift; this is DISTRIBUTION drift — both can fire independently).
    NULL values carry no position in a distribution and are excluded
    from both sides.

    Determinism/oracle contract: edges are nudge-rounded to 6 (the
    winsorize idiom — Spark exact ``percentile`` and DuckDB
    ``quantile_cont`` interpolate identically once quantized), shares
    and psi terms are nudge-rounded after every transcendental, and the
    bucket rule is the portable ``1 + count(edges < v)`` fold (strictly
    greater, duplicated edges simply yield empty bins).

    Scale shape: one exact-percentile aggregate on the baseline (a
    bounded k-float collect, the kmeans/quota altitude), then each
    snapshot is a single narrow projection + n_bins-key hash aggregate —
    two scans total, no joins wider than the n_bins-row bin frames."""
    edges = psi_edges(df_old, value_col, n_bins)
    counts = (
        psi_bins_frame(df_old.sparkSession, n_bins)
        .join(psi_bin_counts(df_old, value_col, edges, "n_old"), "bin", "left")
        .join(psi_bin_counts(df_new, value_col, edges, "n_new"), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    return psi_from_counts(counts, eps)


def psi_edges(df: DataFrame, value_col: str, n_bins: int) -> list[float]:
    """The baseline's nudge-rounded interior quantile edges (a bounded
    (n_bins-1)-float collect — the kmeans/quota altitude)."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2: {n_bins}")
    probs = [i / n_bins for i in range(1, n_bins)]
    edges_row = (
        df.where(F.col(value_col).isNotNull())
        .agg(
            F.array(
                *[
                    F.round(F.percentile(value_col, p) + F.lit(1e-9), 6)
                    for p in probs
                ]
            ).alias("edges")
        )
        .first()
    )
    if edges_row is None or any(e is None for e in edges_row["edges"]):
        raise ValueError(
            f"psi_edges: baseline has no non-null {value_col!r} values — "
            "no distribution to bin against"
        )
    return [float(e) for e in edges_row["edges"]]


def psi_bucket(value, edges: list[float]):
    """Portable bucket rule: ``1 + count(edges strictly below value)`` —
    a literal fold, streaming-safe (no window, no join)."""
    v = value.cast("double")
    bucket = F.lit(1)
    for e in edges:
        bucket = bucket + F.when(v > F.lit(e), 1).otherwise(0)
    return bucket


def psi_bin_counts(
    df: DataFrame, value_col: str, edges: list[float], out: str
) -> DataFrame:
    """(bin, <out>) counts for one snapshot — a narrow projection plus an
    n_bins-key hash aggregate; also valid as a STREAMING aggregation
    (complete mode), which is how streaming_psi_drift monitors a live
    stream against a batch baseline."""
    return (
        df.where(F.col(value_col).isNotNull())
        .select(psi_bucket(F.col(value_col), edges).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias(out))
    )


def psi_bins_frame(spark, n_bins: int) -> DataFrame:
    """The dense 1..n_bins bin spine (empty bins must surface as rows —
    an emptied bin is exactly the drift signal)."""
    return spark.range(1, n_bins + 1).select(F.col("id").cast("int").alias("bin"))


def psi_from_counts(counts: DataFrame, eps: float = 1e-6) -> DataFrame:
    """Shares + psi terms from a (bin, n_old, n_new) frame. Totals attach
    via a broadcast 1-row aggregate, not an empty-partition-spec window
    (the funnel/demo7 idiom): the bin frame is tiny, but the
    single-partition WindowExec shape is banned repo-wide."""
    totals = counts.agg(
        F.sum("n_old").alias("__to"), F.sum("n_new").alias("__tn")
    )
    # an empty snapshot degrades to NULL shares/terms rather than an
    # opaque ANSI divide-by-zero mid-job
    share_old = F.when(
        F.col("__to") > 0, F.round(F.col("n_old") / F.col("__to") + F.lit(1e-9), 6)
    )
    share_new = F.when(
        F.col("__tn") > 0, F.round(F.col("n_new") / F.col("__tn") + F.lit(1e-9), 6)
    )
    p = F.greatest(F.col("share_old"), F.lit(float(eps)))
    q = F.greatest(F.col("share_new"), F.lit(float(eps)))
    term = F.when(
        F.col("share_old").isNotNull() & F.col("share_new").isNotNull(),
        F.round((q - p) * F.log(q / p) + F.lit(1e-9), 6),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            "n_old",
            "n_new",
            share_old.alias("share_old"),
            share_new.alias("share_new"),
        )
        .select("*", term.alias("psi_term"))
    )


def ks_drift(
    old: DataFrame, new: DataFrame, value_col: str, n_bins: int = 10
) -> DataFrame:
    """Binned two-sample Kolmogorov-Smirnov drift between two corpus
    snapshots, the sup-gap complement of psi_drift on the SAME
    baseline-quantile grid: per bin, the absolute gap between the two
    cumulative bin-share curves; ``ks_stat`` (repeated per row) is the
    max gap — the KS D statistic evaluated on the edge grid. Binned KS
    is the scale-honest variant (exact KS needs cumulative ranks at
    every distinct value — a corpus-wide sort); on the baseline's own
    quantile edges the sup is probed where the baseline mass sits, and
    the statistic is a lower bound of exact D that converges as bins
    grow.

    Scale shape: identical to psi_drift — one bounded edge collect, one
    narrow projection + n_bins-key aggregate per snapshot. The
    cumulative sums attach via an n_bins x n_bins triangle join on the
    bin spine (bounded by the n_bins LITERAL, and a broadcast loop join
    over 10 rows), never an empty-partition-spec WindowExec — the
    psi_from_counts rule. Empty snapshots degrade to NULL shares, not a
    mid-job ANSI divide error."""
    spark = old.sparkSession
    edges = psi_edges(old, value_col, n_bins)
    oc = psi_bin_counts(old, value_col, edges, "n_old")
    nc = psi_bin_counts(new, value_col, edges, "n_new")
    counts = (
        psi_bins_frame(spark, n_bins)
        .join(oc, "bin", "left")
        .join(nc, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    b2 = counts.select(
        F.col("bin").alias("__b2"),
        F.col("n_old").alias("__o2"),
        F.col("n_new").alias("__n2"),
    )
    cum = (
        counts.join(F.broadcast(b2), F.col("__b2") <= F.col("bin"))
        .groupBy("bin", "n_old", "n_new")
        .agg(F.sum("__o2").alias("__co"), F.sum("__n2").alias("__cn"))
    )
    totals = counts.agg(
        F.sum("n_old").alias("__to"), F.sum("n_new").alias("__tn")
    )
    cso = F.when(F.col("__to") > 0, F.col("__co") / F.col("__to"))
    csn = F.when(F.col("__tn") > 0, F.col("__cn") / F.col("__tn"))
    gap = F.when(
        cso.isNotNull() & csn.isNotNull(),
        F.round(F.abs(cso - csn) + F.lit(1e-9), 6),
    )
    binned = cum.crossJoin(F.broadcast(totals)).select(
        "bin",
        "n_old",
        "n_new",
        F.round(cso + F.lit(1e-9), 6).alias("cum_share_old"),
        F.round(csn + F.lit(1e-9), 6).alias("cum_share_new"),
        gap.alias("ks_gap"),
    )
    stat = binned.agg(F.max("ks_gap").alias("ks_stat"))
    return binned.crossJoin(F.broadcast(stat))


def corpus_fingerprint(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Order-insensitive corpus content fingerprint: one row
    ``(n_rows, content_hash)`` where every row contributes the 60-bit
    prefix of sha256 over its canonical column string and the corpus
    hash is the SUM of those contributions mod 2^60 — commutative and
    associative, so the result is identical under any partitioning,
    ordering, or engine (the SQL oracle restates the same arithmetic).

    The cheap way to answer 'are these two 100 TB snapshots the SAME
    data?' without sorting or joining anything: fingerprints compare as
    two scalars. Collision odds are ~2^-60 per comparison; duplicates
    are counted (a summed multiset hash, unlike an XOR fold where a row
    appearing twice cancels out). Each column is LENGTH-PREFIXED in the
    canonical string ('<len>:<value>', NULL -> 'N'), so the encoding is
    injective: a value containing the separator cannot shift bytes into
    a neighbouring column and alias a different row (a bare concat_ws
    would collide ('a|b','c') with ('a','b|c') with probability 1,
    voiding the 2^-60 bound), and NULL differs from '' ('N' vs '0:').
    The sum runs in decimal(38,0) so no row count Spark can hold
    overflows it; one aggregate, no shuffle beyond the final single-row
    reduce.
    """
    if not cols:
        raise ValueError("corpus_fingerprint: cols must be non-empty")

    def _tok(c: str):
        s = F.col(c).cast("string")
        return F.when(s.isNull(), F.lit("N")).otherwise(
            F.concat(F.length(s).cast("string"), F.lit(":"), s)
        )

    canon = F.concat_ws("|", *[_tok(c) for c in cols])
    h = F.conv(F.substring(F.sha2(canon, 256), 1, 15), 16, 10).cast("decimal(38,0)")
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(h) % F.lit(1152921504606846976).cast("decimal(38,0)"))
        .cast("long")
        .alias("content_hash"),
    )


def category_entropy(
    df: DataFrame,
    group_col: str,
    cat_col: str,
) -> DataFrame:
    """Per-group Shannon entropy of a categorical column — the behavioral
    diversity signal (bot/spam accounts repeat one action: entropy ~ 0;
    engaged users mix: entropy -> ln(k)) and the class-balance audit for
    labeled corpora.

    Computed as ``ln(n) - Σ c·ln(c) / n`` from the per-(group, category)
    counts — one identity-stated formula both engines evaluate on exact
    integer counts, so the only FP surface is the closing ln/divide.
    Returns ``(group, n, n_cats, entropy)`` with entropy NULL only for
    empty groups (which never materialize) — a single-category group is
    exactly 0.0. NULL categories count as their own class (a missing
    label IS a class for balance purposes). Two chained aggregates, one
    shuffle each; nothing wider than (group, category) ever exists.
    """
    cells = (
        df.select(F.col(group_col).alias("__g"), F.col(cat_col).alias("__c"))
        .groupBy("__g", "__c")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    c = F.col("__n").cast("double")
    agg = cells.groupBy("__g").agg(
        F.sum("__n").alias("n"),
        F.count(F.lit(1)).alias("n_cats"),
        F.sum(c * F.log(c)).alias("__clnc"),
    )
    return agg.select(
        F.col("__g").alias(group_col),
        "n",
        "n_cats",
        (F.log(F.col("n").cast("double")) - F.col("__clnc") / F.col("n").cast("double"))
        .alias("entropy"),
    )


def fk_orphan_audit(
    child: DataFrame,
    fk_col: str,
    parent: DataFrame,
    pk_col: str,
    relationship: str,
) -> DataFrame:
    """One referential-integrity audit row for a foreign-key edge:
    ``(relationship, n_rows, n_null_fk, n_orphans)`` where orphans are
    non-NULL child keys with no parent — the ingest-QA check that runs
    after every snapshot load (a broken upstream export shows up here
    before it poisons joins downstream as silent row loss).

    Shapes: one aggregate over the child plus one left-anti join on the
    key (Spark broadcasts small parents on its own; big ones take the
    standard shuffled anti join). Union several calls for the full
    schema audit."""
    base = child.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col(fk_col).isNull(), F.lit(1))).alias("n_null_fk"),
    )
    orphans = (
        child.where(F.col(fk_col).isNotNull())
        .join(parent.select(F.col(pk_col).alias("__pk")),
              F.col(fk_col) == F.col("__pk"), "anti")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )
    return (
        base.crossJoin(F.broadcast(orphans))
        .select(
            F.lit(relationship).alias("relationship"),
            "n_rows", "n_null_fk", "n_orphans",
        )
    )


def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns — the
    association/leakage detector: MI(feature, split) far above 0 means
    the feature leaks the split; MI(label, source) ranks which sources
    drive a label. One row ``(n, mi, nmi)`` with
    ``mi = Σ p(x,y)·ln(p(x,y)/(p(x)·p(y)))`` over the joint cells and
    ``nmi = mi / min(H(x), H(y))`` (NULL when either marginal entropy is
    0 — a constant column carries no information to normalize by).

    Stated on exact integer counts: ``mi = Σ (c_xy/n)·ln(c_xy·n /
    (c_x·c_y))`` so both engines share the arithmetic. Rows with NULL in
    either column are excluded. Shapes: one joint-cell aggregate, two
    marginal aggregates derived FROM the cells (never a second corpus
    scan), two broadcast joins cell->marginal, one closing reduce.
    """
    cells = (
        df.select(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
        .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy("__x", "__y")
        .agg(F.count(F.lit(1)).alias("__c"))
        # materialize the (tiny) cell table ONCE: five frames derive from
        # it, and without this each branch re-plans the full corpus scan
        # (measured 6 parquet scans in the chi-square twin) — the
        # "marginals from the cells" contract must hold PHYSICALLY too
        .localCheckpoint(eager=True)
    )
    mx = cells.groupBy("__x").agg(F.sum("__c").alias("__cx"))
    my = cells.groupBy("__y").agg(F.sum("__c").alias("__cy"))
    tot = cells.agg(F.sum("__c").alias("__n"))
    joined = (
        cells.join(F.broadcast(mx), "__x")
        .join(F.broadcast(my), "__y")
        .crossJoin(F.broadcast(tot))
    )
    c = F.col("__c").cast("double")
    n = F.col("__n").cast("double")
    cx = F.col("__cx").cast("double")
    cy = F.col("__cy").cast("double")
    # marginal entropies on the marginal frames (each category once):
    # H = ln(n) - sum(c ln c)/n
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        (F.log(F.max(n)) - F.sum(cx * F.log(cx)) / F.max(n)).alias("__hx")
    )
    hy = my.crossJoin(F.broadcast(tot)).agg(
        (F.log(F.max(n)) - F.sum(cy * F.log(cy)) / F.max(n)).alias("__hy")
    )
    mi = joined.agg(
        F.max("__n").alias("n"),
        F.sum((c / n) * F.log(c * n / (cx * cy))).alias("mi"),
    )
    out = mi.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    hmin = F.least(F.col("__hx"), F.col("__hy"))
    return out.select(
        F.col("n").cast("long").alias("n"),
        F.col("mi"),
        F.when(hmin > 0, F.col("mi") / hmin).alias("nmi"),
    )


def uncertainty_coefficients(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil's uncertainty coefficients + the G-test statistic for two
    categorical columns — the DIRECTIONAL and inferential completions
    of this module's association triad (chi²/Cramér's V: any
    association; MI/NMI: symmetric strength; this: which way the
    information flows, and how much evidence backs it).
    ``U(x|y) = MI/H(x)`` is the fraction of x's entropy y explains
    (asymmetric by design: a rollup column perfectly predicts its
    parent but not vice versa — the direction IS the finding), and
    ``G = 2·N·MI`` is Dunning's log-likelihood independence statistic
    (~chi² under the null, but honest on sparse cells).

    Same derivation discipline as :func:`mutual_information`: exact
    integer counts, one pinned joint-cell aggregate feeding marginals/
    entropies/totals, broadcast joins, one closing reduce. Returns one
    row ``(n, mi, h_x, h_y, u_x_given_y, u_y_given_x, g)``; U is NULL
    for a constant column (no entropy to explain, fail-closed)."""
    cells = (
        df.select(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
        .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy("__x", "__y")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=True)
    )
    mx = cells.groupBy("__x").agg(F.sum("__c").alias("__cx"))
    my = cells.groupBy("__y").agg(F.sum("__c").alias("__cy"))
    tot = cells.agg(F.sum("__c").alias("__n"))
    joined = (
        cells.join(F.broadcast(mx), "__x")
        .join(F.broadcast(my), "__y")
        .crossJoin(F.broadcast(tot))
    )
    c = F.col("__c").cast("double")
    n = F.col("__n").cast("double")
    cx = F.col("__cx").cast("double")
    cy = F.col("__cy").cast("double")
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        (F.log(F.max(n)) - F.sum(cx * F.log(cx)) / F.max(n)).alias("__hx")
    )
    hy = my.crossJoin(F.broadcast(tot)).agg(
        (F.log(F.max(n)) - F.sum(cy * F.log(cy)) / F.max(n)).alias("__hy")
    )
    mi = joined.agg(
        F.max("__n").alias("__nn"),
        F.sum((c / n) * F.log(c * n / (cx * cy))).alias("__mi"),
    )
    out = mi.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    return out.select(
        F.col("__nn").cast("long").alias("n"),
        F.col("__mi").alias("mi"),
        F.col("__hx").alias("h_x"),
        F.col("__hy").alias("h_y"),
        F.when(F.col("__hx") > 0, F.col("__mi") / F.col("__hx")).alias(
            "u_x_given_y"
        ),
        F.when(F.col("__hy") > 0, F.col("__mi") / F.col("__hy")).alias(
            "u_y_given_x"
        ),
        (2.0 * F.col("__nn").cast("double") * F.col("__mi")).alias("g"),
    )


def benford_audit(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    fabricated-numbers tripwire (synthetic or templated numeric fields
    produce flat or spiky first-digit histograms where organic
    magnitudes follow ``log10(1 + 1/d)``). Returns one row per
    (group,) digit 1-9: ``(group?, digit, n, share, expected, excess)``
    with ``excess = share - expected``.

    The first significant digit is the first ``[1-9]`` character of the
    value's canonical string form — sign, leading zeros and the decimal
    point fall through, and scientific notation keeps the mantissa's
    leading digit in front of the exponent in both Spark and DuckDB
    renderings, so the extraction is engine-portable without touching
    log10/pow float boundaries (floor(log10(1000.)) is exactly the kind
    of last-ulp cliff that flips a digit cross-engine). Zero/NULL
    values carry no significant digit and are excluded. One hash
    aggregate on (group, digit) + one group-sized window for shares.
    """
    gcols = [group_col] if group_col else []
    d = F.regexp_extract(F.col(value_col).cast("string"), "[1-9]", 0)
    base = (
        df.where(F.col(value_col).isNotNull())
        .select(*gcols, d.alias("__d"))
        .where(F.col("__d") != "")
    )
    counts = base.groupBy(*gcols, F.col("__d").cast("int").alias("digit")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    tot = F.sum("n").over(w).cast("double")
    expected = F.log10(1.0 + 1.0 / F.col("digit"))
    return counts.select(
        *gcols,
        "digit",
        "n",
        (F.col("n") / tot).alias("share"),
        expected.alias("expected"),
        (F.col("n") / tot - expected).alias("excess"),
    )


def gini_concentration(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str | None = None,
    exact: bool = True,
    n_bins: int = 256,
) -> DataFrame:
    """Per-group Gini coefficient of a non-negative value — the
    concentration audit (is 1% of sources contributing 90% of the
    corpus mass?) behind datasheet 'source diversity' claims. Uses the
    rank form ``G = 2*sum(r_i * x_i) / (n * sum(x)) - (n + 1) / n``
    with ``r_i`` the ROW_NUMBER under the deterministic (value, id)
    ascending order — ranking on RAW values with an id tiebreak, never
    on float aggregates, so the permutation is identical cross-engine.
    Negative and NULL values are excluded (Gini is defined on
    non-negative mass). NULL gini when n < 2 or sum(x) = 0.

    Returns ``(group, n, total, gini)``. One exchange on the group key
    (rank window + aggregate share it).

    ``exact=True`` (default) ranks every row — the rank window
    materializes each group in one task, so it is the per-slice tool.
    ``exact=False`` is the 100 TB path: a binned Lorenz trapezoid over
    ``n_bins`` equal-width bins of ``[0, group max]`` — two hash
    aggregates plus a window over the BIN-sized relation, fully
    mergeable, never holding a group in one task. The trapezoid assumes
    within-bin uniformity (error O(1/n_bins), ~0.4% at 256 bins,
    exact at the all-equal and single-holder extremes), and its
    arithmetic is deterministic given the binning, so the approximate
    mode is ALSO SQL-restatable and hash-checkable — accuracy vs the
    exact mode is audited by its golden. ``id_col`` is only needed for
    the exact mode's deterministic rank order.
    """
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__x"),
        *([F.col(id_col).alias("__i")] if id_col is not None else []),
    ).where(
        F.col(group_col).isNotNull()
        & F.col(value_col).isNotNull()
        & (F.col(value_col) >= 0)
    )
    if exact:
        if id_col is None:
            raise ValueError("gini_concentration: exact mode needs id_col")
        base = base.where(F.col("__i").isNotNull())
        w = Window.partitionBy("__g").orderBy(F.col("__x").asc(), F.col("__i").asc())
        r = base.select(
            "__g", "__x", F.row_number().over(w).cast("double").alias("__r")
        )
        agg = r.groupBy("__g").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__x").alias("total"),
            F.sum(F.col("__r") * F.col("__x")).alias("__rx"),
        )
        nd = F.col("n").cast("double")
        gini = F.when(
            F.col("n") > 1,
            F.try_divide(2.0 * F.col("__rx"), nd * F.col("total")) - (nd + 1.0) / nd,
        )
        return agg.select(
            F.col("__g").alias(group_col), "n", "total", gini.alias("gini")
        )
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2: {n_bins}")
    mx = base.groupBy("__g").agg(
        F.max("__x").alias("__mx"),
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("total"),
    )
    j = base.join(F.broadcast(mx), "__g")
    bin_ = F.when(
        F.col("__mx") > 0,
        F.least(
            F.floor(F.col("__x") * n_bins / F.col("__mx")).cast("long"),
            F.lit(n_bins - 1),
        ),
    ).otherwise(F.lit(0))
    cells = j.groupBy("__g", bin_.alias("__b")).agg(
        F.count(F.lit(1)).alias("__c"), F.sum("__x").alias("__s")
    )
    wb = (
        Window.partitionBy("__g")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.withColumn("__cs", F.sum("__s").over(wb))
    per = cum.join(F.broadcast(mx.select("__g", "n", "total")), "__g").groupBy(
        "__g"
    ).agg(
        F.max("n").alias("n"),
        F.max("total").alias("total"),
        F.sum(
            (F.col("__c").cast("double") / F.col("n").cast("double"))
            * F.try_divide(2.0 * F.col("__cs") - F.col("__s"), F.col("total"))
        ).alias("__a"),
    )
    gini = F.when(F.col("n") > 1, 1.0 - F.col("__a"))
    return per.select(F.col("__g").alias(group_col), "n", "total", gini.alias("gini"))


def chi_square_independence(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns — mutual information's frequentist twin (MI sizes the
    association; chi2/dof locates it on a known null distribution). One
    row ``(n, dof, chi2, cramers_v)`` with ``chi2 = Σ (o - e)^2 / e``
    over the joint cells, ``e = c_x * c_y / n``, ``dof =
    (|X|-1)(|Y|-1)`` and Cramér's ``V = sqrt(chi2 / (n * min(|X|-1,
    |Y|-1)))`` (NULL when either column is constant — no association to
    normalize). Counts stay exact integers until the per-cell division;
    NULL rows are excluded. Same shapes as :func:`mutual_information`:
    joint cells once, marginals FROM the cells, broadcast joins, one
    closing reduce.
    """
    cells = (
        df.select(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
        .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy("__x", "__y")
        .agg(F.count(F.lit(1)).alias("__c"))
        # materialize the (tiny) cell table once — six frames derive
        # from it; without this each branch re-plans the corpus scan
        .localCheckpoint(eager=True)
    )
    mx = cells.groupBy("__x").agg(F.sum("__c").alias("__cx"))
    my = cells.groupBy("__y").agg(F.sum("__c").alias("__cy"))
    tot = cells.agg(F.sum("__c").alias("__n"))
    kx = mx.agg(F.count(F.lit(1)).alias("__kx"))
    ky = my.agg(F.count(F.lit(1)).alias("__ky"))
    joined = (
        cells.join(F.broadcast(mx), "__x")
        .join(F.broadcast(my), "__y")
        .crossJoin(F.broadcast(tot))
    )
    c = F.col("__c").cast("double")
    n = F.col("__n").cast("double")
    e = F.col("__cx").cast("double") * F.col("__cy").cast("double") / n
    # observed-only cells understate chi2: absent (x, y) combinations
    # contribute e (since o = 0, (o-e)^2/e = e); total absent mass =
    # n - sum(e over observed cells), added in the closing reduce
    stat = joined.agg(
        F.max("__n").alias("n"),
        (
            F.sum((c - e) * (c - e) / e)
            + (F.max(n) - F.sum(e))
        ).alias("__chi2"),
    )
    out = (
        stat.crossJoin(F.broadcast(kx))
        .crossJoin(F.broadcast(ky))
        .select(
            F.col("n"),
            (
                (F.col("__kx") - 1) * (F.col("__ky") - 1)
            ).cast("long").alias("dof"),
            F.col("__chi2").alias("chi2"),
            F.col("__kx").alias("__kx"),
            F.col("__ky").alias("__ky"),
        )
    )
    vden = (
        F.col("n").cast("double")
        * F.least(F.col("__kx") - 1, F.col("__ky") - 1).cast("double")
    )
    return out.select(
        "n",
        "dof",
        "chi2",
        F.when(F.col("dof") > 0, F.sqrt(F.try_divide(F.col("chi2"), vden))).alias(
            "cramers_v"
        ),
    )


def validate_expectations(
    df: DataFrame,
    rules: list[tuple[str, "F.Column"]],
) -> DataFrame:
    """Declarative data-contract check (the Great-Expectations shape as
    ONE relational pass): each rule is ``(name, boolean Column)`` and
    the report has one row per rule — ``(rule, n_checked, n_failed,
    pass_rate)`` — where a NULL predicate result counts as FAILED
    (fail-closed: an expectation that cannot be evaluated is not met;
    state NULL-tolerance inside the rule with coalesce/isNotNull).

    All rules evaluate in a single aggregate over one corpus scan
    (conditional counts), then unpivot to rows via a literal stack —
    adding a rule costs one column, never a pass. Row-count expectations
    compose upstream; uniqueness needs a distinct aggregate and is
    deliberately out of scope here (pair it with profile_columns'
    distinct counts).
    """
    if not rules:
        raise ValueError("validate_expectations: no rules given")
    aggs = []
    for i, (_, pred) in enumerate(rules):
        ok = F.coalesce(pred.cast("boolean"), F.lit(False))
        aggs.append(F.count(F.lit(1)).alias(f"__n{i}"))
        aggs.append(F.count_if(~ok).alias(f"__f{i}"))
    one = df.agg(*aggs)
    # rule names are spliced into the stack() SQL string as literals —
    # escape quotes/backslashes so a name like "price's range" cannot
    # break the expression at parse time (ADVICE r5)
    def _q(name: str) -> str:
        return "'" + name.replace("\\", "\\\\").replace("'", "\\'") + "'"

    stack = F.expr(
        "stack({}, {})".format(
            len(rules),
            ", ".join(
                f"{_q(name)}, __n{i}, __f{i}"
                for i, (name, _) in enumerate(rules)
            ),
        )
    ).alias("rule", "n_checked", "n_failed")
    out = one.select(stack)
    return out.select(
        "rule",
        "n_checked",
        "n_failed",
        F.round(
            1.0 - F.try_divide(F.col("n_failed"), F.col("n_checked")) + F.lit(1e-9),
            6,
        ).alias("pass_rate"),
    )


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination: one
    summary row ``(n_rows, n_groups, n_violating_groups, n_rows_at_risk,
    at_risk_share, min_group_size)`` where a group is VIOLATING when
    fewer than ``k`` rows share its quasi-identifier tuple — those rows
    are re-identifiable by joining the released columns against any
    outside table. The release gate a governance pass runs before
    publishing a slice; NULL is treated as a value (an all-NULL QI tuple
    of one row is just as linkable).

    One hash aggregate on the QI tuple, then one reduce over the
    GROUP-sized relation — the shuffle moves (tuple, count) rows, never
    the corpus twice.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    if not quasi_cols:
        raise ValueError("k_anonymity_audit: quasi_cols must be non-empty")
    groups = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("__c"))
    return groups.agg(
        F.sum("__c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.count_if(F.col("__c") < k).cast("long").alias("n_violating_groups"),
        F.sum(F.when(F.col("__c") < k, F.col("__c")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.round(
            F.try_divide(
                F.sum(F.when(F.col("__c") < k, F.col("__c")).otherwise(0)),
                F.sum("__c"),
            )
            + F.lit(1e-9),
            6,
        ).alias("at_risk_share"),
        F.min("__c").cast("long").alias("min_group_size"),
    )


def l_diversity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """Distinct l-diversity audit — k-anonymity's necessary companion
    (a 100-row QI group is k-anonymous and still leaks if all 100 share
    one sensitive value: the homogeneity attack). A QI group VIOLATES
    when its rows span fewer than ``l`` distinct sensitive values.
    Returns one row ``(n_rows, n_groups, n_violating_groups,
    n_rows_at_risk, at_risk_share, min_diversity)``; NULL sensitive
    values count as a value (an all-NULL group is maximally
    homogeneous, not exempt).

    One (QI, sensitive) aggregate, one QI aggregate over THAT (both
    group-sized after the first), one reduce — the corpus is scanned
    once.
    """
    if l < 2:
        raise ValueError(f"l must be >= 2: {l}")
    if not quasi_cols:
        raise ValueError("l_diversity_audit: quasi_cols must be non-empty")
    cells = df.groupBy(
        *quasi_cols, F.col(sensitive_col).alias("__s")
    ).agg(F.count(F.lit(1)).alias("__c"))
    groups = cells.groupBy(*quasi_cols).agg(
        F.sum("__c").alias("__n"), F.count(F.lit(1)).alias("__div")
    )
    return groups.agg(
        F.sum("__n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.count_if(F.col("__div") < l).cast("long").alias("n_violating_groups"),
        F.sum(F.when(F.col("__div") < l, F.col("__n")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.round(
            F.try_divide(
                F.sum(F.when(F.col("__div") < l, F.col("__n")).otherwise(0)),
                F.sum("__n"),
            )
            + F.lit(1e-9),
            6,
        ).alias("at_risk_share"),
        F.min("__div").cast("long").alias("min_diversity"),
    )


def t_closeness_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """t-closeness audit — the third member of the release triad
    (k-anonymity, l-diversity, t-closeness; Li, Li & Venkatasubramanian
    2007): a QI group VIOLATES when the distance between its
    sensitive-value distribution and the GLOBAL distribution exceeds
    ``t``. Even an l-diverse group leaks if its mix is far from the
    corpus mix (the skewness attack: a group that is 90% positive in a
    2% positive corpus). Distance is the categorical earth-mover's
    distance with unit ground distance — total variation,
    ``0.5 * sum_v |p_group(v) - p_global(v)|`` — the paper's measure for
    unordered sensitive attributes; NULL counts as a value.

    One corpus aggregate builds the (QI, sensitive) cells; everything
    downstream (group totals, the global distribution, the per-group
    distance) derives from that group-domain-sized relation, which is
    eagerly materialized so the corpus scan runs ONCE (three derivation
    branches would otherwise each re-plan it). Values ABSENT from a
    group contribute p_global(v) to its distance; rather than fanning
    every group out over the full sensitive domain, the identity
    ``sum_v |pg - p| = 1 + sum_{v in group} (|pg(v) - p(v)| - p(v))``
    keeps the work cell-sized. The global distribution rides in on one
    broadcast join (it is sensitive-domain-sized).

    Returns one row ``(n_rows, n_groups, n_violating_groups,
    n_rows_at_risk, at_risk_share, max_distance)``.
    """
    if not 0.0 < t < 1.0:
        raise ValueError(f"t must be in (0, 1): {t}")
    if not quasi_cols:
        raise ValueError("t_closeness_audit: quasi_cols must be non-empty")
    cells = (
        df.groupBy(*quasi_cols, F.col(sensitive_col).alias("__s"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=True)
    )
    glob = (
        cells.groupBy("__s")
        .agg(F.sum("__c").alias("__gc"))
        .crossJoin(F.broadcast(cells.agg(F.sum("__c").alias("__N"))))
        .select(
            F.col("__s").alias("__sg"),
            (F.col("__gc") / F.col("__N")).alias("__p"),
        )
    )
    w = Window.partitionBy(*quasi_cols)
    per_cell = (
        cells.withColumn("__n", F.sum("__c").over(w))
        .join(F.broadcast(glob), F.col("__s").eqNullSafe(F.col("__sg")))
        .withColumn(
            "__term",
            F.abs(F.col("__c") / F.col("__n") - F.col("__p")) - F.col("__p"),
        )
    )
    groups = per_cell.groupBy(*quasi_cols).agg(
        F.max("__n").alias("__n"),
        F.greatest(
            F.lit(0.0), 0.5 * (F.lit(1.0) + F.sum("__term"))
        ).alias("__d"),
    )
    at_risk = F.sum(F.when(F.col("__d") > t, F.col("__n")).otherwise(0))
    return groups.agg(
        F.sum("__n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.count_if(F.col("__d") > t).cast("long").alias("n_violating_groups"),
        at_risk.cast("long").alias("n_rows_at_risk"),
        F.round(
            F.try_divide(at_risk, F.sum("__n")) + F.lit(1e-9), 6
        ).alias("at_risk_share"),
        F.round(F.max("__d") + F.lit(1e-9), 6).alias("max_distance"),
    )


def js_divergence_bins(
    df_old: DataFrame,
    df_new: DataFrame,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Jensen-Shannon divergence between two snapshots' value
    distributions on the PSI bin frame — the bounded, symmetric drift
    measure beside psi_drift/ks_drift (JSD in bits is always in [0, 1],
    so a single alert threshold works across metrics with wildly
    different PSI scales; Lin 1991): bin edges are the baseline's exact
    interior quantiles (psi_edges), and per bin with shares p, q and
    mixture m = (p + q) / 2 the term is
    ``0.5 * p * log2(p/m) + 0.5 * q * log2(q/m)``.
    Total JSD = SUM(jsd_term).

    Unlike PSI, JSD needs NO epsilon flooring: p = 0 simply zeroes the
    p-part (x*log(x) -> 0) and the q-part degrades to q (log2(q/(q/2))
    = 1) — emptied/new bins contribute a finite, correctly-bounded
    term by construction.

    Determinism: terms are computed from the nudge-ROUNDED shares (the
    psi_from_counts grid), so both engines feed log2 bit-identical
    inputs; terms get their own nudge-round at 8 (drift terms are
    legitimately ~1e-4 — the PSI 6-grid would flatten real signal).

    Scale shape: identical to psi_drift — one exact-percentile
    aggregate on the baseline, one narrow n_bins-key hash aggregate per
    snapshot, a broadcast totals join. Streaming-safe on the new side
    (the psi_bin_counts shape).
    """
    edges = psi_edges(df_old, value_col, n_bins)
    counts = (
        psi_bins_frame(df_old.sparkSession, n_bins)
        .join(psi_bin_counts(df_old, value_col, edges, "n_old"), "bin", "left")
        .join(psi_bin_counts(df_new, value_col, edges, "n_new"), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    return js_from_counts(counts)


def js_from_counts(counts: DataFrame) -> DataFrame:
    """Shares + JSD terms from a (bin, n_old, n_new) frame — split out
    (the psi_from_counts convention) so the STREAMING monitor can feed a
    complete-mode bin-count sink through the identical finishing math
    and hash-check against the same oracle. Totals attach via a
    broadcast 1-row aggregate, never a single-partition window."""
    totals = counts.agg(
        F.sum("n_old").alias("__to"), F.sum("n_new").alias("__tn")
    )
    share_old = F.when(
        F.col("__to") > 0, F.round(F.col("n_old") / F.col("__to") + F.lit(1e-9), 6)
    )
    share_new = F.when(
        F.col("__tn") > 0, F.round(F.col("n_new") / F.col("__tn") + F.lit(1e-9), 6)
    )
    p, q = F.col("share_old"), F.col("share_new")
    m = (p + q) / 2.0
    term = F.when(
        p.isNotNull() & q.isNotNull(),
        F.round(
            (
                F.when(p > 0, 0.5 * p * F.log2(p / m)).otherwise(0.0)
                + F.when(q > 0, 0.5 * q * F.log2(q / m)).otherwise(0.0)
            )
            + F.lit(1e-9),
            8,
        ),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            "n_old",
            "n_new",
            share_old.alias("share_old"),
            share_new.alias("share_new"),
        )
        .select("*", term.alias("jsd_term"))
    )


def simpson_diversity(
    df: DataFrame,
    group_col: str,
    label_col: str,
) -> DataFrame:
    """Simpson diversity per group — ``simpson = 1 - sum(p_l^2)`` (the
    probability two random rows carry different labels) and the
    effective label count ``1 / sum(p_l^2)`` — the concentration
    readout beside Shannon entropy that weights dominant labels harder
    (a corpus 95% one language scores near its true monoculture no
    matter how long the label tail is). NULL labels are excluded (count
    them upstream if NULL itself is the signal). Shares are exact
    rationals from counts; two hash aggregates on (group, label) then
    group."""
    base = df.where(
        F.col(group_col).isNotNull() & F.col(label_col).isNotNull()
    )
    cells = base.groupBy(
        F.col(group_col).alias("__g"), F.col(label_col).alias("__l")
    ).agg(F.count(F.lit(1)).alias("__c"))
    agg = cells.groupBy("__g").agg(
        F.sum("__c").alias("n"),
        F.count(F.lit(1)).alias("n_labels"),
        F.sum(F.col("__c").cast("double") * F.col("__c")).alias("__s2"),
    )
    sump2 = F.col("__s2") / (F.col("n").cast("double") * F.col("n"))
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.col("n_labels").cast("long").alias("n_labels"),
        F.round((1.0 - sump2) + F.lit(1e-9), 6).alias("simpson"),
        F.round(F.try_divide(F.lit(1.0), sump2) + F.lit(1e-9), 6).alias(
            "effective_labels"
        ),
    )


def correlation_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlations over ``cols`` in ONE aggregate
    pass: the profile-stage collinearity screen (redundant quality
    signals, leaking features) that calling ``corr()`` per pair turns
    into d^2/2 separate corpus scans. Rows with a NULL in ANY listed
    column are excluded first, so every pair is computed over the SAME
    row set — pairwise-deletion correlations are not comparable to each
    other and this operator refuses to produce them.

    One hash-free global aggregate emits the d means, d^2 centered
    product sums come from the same pass via ``covar_pop``/``var_pop``
    conditional expressions; the d x d result assembles driver-side
    from that single row (d^2 literals — d is a column list, never data-
    sized). ``r = try_divide(covar_pop(a, b), sqrt(var_pop(a) *
    var_pop(b)))`` (the ANSI-safe zero-variance form: constant columns
    yield NULL r, fail-closed). Returns upper-triangle rows
    ``(col_a, col_b, n, r)`` with col_a < col_b in the given order.
    """
    if len(cols) < 2:
        raise ValueError(f"need >= 2 columns, got {cols!r}")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate columns in {cols!r}")
    base = df.select(*[F.col(c).cast("double").alias(c) for c in cols])
    for c in cols:
        base = base.where(F.col(c).isNotNull())
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, a in enumerate(cols):
        aggs.append(F.var_pop(F.col(a)).alias(f"__v_{i}"))
        for j in range(i + 1, len(cols)):
            aggs.append(
                F.covar_pop(F.col(a), F.col(cols[j])).alias(f"__c_{i}_{j}")
            )
    row = base.agg(*aggs)
    pairs = []
    for i, a in enumerate(cols):
        for j in range(i + 1, len(cols)):
            pairs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(cols[j]).alias("col_b"),
                    F.col("__n").cast("long").alias("n"),
                    (
                        F.round(
                            F.try_divide(
                                F.col(f"__c_{i}_{j}"),
                                F.sqrt(F.col(f"__v_{i}") * F.col(f"__v_{j}")),
                            )
                            + F.lit(1e-9),
                            6,
                        )
                        # -0 normalization: a tiny negative r rounds to
                        # -0.0 and hash-compares as '-0' vs '0' (the
                        # community-modularity lesson)
                        + F.lit(0.0)
                    ).alias("r"),
                )
            )
    return row.select(
        F.explode(F.array(*pairs)).alias("__p")
    ).select("__p.col_a", "__p.col_b", "__p.n", "__p.r")


def lorenz_curve(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    n_points: int = 10,
) -> DataFrame:
    """Per-group Lorenz curve at ``n_points`` population cut points —
    the DISTRIBUTIONAL readout behind :func:`gini_concentration`'s
    single number: 'the bottom 60% of sources contribute 4% of the
    mass' is the sentence a datasheet actually prints, and the curve
    localizes WHERE concentration lives (a high Gini from one mega
    source vs a thick top decile look identical in G, opposite in the
    curve). Rows rank ascending by (value, id) — the gini exact-mode
    determinism discipline: never rank on float aggregates — and cut
    into NTILE tiles; each output row is a curve vertex
    ``(cum_pop_share, cum_value_share)`` after that tile.

    Negative and NULL values are excluded (Lorenz is defined on
    non-negative mass); NULL ids are excluded (the tiebreak must be
    total). Groups with total mass 0 report NULL value shares
    (fail-closed); population shares remain exact. Groups with fewer
    rows than ``n_points`` produce fewer, still-exact vertices (NTILE
    leaves trailing tiles empty).

    Cross-engine determinism: the NTILE permutation is pinned by the
    (value, id) total order; tile counts are exact integers and tile
    mass sums as exact decimal(19,6) (order- and engine-invariant;
    contract: values on a <= 6dp grid); cumulative sums run over the
    <= n_points tile rows per group as decimals; shares are single
    double divisions on exact operands, rounded at 6.

    Scale shape: one rank+NTILE window per group key (the exchange),
    one (group, tile) aggregate, one cumulative window over the
    tile-sized frame sharing the group key. Per-group work is a sort —
    the per-slice audit tool, like exact Gini; use binned Gini when a
    single group is corpus-sized. Returns ``(group, tile, n,
    cum_pop_share, cum_value_share)``.
    """
    if n_points < 2:
        raise ValueError(f"lorenz_curve: n_points must be >= 2, got {n_points}")
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__x"),
        F.col(id_col).alias("__i"),
    ).where(
        F.col(group_col).isNotNull()
        & F.col(value_col).isNotNull()
        & (F.col(value_col) >= 0)
        & F.col(id_col).isNotNull()
    )
    w = Window.partitionBy("__g").orderBy(F.col("__x").asc(), F.col("__i").asc())
    tiled = base.select(
        "__g", "__x", F.ntile(n_points).over(w).alias("__t")
    )
    per_tile = tiled.groupBy("__g", "__t").agg(
        F.count(F.lit(1)).alias("__n"),
        # value mass sums as an exact decimal (the durbin_watson
        # convention): order- and engine-invariant, where a raw float
        # SUM depends on shuffle arrival order in the last ulp.
        # Contract: values on a <= 6dp grid, |v| < 1e13 (the cast is
        # then exact, not a quantization)
        F.sum(F.col("__x").cast("decimal(19,6)")).alias("__s"),
    )
    w_cum = (
        Window.partitionBy("__g")
        .orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("__g")
    staged = per_tile.select(
        "__g",
        "__t",
        "__n",
        F.sum("__n").over(w_cum).alias("__cn"),
        F.sum("__s").over(w_cum).alias("__cs"),
        F.sum("__n").over(w_all).alias("__tn"),
        F.sum("__s").over(w_all).alias("__ts"),
    )
    # sums stay decimal through the windows (exact); the division casts
    # both operands to double so the share arithmetic is one fixed IEEE
    # divide on identical operands in both engines
    vshare = F.when(
        F.col("__ts") > 0,
        F.col("__cs").cast("double") / F.col("__ts").cast("double"),
    )
    return staged.select(
        F.col("__g").alias(group_col),
        F.col("__t").cast("long").alias("tile"),
        F.col("__n").cast("long").alias("n"),
        F.round(
            F.col("__cn").cast("double") / F.col("__tn") + F.lit(1e-9), 6
        ).alias("cum_pop_share"),
        F.round(vshare + F.lit(1e-9), 6).alias("cum_value_share"),
    )
