"""Deterministic sampling & splitting operators for training-data
pipelines.

At 100 TB, `df.sample()` is the wrong tool for corpus curation: its
output depends on partitioning and RNG state, so re-runs (or AQE
re-plans) see different rows, and train/test membership can drift
between pipeline stages. The operators here derive every decision from
a **content hash of a stable key** (md5 of the key + a seed string), so

* membership is a pure function of (key, seed) — identical on re-run,
  across engines, and under any partitioning/AQE decisions;
* the predicate is a codegen'd JVM expression that pushes through
  Catalyst like any other filter — no UDF, no RNG broadcast;
* splits are disjoint and exhaustive by construction (bucket ranges).

The hex-prefix comparison trick keeps the whole thing portable SQL:
the first 4 hex chars of md5 are uniformly distributed over 0x0000..
0xffff, so `prefix < '1a66'` samples at 0x1a66/0x10000 ≈ 10.3%.
Rates are therefore quantized to 1/65536 granularity — irrelevant at
corpus scale and exactly reproducible in any engine with md5().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..core.layout import freeze

#: hex alphabet is lowercase in both Spark and DuckDB md5()
_PREFIX_LEN = 4
_SPACE = 16 ** _PREFIX_LEN  # 65536 buckets


def _hex_cut(rate: float) -> str:
    """The _PREFIX_LEN-hex-digit cutoff c such that P[prefix < c] = rate
    (quantized to 1/65536). Only valid strictly inside (0, 1): at the
    boundaries the lexicographic compare breaks ('ffff' < '10000' is
    FALSE as strings) — callers must use :func:`keep_condition`, which
    short-circuits 0 and 1 to literal FALSE/TRUE."""
    cut = int(round(rate * _SPACE))
    if not 0 < cut < _SPACE:
        raise ValueError(f"rate {rate} quantizes outside (0,1) — use keep_condition")
    return format(cut, f"0{_PREFIX_LEN}x")


def keep_condition(bucket: Column, rate: float) -> Column:
    """Keep-predicate for a sampling rate over a hash_bucket column.
    Rates that quantize to 0 or 1 become literal FALSE/TRUE (a string
    compare can't express them: every prefix is >= '0000', and '10000'
    sorts *below* most 4-char prefixes)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    cut = int(round(rate * _SPACE))
    if cut >= _SPACE:
        return F.lit(True)
    if cut <= 0:
        return F.lit(False)
    return bucket < F.lit(_hex_cut(rate))


def hash_bucket(key: Column, seed: str = "42") -> Column:
    """First 4 hex chars of md5('<seed>:<key>') — a uniform, engine-
    portable 16-bit bucket label (string-compared, never parsed)."""
    return F.substring(F.md5(F.concat(F.lit(seed + ":"), key.cast("string")).cast("binary")), 1, _PREFIX_LEN)


def hash_sample(df: DataFrame, rate: float, key_col: str, seed: str = "42") -> DataFrame:
    """Keep a deterministic ~`rate` fraction of rows by content hash of
    `key_col`. Same (key, seed) → same decision, forever."""
    return df.filter(keep_condition(hash_bucket(F.col(key_col), seed), rate))


def split_column(key: Column, weights: dict[str, float], seed: str = "42") -> Column:
    """A `split` label column partitioning rows into named fractions
    (e.g. {'train': .8, 'val': .1, 'test': .1}) — disjoint and
    exhaustive: consecutive bucket ranges over the 16-bit hash space,
    with the last split absorbing the rounding remainder."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    b = hash_bucket(key, seed)
    names = list(weights)
    expr: Column | None = None
    acc = 0.0
    for name in names[:-1]:
        acc += weights[name]
        cond = keep_condition(b, min(acc, 1.0))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return (expr.otherwise(names[-1]) if expr is not None else F.lit(names[-1])).alias("split")


def mix_sources(df: DataFrame, rates: dict[str, float], source_col: str, key_col: str, seed: str = "42") -> DataFrame:
    """Corpus mixing: per-source deterministic sampling rates in ONE
    pass (e.g. keep all of wiki, 25% of crawl). Sources absent from
    `rates` are dropped. This is the `sampleBy` of a curation pipeline,
    minus the nondeterminism."""
    b = hash_bucket(F.col(key_col), seed)
    keep: Column = F.lit(False)
    for src, rate in rates.items():
        keep = keep | ((F.col(source_col) == src) & keep_condition(b, rate))
    return df.filter(keep)


def sample_fixed_k(df: DataFrame, k: int, key_col: str, seed: str = "42") -> DataFrame:
    """Exactly-k deterministic pseudo-random sample: global top-k by
    hash bucket (full md5 as tie-break → total order). TakeOrderedAndProject
    keeps this a per-partition top-k + single merge — no global sort."""
    full = F.md5(F.concat(F.lit(seed + ":"), F.col(key_col).cast("string")).cast("binary"))
    return df.withColumn("__hk__", full).orderBy("__hk__").limit(k).drop("__hk__")


def sample_k_per_group(
    df: DataFrame,
    k: int,
    key_col: str,
    group_cols: list[str],
    seed: str = "42",
) -> DataFrame:
    """Exactly-min(k, |group|) rows PER GROUP, deterministically: rank
    rows within each group by the content hash of the key (md5 total
    order, key tie-break) and keep the top k. The reservoir-sampling
    use case without reservoir state: membership is a pure function of
    (key, seed), so re-runs, repartitioning, and engine changes agree.
    One window partitioned on the group columns — scale-safe when
    group cardinality grows with the corpus (per-source curation); the
    WindowGroupLimit rewrite keeps it a per-partition top-k, not a full
    sort of each group's history."""
    full = F.md5(F.concat(F.lit(seed + ":"), F.col(key_col).cast("string")).cast("binary"))
    w = Window.partitionBy(*group_cols).orderBy(full.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def cluster_aware_split(
    docs: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "42",
) -> DataFrame:
    """NEAR-dup-leakage-safe train/val/test assignment: connected
    components over the near-dup ``pairs`` graph give every doc a
    ``cluster_id`` (min reachable id; singletons cluster with
    themselves), and the split is keyed on the CLUSTER id — so no two
    docs connected by any chain of near-duplicate pairs can land in
    different splits. This closes the hole an exact-fingerprint split
    leaves open (a lightly-mangled twin of a test doc leaking into
    train). Cost = the CC rounds (edge-linear each, O(log n) rounds)
    plus one hash projection; the split arithmetic is the same
    deterministic disjoint/exhaustive bucket scheme as
    :func:`split_column`. Leakage-freedom is pinned in
    ``test_cluster_aware_split_no_leakage``.

    Returns (id_col, cluster_id, split).
    """
    from .dedup import connected_components

    cc = connected_components(pairs, docs.select(id_col), id_col=id_col)
    return cc.select(
        id_col,
        "cluster_id",
        split_column(F.col("cluster_id"), weights, seed=seed),
    )


def temperature_mixture_weights(
    df: DataFrame, group_col: str = "source", alpha: float = 0.3
) -> DataFrame:
    """Temperature-scaled mixture weights: ``w_g ∝ n_g^alpha`` over the
    groups of ``group_col`` — the exponentiated-count smoothing
    multi-domain LM training uses to up-weight small domains
    (``alpha=1`` reproduces raw proportions, ``alpha=0`` is uniform).
    Emits per group: ``n_docs``, ``raw_frac``, ``weight``, ``boost``
    (the unrounded ratio (qd/s)/(n/nt), well-defined even when the
    6-decimal ``raw_frac`` rounds to 0.0) and the integer
    ``target_docs`` quota for a resampler (:func:`mix_sources` /
    ``domain_mixture_resample``).

    Determinism contract (cross-engine, any partition count): the only
    libm call (``pow``) is quantized to 6 decimals per group, the
    normalizer sums those exact DECIMALs, and every ratio is one
    double/double IEEE division on bit-identical inputs. One hash agg
    over the corpus + arithmetic on |groups| rows; the 1-row
    normalizer is a broadcast scalar."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    q = counts.select(
        group_col,
        "n",
        F.round(F.pow(F.col("n"), F.lit(alpha)), 6).cast("decimal(18,6)").alias("qd"),
    )
    tot = q.agg(
        F.sum("qd").cast("decimal(38,6)").alias("s"),
        F.sum("n").cast("bigint").alias("nt"),
    )
    w = F.round(F.col("qd").cast("double") / F.col("s").cast("double"), 6)
    raw = F.round(F.col("n") / F.col("nt").cast("double"), 6)
    # boost from the UNROUNDED ratios — (qd/s)/(n/nt) rearranged to
    # (qd*nt)/(s*n) so a domain whose rounded raw_frac is 0.0 (share
    # below 5e-7) can't divide by zero; n >= 1 and s > 0 always, and
    # the three IEEE ops run on bit-identical operands in both engines.
    boost = F.round(
        (F.col("qd").cast("double") * F.col("nt").cast("double"))
        / (F.col("s").cast("double") * F.col("n").cast("double")),
        6,
    )
    return q.crossJoin(F.broadcast(tot)).select(
        group_col,
        F.col("n").cast("bigint").alias("n_docs"),
        raw.alias("raw_frac"),
        w.alias("weight"),
        boost.alias("boost"),
        F.floor(
            F.col("qd").cast("double") / F.col("s").cast("double") * F.col("nt")
        ).cast("bigint").alias("target_docs"),
    )


def kanon_release(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    value_col: str,
    suppressed: str = "__suppressed__",
) -> DataFrame:
    """K-ANONYMOUS stats release: per-group (count, sum) over
    ``group_cols`` with every released group carrying >= ``k``
    members.  Groups below k are NOT dropped (dropping leaks "this
    group exists and is small") — they roll up a level: their members
    aggregate per ``group_cols[:-1]`` prefix under the ``suppressed``
    label, and a prefix remainder still below k rolls into one global
    remainder row (NULL prefix, ``suppressed`` label) — the terminal
    bucket, since there is no further level to hide in.  The terminal
    row's COUNT is always released (membership conservation — hiding
    it would leak by subtraction against any published total), but if
    its count is still below k its SUM is released as NULL: a
    sub-k terminal sum is, in the limit, one individual's exact
    value, which is precisely what the k guarantee forbids.  So the
    invariant the API promises is exact: every released ``total``
    aggregates >= k members.  All decisions are exact integer
    comparisons; sums are exact DECIMAL — the release is
    deterministic and auditable.  Emits ``(group_cols..., n,
    total)``."""
    from pyspark.sql import functions as F

    dec = F.col(value_col).cast("decimal(18,2)")
    g = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"), F.sum(dec).alias("total")
    )
    ok = g.filter(F.col("n") >= k)
    small = g.filter(F.col("n") < k)
    prefix = group_cols[:-1]
    last = group_cols[-1]
    rolled = (
        small.groupBy(*prefix)
        .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
        .withColumn(last, F.lit(suppressed))
        .select(*group_cols, "n", "total")
    )
    rolled_ok = rolled.filter(F.col("n") >= k)
    leftover = rolled.filter(F.col("n") < k)
    terminal = leftover.groupBy().agg(
        F.sum("n").alias("n"), F.sum("total").alias("total")
    )
    for c in prefix:
        terminal = terminal.withColumn(c, F.lit(None).cast(dict(df.dtypes)[c]))
    terminal = (
        terminal.withColumn(last, F.lit(suppressed))
        .withColumn(
            "total", F.when(F.col("n") >= k, F.col("total"))
        )
        .select(*group_cols, "n", "total")
        .filter(F.col("n") > 0)
    )
    return ok.unionByName(rolled_ok).unionByName(terminal)


def dp_geometric_release(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 0.5,
    seed: str = "42",
    domain: DataFrame | None = None,
) -> DataFrame:
    """Seeded-GEOMETRIC (derandomized discrete-Laplace) counter
    release — the differential-privacy counterpart of
    :func:`kanon_release`: released counts are perturbed by integer
    noise drawn from the two-sided geometric mechanism via an
    inverse-CDF over a SEEDED per-group uniform, so no exact count is
    ever published.  Derandomized = reproducible: the noise is a pure
    function of (seed, group key) — md5-prefix uniform, washed-ln
    inverse CDF, one rounding — so the release is deterministic,
    auditable, and oracle-provable (the PMI determinism recipe applied
    to a privacy mechanism).  The ε-DP guarantee holds against
    observers who do not know the seed; a production deployment keeps
    the seed secret and rotates it per release, which changes nothing
    about this plan shape.

    DOMAIN CAVEAT (the part ε-DP is pedantic about): without
    ``domain``, only groups PRESENT in the data are emitted, so group
    presence/absence is released exactly — neighboring datasets
    differing by the lone member of a group are perfectly
    distinguishable by the row's existence.  The stated ε-DP guarantee
    therefore holds only over a FIXED PUBLIC set of group keys.  Pass
    ``domain`` (a frame bearing ``group_cols`` — the public key
    universe, e.g. the nation dimension) to release a noisy row for
    EVERY domain key, empty groups included (true count 0, noise
    applied): then row existence carries no information and the
    guarantee covers membership too.  Keys present in the data but
    missing from the domain are dropped — the domain is the public
    frame, by definition.

    Mechanism: ``u = (2·h + 1) / 2^33`` (``h`` = first-8-hex of
    ``md5(seed:key)`` — exact in a double, never 0/0.5/1), ``t = u -
    0.5``, ``noise = round(-(1/ε)·sign(t)·round(ln(1 - 2|t|), 6))``
    — the Laplace(1/ε) inverse CDF with the washed-libm contract,
    rounded to the integer lattice (the rounded-Laplace/geometric
    equivalence).  Emits ``(group_cols..., n_noisy)``; the true count
    is deliberately NOT emitted.  One aggregation tree + per-group
    scalar expressions — group-cardinality-bounded, never
    data-bounded."""
    from pyspark.sql import functions as F

    b = 1.0 / epsilon
    g = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"))
    if domain is not None:
        g = _frame_to_domain(domain, group_cols, g, {"n": F.lit(0)})
    key = F.concat_ws(
        ":", F.lit(seed), *[F.col(c).cast("string") for c in group_cols]
    )
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    t = (2 * h + 1).cast("double") / F.lit(8589934592.0) - F.lit(0.5)
    mag = F.round(F.log(F.lit(1.0) - F.lit(2.0) * F.abs(t)), 6)
    noise = F.round(F.lit(-b) * F.signum(t) * mag, 0).cast("bigint")
    return g.select(
        *group_cols, (F.col("n") + noise).cast("bigint").alias("n_noisy")
    )


def _frame_to_domain(
    domain: DataFrame, group_cols: list, g: DataFrame, zero_fills: dict
) -> DataFrame:
    """Re-frame per-group aggregates ``g`` onto the PUBLIC key universe
    ``domain``: every domain key appears exactly once (empty groups get
    the ``zero_fills`` neutral values), keys absent from the domain are
    dropped.  The domain is dimension-sized — broadcast-joined, never a
    corpus-sized shuffle."""
    from pyspark.sql import functions as F

    framed = (
        domain.select(*group_cols)
        .distinct()
        .join(g, on=list(group_cols), how="left")
    )
    for col, zero in zero_fills.items():
        framed = framed.withColumn(col, F.coalesce(F.col(col), zero))
    return framed


def dp_sum_release(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    epsilon: float = 0.5,
    seed: str = "42",
    domain: DataFrame | None = None,
) -> DataFrame:
    """Seeded-geometric DP SUM release — the value-perturbation
    counterpart of :func:`dp_geometric_release`: per-group sums of the
    value CLAMPED to ``[lo, hi]`` (clamping bounds one individual's
    contribution, so the add/remove-one sensitivity is
    ``S = max(|lo|, |hi|)``), perturbed by integer noise from the
    rounded-Laplace(S/ε) mechanism via the same derandomized
    washed-ln inverse CDF.  The per-group uniform is keyed
    ``md5(seed:sum:key)`` — disjoint from the count release's stream,
    so jointly releasing counts and sums composes two independent
    mechanisms.  Emits ``(group_cols..., sum_noisy)``; the true sum is
    deliberately NOT emitted and the clamp bounds are public
    parameters.  One aggregation tree + per-group scalar expressions —
    group-cardinality-bounded at any corpus scale.

    Same DOMAIN CAVEAT as :func:`dp_geometric_release`: without
    ``domain`` only groups present in the data are emitted, so the
    ε-DP guarantee holds only over a fixed public set of group keys;
    pass the public key universe to cover membership (empty groups
    release a noisy zero-sum)."""
    from pyspark.sql import functions as F

    if not lo < hi:
        raise ValueError(f"clamp bounds must satisfy lo < hi, got [{lo}, {hi}]")
    sens = max(abs(lo), abs(hi))
    b = sens / epsilon
    clamped = F.least(F.greatest(F.col(value_col).cast("double"), F.lit(float(lo))), F.lit(float(hi)))
    g = df.groupBy(*group_cols).agg(
        F.round(F.sum(clamped), 2).alias("_s")
    )
    if domain is not None:
        g = _frame_to_domain(domain, group_cols, g, {"_s": F.lit(0.0)})
    key = F.concat_ws(
        ":", F.lit(seed), F.lit("sum"),
        *[F.col(c).cast("string") for c in group_cols],
    )
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    t = (2 * h + 1).cast("double") / F.lit(8589934592.0) - F.lit(0.5)
    mag = F.round(F.log(F.lit(1.0) - F.lit(2.0) * F.abs(t)), 6)
    noise = F.round(F.lit(-b) * F.signum(t) * mag, 0).cast("bigint")
    return g.select(
        *group_cols,
        F.round(F.col("_s") + noise.cast("double"), 2).alias("sum_noisy"),
    )


def kanon_dp_release(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    value_col: str,
    epsilon: float = 0.5,
    seed: str = "42",
    domain: DataFrame | None = None,
) -> DataFrame:
    """K-anonymity COMPOSED with the DP mechanism: groups with >= k
    members release their exact (count, sum); smaller groups release a
    DP-NOISY count (clamped at 0 — DP-safe post-processing) and a NULL
    sum, instead of rolling up.  No exact sub-k statistic is ever
    published, and the exactness flag is implicit in the sum's
    nullness (public either way, since k is a public parameter).
    Noise is the derandomized seeded-geometric stream keyed
    ``md5(seed:kanon:key)`` — disjoint from the standalone count/sum
    releases, deterministic, auditable, oracle-provable.  Emits
    ``(group_cols..., n_released, total)``.  One aggregation tree +
    scalar expressions.

    Same DOMAIN CAVEAT as :func:`dp_geometric_release`: without
    ``domain`` only groups present in the data appear, so presence of
    a sub-k group is released exactly and the DP side of the composite
    holds only over a fixed public set of group keys; pass the public
    key universe to cover membership (empty groups release a noisy
    zero count and a NULL sum)."""
    from pyspark.sql import functions as F

    b = 1.0 / epsilon
    dec = F.col(value_col).cast("decimal(18,2)")
    g = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"), F.sum(dec).alias("total")
    )
    if domain is not None:
        g = _frame_to_domain(domain, group_cols, g, {"n": F.lit(0)})
    key = F.concat_ws(
        ":", F.lit(seed), F.lit("kanon"),
        *[F.col(c).cast("string") for c in group_cols],
    )
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    t = (2 * h + 1).cast("double") / F.lit(8589934592.0) - F.lit(0.5)
    mag = F.round(F.log(F.lit(1.0) - F.lit(2.0) * F.abs(t)), 6)
    noise = F.round(F.lit(-b) * F.signum(t) * mag, 0).cast("bigint")
    return g.select(
        *group_cols,
        F.when(F.col("n") >= k, F.col("n"))
        .otherwise(F.greatest(F.lit(0), F.col("n") + noise))
        .cast("bigint")
        .alias("n_released"),
        F.when(F.col("n") >= k, F.col("total")).alias("total"),
    )


#: Largest ``k`` that ``dsir_importance_select`` hands to the top-k
#: operator as is (2 x 2^20 slots is a few MB per task); a larger one
#: is capped at the scored row count first.
_TOPK_MAX_K = 1 << 20


def dsir_importance_select(
    docs: DataFrame,
    is_target: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: list[str] | None = None,
    k: int = 200,
    buckets: int = 2048,
    seed: str = "dsir",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    pick the ``k`` raw-pool documents whose hashed-bigram distribution
    looks most like a small TARGET set, sampling WITHOUT replacement in
    proportion to the importance weights via the Gumbel-top-k trick
    (Vieira 2014).  ``is_target`` marks the target rows inside ``docs``
    (e.g. a curated source); everything else is the raw pool the
    selection draws from.

    Mechanics, all JVM expressions (no UDF anywhere):

    1. bigrams of the whitespace-tokenized text hash into ``buckets``
       feature buckets (md5-derived — portable to any engine);
    2. per-bucket counts on each side give two add-one-smoothed
       bag-of-ngrams models; a bucket's log-likelihood-ratio weight is
       ``ln((t_b+1)/(T+B)) - ln((r_b+1)/(R+B))``, each ln ROUNDED to 6
       then carried as DECIMAL(18,8) so downstream accumulation is
       exact integer arithmetic — order-free under partial aggregation
       at any cluster size;
    3. a doc's log importance weight is the DECIMAL dot product of its
       bucket counts with the weight table;
    4. Gumbel-top-k: per-doc noise ``g = -ln(-ln(u))`` with ``u`` a
       md5-derived rational in (0,1) (washed-ln chain, deterministic
       and partition-invariant), and the top ``k`` raw docs by
       ``log_weight + g`` are the sample — equivalent to k draws
       without replacement from softmax(log_weight).

    Scale shape: the corpus is exploded ONCE; the weight table is
    ``buckets``-bounded and BROADCAST to the doc-side dot product; the
    final top-k is a TakeOrderedAndProject, not a global sort
    materialization.  Linear in corpus size, no pair stage, one
    corpus-keyed shuffle (the per-doc-per-bucket partial aggregate).
    Docs with < 2 tokens have no bigram mass and are never selected
    (documented DSIR behavior for degenerate docs).

    Returns ``(id_col, keep_cols..., log_weight, gumbel_key, rank)``
    with rank 1..k ordered by the Gumbel-perturbed key descending,
    ties broken on ``id_col``.
    """
    keep_cols = keep_cols or []
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda w: w != ""
    )
    base = docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        is_target.cast("int").alias("_tgt"),
        toks.alias("_ws"),
    )
    npairs = F.greatest(F.size("_ws") - 1, F.lit(0))
    occ = base.select(
        id_col,
        "_tgt",
        F.explode(
            F.zip_with(
                F.slice(F.col("_ws"), 1, npairs),
                F.slice(F.col("_ws"), 2, npairs),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("_bg"),
    ).select(
        id_col,
        "_tgt",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(seed + ":"), F.col("_bg"))), 1, 6),
                16,
                10,
            ).cast("bigint")
            % buckets
        ).alias("_b"),
    )
    # ONE corpus-keyed shuffle: per-(doc, bucket) counts. FROZEN —
    # both downstream consumers (the bucket-side model counts and the
    # per-doc dot product) read the materialized count table, so the
    # raw corpus text is tokenized and exploded exactly once; without
    # this Catalyst plans two independent corpus scans (verified on
    # the formatted plan).
    doc_bucket = freeze(occ.groupBy(id_col, "_tgt", "_b").agg(
        F.count(F.lit(1)).alias("_c")
    ))
    side = doc_bucket.groupBy("_b").agg(
        F.sum(F.when(F.col("_tgt") == 1, F.col("_c")).otherwise(0)).alias("_t"),
        F.sum(F.when(F.col("_tgt") == 0, F.col("_c")).otherwise(0)).alias("_r"),
    )
    totals = side.agg(
        F.sum("_t").alias("_tt"), F.sum("_r").alias("_rr")
    )
    weights = side.crossJoin(F.broadcast(totals)).select(
        "_b",
        (
            F.round(F.log((F.col("_t") + 1.0) / (F.col("_tt") + F.lit(float(buckets)))), 6)
            .cast("decimal(18,8)")
            - F.round(F.log((F.col("_r") + 1.0) / (F.col("_rr") + F.lit(float(buckets)))), 6)
            .cast("decimal(18,8)")
        ).alias("_lw"),
    )
    scored = (
        doc_bucket.filter(F.col("_tgt") == 0)
        .join(F.broadcast(weights), "_b")
        .groupBy(id_col)
        .agg(F.sum(F.col("_c").cast("decimal(12,0)") * F.col("_lw")).alias("_score"))
    )
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("g:" + seed + ":"), F.col(id_col).cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 999983
            + 1
        ).cast("double")
        / F.lit(999984.0)
    )
    l1 = F.round(F.log(u), 6).cast("decimal(18,8)")  # < 0, never rounds to 0
    g = F.round(-F.log((-l1).cast("double")), 6).cast("decimal(18,8)")
    keyed = scored.select(
        id_col,
        F.col("_score"),
        (F.col("_score") + g).alias("_key"),
    )
    # TakeOrderedAndProject (distributed partial top-k per partition,
    # k-bounded merge on the driver side of the exchange) — never a
    # global sort of the corpus-sized score table; rank is computed on
    # the k-bounded result, so the global window is k rows by
    # construction. Its selector allocates 2k slots per task up front,
    # so a huge k is first capped at the scored row count: same rows,
    # same ranks.
    if k >= _TOPK_MAX_K:
        k = min(k, scored.count())
    topk = keyed.orderBy(F.col("_key").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("_key").desc(), F.col(id_col).asc())
    picked = topk.withColumn("rank", F.row_number().over(w))
    # passthrough columns come from a broadcast of the k-row winner set
    # into the docs scan — never a corpus-keyed shuffle
    out = docs.select(id_col, *keep_cols).join(
        F.broadcast(picked), id_col
    ) if keep_cols else picked
    return out.select(
        id_col,
        *keep_cols,
        F.round(F.col("_score").cast("double"), 6).alias("log_weight"),
        F.round(F.col("_key").cast("double"), 6).alias("gumbel_key"),
        F.col("rank").cast("int").alias("rank"),
    )


def dp_user_level_count_release(
    df: DataFrame,
    user_col: str,
    group_cols: list[str],
    order_col: str,
    *,
    rows_per_group: int = 3,
    groups_per_user: int = 2,
    epsilon: float = 0.5,
    seed: str = "42",
    domain: DataFrame | None = None,
) -> DataFrame:
    """USER-level DP counter release via contribution bounding (the
    bounded-user-contribution pipeline of Wilson et al. 2020,
    "Differentially Private SQL"): the row-level releases above
    protect one ROW, but a user contributing many rows is unprotected
    — their removal can swing a count arbitrarily.  This operator
    makes the privacy unit the USER:

    1. **L∞ bound** — within each (user, group) keep at most
       ``rows_per_group`` rows, chosen by md5 rank over
       ``order_col`` (deterministic, data-independent given the keys);
    2. **L0 bound** — each user contributes to at most
       ``groups_per_user`` groups, again md5-chosen from the keys;
    3. one user's presence now shifts the released count vector by at
       most ``L1 = rows_per_group * groups_per_user``, so the
       seeded-geometric mechanism (:func:`dp_geometric_release`) at
       ``epsilon / L1`` per unit — i.e. noise scale ``b = L1/ε`` —
       releases the per-group counts with user-level ε-DP over the
       public ``domain`` frame (same domain caveat as the row-level
       release without one).

    The capping windows are partitioned by user (corpus-keyed,
    never global); the md5 rank keys are disjoint streams
    (``seed:cap:...`` / ``seed:grp:...``) from the noise stream
    (``seed:user:...``).  One user-keyed shuffle + one group
    aggregation tree — the same scale shape as a plain grouped count.
    Emits ``(group_cols..., n_noisy)``."""
    from pyspark.sql import functions as F

    l1 = rows_per_group * groups_per_user
    gcols = [F.col(c).cast("string") for c in group_cols]
    cap_key = F.md5(
        F.concat_ws(
            ":", F.lit(seed), F.lit("cap"), F.col(user_col).cast("string"),
            *gcols, F.col(order_col).cast("string"),
        )
    )
    w_rows = Window.partitionBy(user_col, *group_cols).orderBy(
        cap_key.asc(), F.col(order_col).asc()
    )
    grp_key = F.md5(
        F.concat_ws(
            ":", F.lit(seed), F.lit("grp"), F.col(user_col).cast("string"), *gcols
        )
    )
    # rank each user's GROUPS by a key-derived hash; dense_rank over
    # the distinct (user, group) pairs == rank of the group itself
    # because grp_key is constant within a (user, group)
    w_groups = Window.partitionBy(user_col).orderBy(
        grp_key.asc(), *[F.col(c).asc() for c in group_cols]
    )
    capped = (
        df.withColumn("_rn", F.row_number().over(w_rows))
        .filter(F.col("_rn") <= rows_per_group)
        .withColumn("_gr", F.dense_rank().over(w_groups))
        .filter(F.col("_gr") <= groups_per_user)
        .drop("_rn", "_gr")
    )
    return dp_geometric_release(
        capped,
        group_cols,
        epsilon=epsilon / l1,
        seed=f"{seed}:user",
        domain=domain,
    )
