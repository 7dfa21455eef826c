"""Similarity search over embedding columns (``array<float>``).

* ``knn_bruteforce`` — exact top-k: broadcast the (small) query set
  against the corpus, cosine via JVM higher-order functions, top-k per
  query via one window shuffle. The exact baseline every ANN variant is
  measured against.
* ``random_hyperplane_buckets`` / ``knn_lsh`` — signed-random-projection
  LSH: deterministic hyperplanes (seeded), corpus bucketed once;
  queries probe only their bucket(s). The scale path: candidate volume
  ∝ bucket size, not corpus size.
* ``knn_ivf`` — IVF-style coarse quantizer: deterministic centroid
  seed + Lloyd refinement entirely in DataFrame ops; queries probe the
  ``nprobe`` nearest centroids' inverted lists.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..core.layout import fan_out, freeze
from ..core.smalldf import local_df

from ..functions.vector import cosine_similarity, dot, to_double_array


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k. ``queries`` must have (query_id, vec) and be
    small (it is collected to the driver and baked into the scoring
    UDF — the same bounded-collect pattern as the IVF centroid loop).

    Per corpus partition, ONE Arrow-batched numpy matmul scores every
    (row, query) pair and keeps only the partition-local top-k per
    query, so the rows that reach the final window shuffle number
    ≤ k·queries·partitions — never corpus×queries. Measured ~3× faster
    than the previous crossJoin + interpreted-HOF dot at sf0.1 (the
    per-pair ``F.aggregate`` fold is interpreted, not codegen'd).
    """
    qrows = queries.select(F.col(query_id_col), to_double_array(F.col(vec_col)).alias("v")).collect()
    qids = [r[0] for r in qrows]
    qmat = np.asarray([r.v for r in qrows], dtype=np.float64)  # m × d
    qnorm = np.linalg.norm(qmat, axis=1)
    qnorm[qnorm == 0.0] = 1.0

    qid_t = queries.schema[query_id_col].dataType.simpleString()
    id_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"{query_id_col} {qid_t}, {id_col} {id_t}, cosine double"

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.vstack(pdf["__v__"].to_numpy()).astype(np.float64)  # n × d
            cnorm = np.linalg.norm(cmat, axis=1)
            cnorm[cnorm == 0.0] = 1.0
            sims = np.round((cmat @ qmat.T) / np.outer(cnorm, qnorm), 6)  # n × m
            ids = pdf[id_col].to_numpy()
            rows = []
            for j, qid in enumerate(qids):
                col = sims[:, j]
                # partition-local top-k with (cosine desc, id asc) order
                order = np.lexsort((ids, -col))[:k]
                rows.append(
                    pd.DataFrame({query_id_col: qid, id_col: ids[order], "cosine": col[order]})
                )
            yield pd.concat(rows)

    c = corpus.select(F.col(id_col), to_double_array(F.col(vec_col)).alias("__v__"))
    scored = c.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(num_planes, dim).tolist()


def random_hyperplane_buckets(
    df: DataFrame,
    dim: int,
    num_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append a signed-random-projection bucket id (one of
    2^num_planes). Hyperplanes are seeded numpy arrays baked into the
    scoring UDF — identical on every executor, no side channel needed.
    One Arrow-batched matmul produces all plane signs per batch
    (replacing num_planes interpreted ``F.aggregate`` folds per row —
    measured ~2× on knn_lsh end-to-end); corpus and queries go through
    the SAME code path, so sign boundaries agree bit-for-bit."""
    from pyspark.sql.functions import pandas_udf

    pmat = np.asarray(_hyperplanes(dim, num_planes, seed), dtype=np.float64).T  # d × p
    weights = (1 << np.arange(num_planes)).astype(np.int64)

    @pandas_udf("long")
    def bucket_of(vecs: pd.Series) -> pd.Series:
        x = np.vstack(vecs.to_numpy()).astype(np.float64)  # n × d
        signs = (x @ pmat) >= 0  # n × p
        return pd.Series(signs @ weights)

    return df.withColumn("bucket", bucket_of(to_double_array(F.col(vec_col))))


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    seed: int = 42,
    probes: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN top-k: equi-join corpus and queries on the LSH bucket, exact
    cosine within the bucket. Approximate — recall is tuned by
    ``num_planes`` (bucket granularity) and ``probes`` (multi-probe:
    also search buckets within hamming ``probes`` of the query's
    bucket, the standard recall boost that avoids re-hashing the
    corpus)."""
    cb = random_hyperplane_buckets(corpus, dim, num_planes, seed, vec_col)
    from ..functions.vector import norm

    qb0 = random_hyperplane_buckets(
        queries.select(F.col(query_id_col), F.col(vec_col)), dim, num_planes, seed, vec_col
    ).select(
        query_id_col,
        F.col(vec_col).alias("__qvec__"),
        norm(F.col(vec_col)).alias("__qnorm__"),
        "bucket",
    )
    probe_masks = [0]
    if probes >= 1:
        probe_masks += [1 << i for i in range(num_planes)]
    if probes >= 2:
        probe_masks += [
            (1 << i) | (1 << j) for i in range(num_planes) for j in range(i + 1, num_planes)
        ]
    qb = qb0.select(
        query_id_col,
        "__qvec__",
        "__qnorm__",
        F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in probe_masks])).alias("bucket"),
    )
    # per-side norms computed once (see knn_bruteforce); per-candidate
    # work is one fused dot product
    cbn = cb.withColumn("__cnorm__", norm(F.col(vec_col)))
    cos = F.round(dot(F.col(vec_col), F.col("__qvec__")) / (F.col("__cnorm__") * F.col("__qnorm__")), 6)
    scored = cbn.join(F.broadcast(qb), "bucket").select(
        F.col(query_id_col), F.col(id_col), cos.alias("cosine")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def train_ivf_centroids(
    corpus: DataFrame,
    nlist: int = 16,
    lloyd_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Train the IVF coarse quantizer once and reuse it: the measured
    scaling curve (SCALING.md) shows per-call Lloyd training dominating
    knn_ivf wall clock, so a production deployment trains centroids on
    a sample/first batch and passes them to every subsequent
    :func:`knn_ivf` call via ``centroids=``."""
    init = corpus.orderBy(id_col).limit(nlist).select(to_double_array(F.col(vec_col)).alias("v")).collect()
    cents: list[list[float]] = [r.v for r in init]
    for _ in range(lloyd_iters):
        assigned = corpus.withColumn("cid", _best_cid_expr(cents, vec_col))
        means = (
            assigned.select("cid", F.posexplode(to_double_array(F.col(vec_col))).alias("i", "v"))
            .groupBy("cid", "i")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r.cid, {})[r.i] = r.m
        # empty cells keep their previous centroid
        cents = [
            [by_cid[cid][i] for i in sorted(by_cid[cid])] if cid in by_cid else cents[cid]
            for cid in range(nlist)
        ]
    return cents


def _best_cid_expr(cent_list: list[list[float]], vec_col: str):
    """argmax_{cid} cosine(vec, centroid[cid]) with lowest-cid
    tie-break, as one Arrow-batched matmul: scores = X @ (C/|C|)ᵀ,
    argmax per row (numpy argmax takes the first maximum → lowest
    cid on ties). The row's own norm divides every candidate
    equally, so ranking by dot/|centroid| is the same argmax.
    A 10k-row Arrow batch against 16 centroids is one
    10k×64 @ 64×16 matmul. Measured: the original corpus×nlist
    crossJoin + per-row window took 16.6s at sf0.01; this form
    runs the whole IVF (2 Lloyd rounds + search) in ~3s at sf0.1
    — 10× the data. Python-worker startup makes it a wash on tiny
    inputs; the matmul wins as batches fill."""
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(cent_list, dtype=np.float64)
    cnorms = np.linalg.norm(cmat, axis=1)
    cnorms[cnorms == 0.0] = 1.0
    cunit = (cmat / cnorms[:, None]).T  # d × c

    @pandas_udf("int")
    def best_cid(vecs: pd.Series) -> pd.Series:
        x = np.vstack(vecs.to_numpy()).astype(np.float64)  # n × d
        return pd.Series((x @ cunit).argmax(axis=1).astype(np.int32))

    return best_cid(to_double_array(F.col(vec_col)))


def assign_ivf(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Materializable centroid-assignment table: the corpus with its
    IVF cell id (``cid``) attached. A real deployment computes this
    ONCE per (corpus, quantizer) epoch and persists it (cache locally,
    a parquet table partitioned by ``cid`` at warehouse scale) so every
    later query batch starts at the bucket join — assignment, like
    training, amortizes across batches. Pass the result to
    :func:`knn_ivf` via ``assigned=``."""
    return corpus.withColumn("cid", _best_cid_expr(centroids, vec_col))


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    lloyd_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into ``nlist`` cells
    (deterministic init = lowest ids; Lloyd refinement), then score
    queries only against their ``nprobe`` nearest cells.

    Centroids are nlist×dim doubles — small enough that the k-means
    driver loop follows the classic Spark pattern: collect centroids to
    the driver each round and bake them into the next round's plan as
    literal arrays. Assignment is then a pure per-row expression
    (argmax over nlist literal centroids) — no corpus×nlist crossJoin,
    no per-row window shuffle, and each round's lineage is truncated at
    the collected centroids instead of re-running every prior round.
    (Rewrite measured ~4× faster end-to-end than the previous
    all-DataFrame Lloyd loop at sf0.01.)

    Pass ``centroids`` (from :func:`train_ivf_centroids`) to skip
    training — the production pattern: per-call Lloyd dominates the
    measured wall clock, and a quantizer trained on one batch serves
    every later query batch. Pass ``assigned`` (from
    :func:`assign_ivf`, typically persisted) to also skip the
    per-call corpus assignment scan; ``assigned`` must have been built
    with the same ``centroids``.
    """
    import math

    if assigned is not None and centroids is None:
        raise ValueError("assigned= requires the matching centroids=")
    cents = centroids if centroids is not None else train_ivf_centroids(
        corpus, nlist=nlist, lloyd_iters=lloyd_iters, vec_col=vec_col, id_col=id_col
    )
    nlist = len(cents)

    if assigned is None:
        assigned = assign_ivf(corpus, cents, vec_col=vec_col)

    # probe list per query: nprobe nearest centroids — computed the same
    # literal-expression way, then exploded to (query, cid) pairs
    def probe_cids_expr():
        v = to_double_array(F.col("__qvec__"))
        cands = []
        for cid, cv in enumerate(cents):
            cnorm = math.sqrt(sum(x * x for x in cv)) or 1.0
            lit = F.array(*[F.lit(float(x)) for x in cv])
            csim = dot(v, lit) / F.lit(cnorm)
            cands.append(F.struct(csim.alias("s"), F.lit(-cid).alias("nc")))
        ordered = F.reverse(F.array_sort(F.array(*cands)))
        return F.transform(F.slice(ordered, 1, nprobe), lambda s: (-s["nc"]).cast("int"))

    probes = (
        queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec__"))
        .select(query_id_col, "__qvec__", F.explode(probe_cids_expr()).alias("cid"))
    )

    cos = F.round(cosine_similarity(F.col(vec_col), F.col("__qvec__")), 6)
    scored = assigned.join(F.broadcast(probes), "cid").select(
        F.col(query_id_col), F.col(id_col), cos.alias("cosine")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pca_project(
    df: DataFrame,
    k: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distributed PCA: project every vector onto the top-``k``
    principal components of the corpus.

    Two passes, the standard big-data shape:

    1. **Reduce pass** — each Arrow batch contributes a partial
       ``(count, sum, X'X)`` via one matmul; partials are dim(+1)²
       doubles, so the driver reduce handles dim²·partitions numbers —
       never anything proportional to rows. Covariance =
       ``X'X/n − μμ'``; eigendecomposition of the dim×dim matrix runs
       on the driver (μs for any realistic dim).
    2. **Map pass** — the k×dim component matrix is baked into a
       broadcast-free pandas UDF (seeded constants travel with the
       serialized closure) and applied as one matmul per batch.

    Component SIGN is made deterministic (largest-|loading| coordinate
    forced positive) so output doesn't flip between runs/partitionings.
    Eigenvector ORDER follows descending eigenvalue with a stable index
    tie-break. Scores are rounded to 6 for cross-run stability.
    """
    from pyspark.sql.functions import pandas_udf

    def partials(batches):
        for pdf in batches:
            x = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [float(len(x))],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [(x.T @ x).ravel().tolist()],
                }
            )

    agg = df.select(vec_col).mapInPandas(
        partials, schema="n double, s array<double>, g array<double>"
    ).collect()
    n = sum(r["n"] for r in agg)
    s = np.sum([np.asarray(r["s"]) for r in agg], axis=0)
    dim = s.shape[0]
    g = np.sum([np.asarray(r["g"]).reshape(dim, dim) for r in agg], axis=0)
    mu = s / n
    cov = g / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(-evals, kind="stable")[:k]
    comp = evecs[:, order].T  # k × dim
    # deterministic sign: largest-|loading| coordinate positive
    for i in range(comp.shape[0]):
        j = int(np.argmax(np.abs(comp[i])))
        if comp[i, j] < 0:
            comp[i] = -comp[i]

    @pandas_udf("array<double>")
    def project(vecs: pd.Series) -> pd.Series:
        x = np.vstack(vecs.to_numpy()).astype(np.float64)
        scores = np.round((x - mu) @ comp.T, 6)
        return pd.Series(list(scores))

    return df.select(id_col, project(F.col(vec_col)).alias("pc_scores"))


def kmeans_exact(
    df: DataFrame,
    k: int = 8,
    rounds: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant_digits: int = 6,
    stats: dict | None = None,
) -> DataFrame:
    """Lloyd k-means whose every round is CROSS-ENGINE EXACT — the
    provable twin of :func:`train_ivf_centroids`'s float path (the same
    relationship ``dedup_simhash_md5`` has to ``dedup_simhash``): an
    independent engine replaying the same arithmetic must produce the
    IDENTICAL assignment, so the whole iteration can sit under a SQL
    oracle instead of a recall pin.

    How exactness survives floating point: vectors are quantized once
    to scaled integers (``round(x * 10^quant_digits)``, half-away-from-
    zero in both engines); a centroid is represented as its EXACT
    integer component-sum vector ``s`` plus member count ``n`` (never
    the mean ``s/n`` — division would reintroduce rounding); and the
    argmin of ``|x - s_c/n_c|^2`` is taken over the integer-exact
    rational cost ``(n_c^2·x·x - 2·n_c·x·s_c + s_c·s_c) / n_c^2`` —
    numerator and denominator are arbitrary-precision ints, the ONE
    float op per candidate is their final IEEE division (bit-identical
    inputs ⇒ bit-identical quotient; ties break on cid). Partial-agg
    order cannot matter anywhere: integer sums are associative.

    Spark shape per round: ONE Arrow-batched assignment pass feeding
    one ``posexplode``/``groupBy (cid, pos)`` aggregate that carries
    both the integer component sums AND the member counts (k·dim rows
    collected — count per (cid, pos) is the cluster size, so no second
    action re-runs the assignment UDF). k centroid sums live as plain
    Python ints in the UDF closure — the same bounded driver traffic
    as the IVF loop. Empty clusters keep their previous (s, n),
    matching the float path's empty-cell rule. ``rounds`` centroid
    updates, final output = assignment under the last centroids.

    At 100 TB the production path stays :func:`train_ivf_centroids` +
    :func:`assign_ivf` (JVM-side float argmin, no per-row Python); this
    operator is the correctness anchor you run on samples/CI to prove
    the clustering arithmetic, and the shared design rule — k scales
    with corpus so cluster occupancy stays bounded — is what keeps the
    downstream within-cluster work (SemDeDup) quadratic-free.

    Returns (id_col, v LONG-array quantized, cid INT). ``stats``
    receives ``{"centroids": [(s, n), ...]}`` for introspection.
    """
    scale = float(10 ** quant_digits)
    q = freeze(fan_out(
        df.select(
            F.col(id_col),
            F.transform(
                F.col(vec_col), lambda x: F.round(x.cast("double") * scale, 0).cast("long")
            ).alias("v"),
        ),
        id_col,
    ))  # reused every round: freeze lineage once
    cents = lloyd_exact(q, k=k, rounds=rounds, id_col=id_col)
    if stats is not None:
        stats["centroids"] = cents
    return q.withColumn("cid", _kmeans_assign_udf(cents)(F.col("v")))


def lloyd_exact(q: DataFrame, k: int = 8, rounds: int = 2, id_col: str = "vec_id") -> list:
    """The exact-Lloyd training loop over ALREADY-QUANTIZED vectors
    (``q`` = (id_col, v LONG-array)): init = the first ``k`` rows by
    ``id_col``, then ``rounds`` centroid updates under the rational-
    cost argmin. Returns the integer (sum, count) centroid list.
    Shared by :func:`kmeans_exact` (which quantizes floats first) and
    the ANN store's re-train rewrite (which trains on the stored
    quantized vectors — no original corpus needed)."""
    init = q.orderBy(id_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(f"kmeans_exact: need >= {k} rows, got {len(init)}")
    cents = [([int(x) for x in r.v], 1) for r in init]
    assign_udf = _kmeans_assign_udf

    for _ in range(rounds):
        a = q.withColumn("cid", assign_udf(cents)(F.col("v")))
        # ONE action per round: the member count rides the same
        # (cid, pos) aggregate (every pos of a cluster has exactly one
        # row per member), so the Arrow assignment UDF executes once —
        # the separate groupBy-count re-ran it over the full dataset
        # (ADVICE r7).
        srows = (
            a.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(
                F.sum(F.col("val").cast("decimal(38,0)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        nrows = {r["cid"]: int(r["n"]) for r in srows}
        by_cid: dict[int, dict[int, int]] = {}
        for r in srows:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = int(r["s"])
        cents = [
            (
                [by_cid[cid][p] for p in range(len(cents[cid][0]))],
                int(nrows[cid]),
            )
            if cid in nrows
            else cents[cid]
            for cid in range(k)
        ]
    return cents


def assign_exact(
    df: DataFrame,
    cents: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant_digits: int = 6,
) -> DataFrame:
    """Assign vectors to FROZEN exact-k-means centroids (``cents`` =
    the (sum, count) pairs :func:`kmeans_exact` publishes via
    ``stats``) — the serving-time half of the exact quantizer: a store
    ingests later batches under the bootstrap-trained centroids, and
    because the argmin replays the identical rational-cost arithmetic,
    the assignment is engine-exact regardless of which batch a vector
    arrived in. Returns (id_col, v LONG-array quantized, cid INT)."""
    scale = float(10 ** quant_digits)
    q = df.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double") * scale, 0).cast("long")
        ).alias("v"),
    )
    return q.withColumn("cid", _kmeans_assign_udf(cents)(F.col("v")))


def probe_cells_exact(vi: list, cents: list, nprobe: int) -> list:
    """Rank frozen centroids for one quantized query vector by the
    SAME rational cost key the assignment uses (one IEEE division per
    candidate on exact-int operands; cid tie-break) and return the
    ``nprobe`` nearest cell ids — the driver-side probe-selection
    shared by :func:`knn_ivf_exact` and the persisted ANN index."""
    vi = [int(x) for x in vi]
    xx = sum(a * a for a in vi)
    keyed = []
    for cid, (s, n) in enumerate(cents):
        xs = sum(a * b for a, b in zip(vi, s))
        ss = sum(a * a for a in s)
        cost = n * n * xx - 2 * n * xs + ss
        keyed.append((float(cost) / float(n * n), cid))
    keyed.sort()
    return [cid for _, cid in keyed[:nprobe]]


def _kmeans_assign_udf(cents):
    sums = [s for s, _ in cents]
    ns = [int(n) for _, n in cents]
    sss = [sum(a * a for a in s) for s in sums]
    # The dot products x·x and x·s_c stay inside int64 whenever
    # n·scale·sqrt(dim) does (|s_c| <= n·scale per component →
    # |x·s_c| <= dim·scale·n·scale); vectorize them through numpy
    # matmul and do only the WIDE combine (n²·xx - 2n·xs + ss, which
    # overflows int64 at n² · xx) in exact Python bigints — the int
    # values, hence the one IEEE division and the argmin, are
    # IDENTICAL to the scalar path. Guard the bound; fall back to
    # the all-bigint loop if a corpus ever exceeds it.
    dim = len(sums[0])
    smax = max((max(abs(a) for a in s) if s else 0) for s in sums)

    @F.pandas_udf("int")
    def best(vs: pd.Series) -> pd.Series:
        V = np.stack([np.asarray(v, dtype=np.int64) for v in vs]) if len(vs) else np.zeros((0, dim), np.int64)
        vmax = int(np.abs(V).max()) if len(V) else 0
        if vmax * max(smax, vmax) * dim < 2 ** 62:
            XX = (V * V).sum(axis=1)  # dim·scale² < 2^62 at dim 64
            S = np.array(sums, dtype=np.int64)  # (k, dim)
            XS = V @ S.T  # (n, k), bounded by the guard above
            out = []
            for i in range(len(V)):
                xx = int(XX[i])
                bk = None
                bc = 0
                for cid in range(len(sums)):
                    n = ns[cid]
                    cost = n * n * xx - 2 * n * int(XS[i, cid]) + sss[cid]
                    key = float(cost) / float(n * n)
                    if bk is None or key < bk:
                        bk, bc = key, cid
                out.append(bc)
            return pd.Series(out, dtype="int32")
        out = []
        for v in vs:
            vi = [int(x) for x in v]
            xx = sum(a * a for a in vi)
            bk = None
            bc = 0
            for cid in range(len(sums)):
                n = ns[cid]
                xs = sum(a * b for a, b in zip(vi, sums[cid]))
                cost = n * n * xx - 2 * n * xs + sss[cid]
                key = float(cost) / float(n * n)
                if bk is None or key < bk:
                    bk, bc = key, cid
            out.append(bc)
        return pd.Series(out, dtype="int32")

    return best


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    rounds: int = 2,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then remove near-duplicates WITHIN each cluster —
    the clustering is what removes the all-pairs term from semantic
    dedup: candidate pairs are bounded by cluster occupancy, and k
    grows with the corpus to hold occupancy constant (the same
    bounded-bucket argument as banded LSH, but with data-adaptive
    cells). Pairs are exact cosine (round 6) >= threshold over the
    ORIGINAL float vectors; within a qualifying pair the smaller id
    survives (keep-min, the family's standard rule).

    Built on :func:`kmeans_exact`, so the WHOLE pipeline — quantize,
    iterate, assign, pair, keep — replays identically in an
    independent engine. Returns (id, cid BIGINT, keep BOOLEAN).
    """
    a = kmeans_exact(df, k=k, rounds=rounds, vec_col=vec_col, id_col=id_col)
    a = freeze(a.select(id_col, "cid"))  # one pass; reused 3x below
    withv = a.join(df.select(id_col, vec_col), id_col)
    # The pair join below is keyed on cid alone, so its shuffle has at
    # most k distinct keys and AQE's parallelism-first coalescing folds
    # the few-MB exchange onto 1-2 tasks — serializing the whole
    # within-cluster cosine pass on one core (measured 12.2 s vs 4.5 s
    # at sf0.1).  Partitioning each side EXPLICITLY by its cid key
    # (user repartitions are exempt from AQE coalescing, and the join
    # reuses the matching HashPartitioning on both sides) keeps the
    # per-cluster pair work spread one-cluster-per-task.  At 100 TB k
    # scales with the corpus (docstring above), so defaultParallelism
    # buckets of many cells is exactly the layout the join wants.
    npart = df.sparkSession.sparkContext.defaultParallelism
    L = withv.select(
        F.col(id_col).alias("id_a"), F.col("cid").alias("cid_a"), F.col(vec_col).alias("va")
    ).repartition(npart, "cid_a")
    R = withv.select(
        F.col(id_col).alias("id_b"), F.col("cid").alias("cid_b"), F.col(vec_col).alias("vb")
    ).repartition(npart, "cid_b")
    drops = (
        L.join(R, (F.col("cid_a") == F.col("cid_b")) & (F.col("id_a") < F.col("id_b")))
        .filter(F.round(cosine_similarity(F.col("va"), F.col("vb")), 6) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        a.join(drops.withColumn("__dropped__", F.lit(True)), id_col, "left")
        .select(
            id_col,
            F.col("cid").cast("bigint").alias("cid"),
            F.coalesce(~F.col("__dropped__"), F.lit(True)).alias("keep"),
        )
    )


def pq_codebook(
    df: DataFrame,
    M: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant_digits: int = 6,
) -> list:
    """Deterministic product-quantization codebook: the ``ksub``
    lowest-id vectors' quantized subvectors, one codebook per subspace
    (``cb[m][j]`` = subspace-m slice of the j-th seed vector). Sampled,
    not Lloyd-trained — the same deterministic-seed choice the IVF
    family starts from, which is what lets the WHOLE encode+ADC path
    sit under an integer-exact SQL oracle; production swaps in
    :func:`kmeans_exact`/:func:`train_ivf_centroids` per subspace
    (the clustering arithmetic is proved by `semantic_dedup_kmeans`).
    """
    scale = float(10 ** quant_digits)
    rows = (
        df.orderBy(id_col)
        .limit(ksub)
        .select(
            F.transform(
                F.col(vec_col), lambda x: F.round(x.cast("double") * scale, 0).cast("long")
            ).alias("v")
        )
        .collect()
    )
    if len(rows) < ksub:
        raise ValueError(f"pq_codebook: need >= {ksub} rows, got {len(rows)}")
    dim = len(rows[0].v)
    if dim % M:
        raise ValueError(f"pq_codebook: dim {dim} not divisible by M={M}")
    d = dim // M
    return [
        [[int(x) for x in r.v[m * d : (m + 1) * d]] for r in rows]
        for m in range(M)
    ]


def knn_pq_adc(
    corpus: DataFrame,
    queries: DataFrame,
    M: int = 8,
    ksub: int = 16,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    quant_digits: int = 6,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — the memory-bound regime's answer at 100 TB, where raw
    vectors (256 B/vec at dim 64) cannot stay hot but PQ codes (M
    bytes) can: each vector is encoded once as M sub-codes (argmin
    over the subspace codebook, exact integer arithmetic over
    quantized components), and query scoring touches ONLY the codes —
    per query one (M x ksub) integer distance table is built
    driver-side and each corpus row costs M table lookups + adds.
    Everything is integer-exact by construction (codebook entries are
    data points, never means — no division anywhere), so encode, ADC
    scoring, and the top-k are all replayed verbatim by the SQL
    oracle; recall vs the exact scan is pinned separately in pytest
    (the usual ANN contract, but here the MECHANICS are oracle-proved,
    not just the recall).

    Plan shape: codes via one Arrow-batched numpy pass (argmin over a
    broadcast ksub x dim int array); scoring via one Arrow-batched
    gather-sum per partition emitting an nq-length dist array,
    exploded and window-ranked per query — the corpus is scanned
    once, never shuffled except the final k·nq·partition-bounded
    top-k window. Returns (query_id, id, pq_dist BIGINT, rank).
    """
    from pyspark.sql.functions import pandas_udf

    cb = pq_codebook(corpus, M, ksub, vec_col, id_col, quant_digits)
    scale = float(10 ** quant_digits)
    d = len(cb[0][0])
    cbarr = np.array(cb, dtype=np.int64)  # (M, ksub, d)

    qv = corpus.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double") * scale, 0).cast("long")
        ).alias("v"),
    )

    @pandas_udf("array<int>")
    def encode(vs: pd.Series) -> pd.Series:
        arr = np.stack([np.asarray(v, dtype=np.int64) for v in vs])
        codes = np.empty((arr.shape[0], M), dtype=np.int32)
        for m in range(M):
            sub = arr[:, m * d : (m + 1) * d]
            diff = sub[:, None, :] - cbarr[m][None, :, :]
            codes[:, m] = (diff * diff).sum(-1).argmin(1)
        return pd.Series(list(codes))

    # bounded collect: the query set is small by contract (same as
    # knn_bruteforce); each query becomes an (M x ksub) int table
    qrows = queries.select(
        F.col(query_id_col),
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double") * scale, 0).cast("long")
        ).alias("v"),
    ).collect()
    if not qrows:
        raise ValueError("knn_pq_adc: empty query set")
    qids = [r[query_id_col] for r in qrows]
    tables = []
    for r in qrows:
        qarr = np.asarray(r.v, dtype=np.int64)
        t = np.empty((M, ksub), dtype=np.int64)
        for m in range(M):
            diff = cbarr[m] - qarr[m * d : (m + 1) * d][None, :]
            t[m] = (diff * diff).sum(-1)
        tables.append(t)
    tbl = np.stack(tables)  # (nq, M, ksub)

    @pandas_udf("array<long>")
    def adc(codes: pd.Series) -> pd.Series:
        c = np.stack([np.asarray(x, dtype=np.int64) for x in codes])  # (n, M)
        # gather: dists[q, row] = sum_m tbl[q, m, c[row, m]]
        out = np.zeros((c.shape[0], len(qids)), dtype=np.int64)
        for m in range(M):
            out += tbl[:, m, :][:, c[:, m]].T  # (n, nq)
        return pd.Series(list(out))

    scored = qv.select(id_col, adc(encode(F.col("v"))).alias("ds")).select(
        id_col, F.posexplode("ds").alias("qpos", "pq_dist")
    )
    qid_lit = F.array(*[F.lit(q) for q in qids])
    scored = scored.select(
        F.element_at(qid_lit, F.col("qpos") + 1).alias(query_id_col),
        F.col(id_col),
        "pq_dist",
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("pq_dist").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "pq_dist", "rank")
    )


def knn_ivf_exact(
    corpus: DataFrame,
    queries: DataFrame,
    k_cells: int = 8,
    rounds: int = 2,
    nprobe: int = 2,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    quant_digits: int = 6,
) -> DataFrame:
    """IVF ANN whose ENTIRE path — coarse quantizer training, cell
    assignment, probe selection, candidate distances, top-k — is
    cross-engine exact, so the usual rows-only/recall-pin ANN contract
    upgrades to a full value-hash oracle (the same promotion
    ``dedup_simhash_md5`` gave simhash and ``kmeans_exact`` gave
    clustering, now applied to the retrieval step itself).

    The quantizer is :func:`kmeans_exact` (integer (sum, count)
    centroids, rational-cost argmin, one IEEE division per candidate).
    Probe selection replays the SAME rational cost per (query,
    centroid) — computed driver-side over the collected query batch,
    exactly as :func:`knn_pq_adc` builds its distance tables: query
    batches are small by contract; the corpus never leaves the
    cluster. Candidate scoring is a pure-integer squared L2 between
    quantized vectors (components <= 10^quant_digits, so dim 64 sums
    stay far inside LONG), evaluated JVM-side via
    ``aggregate(zip_with(...))`` on the assignment join — broadcast
    probes, no shuffle beyond the per-query top-k window over
    candidates.

    At 100 TB this IS the production IVF shape (cell-restricted scan +
    per-query top-k); the float twin :func:`knn_ivf` trades the exact
    quantizer for JVM float cosine. Recall vs the exhaustive scan is
    pinned in pytest as usual — but unlike `knn_ivf`, the MECHANICS
    here are oracle-proved, not just the recall.

    Returns (query_id, rank INT, vec_id, dist LONG), rank 1..k by
    (dist asc, id asc).
    """
    stats: dict = {}
    assigned = kmeans_exact(
        corpus, k=k_cells, rounds=rounds, vec_col=vec_col, id_col=id_col,
        quant_digits=quant_digits, stats=stats,
    )
    cents = stats["centroids"]
    scale = float(10 ** quant_digits)
    qrows = queries.select(
        query_id_col,
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double") * scale, 0).cast("long")
        ).alias("v"),
    ).collect()
    if not qrows:
        raise ValueError("knn_ivf_exact: empty query set")

    return ivf_rank_exact(
        assigned, qrows, cents, nprobe=nprobe, k=k,
        id_col=id_col, query_id_col=query_id_col,
        query_id_type=queries.schema[query_id_col].dataType.simpleString(),
    )


def ivf_rank_exact(
    assigned: DataFrame,
    qrows: list,
    cents: list,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_id_type: str = "bigint",
) -> DataFrame:
    """The IVF serving stage shared by :func:`knn_ivf_exact` and the
    persisted ANN index: given the cell assignment (id, v, cid), the
    collected quantized query rows, and the frozen centroids, probe
    ``nprobe`` cells per query (:func:`probe_cells_exact`), score
    candidates with pure-integer squared L2 JVM-side, and take the
    per-query top-k with the (dist, id) total order. ``query_id_type``
    is the query-id column's Spark type string (callers pass the real
    type from the queries schema, so string/int ids work too)."""
    probe_rows = []
    qv_rows = []
    for r in qrows:
        vi = [int(x) for x in r.v]
        qv_rows.append((r[query_id_col], vi))
        for cid in probe_cells_exact(vi, cents, nprobe):
            probe_rows.append((r[query_id_col], cid))

    spark = assigned.sparkSession
    probes = local_df(spark, probe_rows, f"{query_id_col} {query_id_type}, cid int")
    qv = local_df(spark, qv_rows, f"{query_id_col} {query_id_type}, qv array<bigint>")
    dist = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        assigned.join(F.broadcast(probes), "cid")
        .join(F.broadcast(qv), query_id_col)
        .select(F.col(query_id_col), F.col(id_col), dist.alias("dist"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "dist")
    )


def pca_power_exact(
    df: DataFrame,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant_digits: int = 6,
    stats: dict | None = None,
) -> DataFrame:
    """First principal component by power iteration, made CROSS-ENGINE
    EXACT — the promotion :func:`kmeans_exact` gave clustering, applied
    to the eigendecomposition that kept ``embedding_pca_project`` in
    the rows-only family: every iterate is re-quantized to integers,
    so an independent engine replaying the same arithmetic produces
    the IDENTICAL projection and the whole iteration sits under a SQL
    oracle (unrolled one CTE block per iteration, the pagerank
    technique).

    Arithmetic contract per iteration (w the current integer direction,
    |w_j| <= 10^6):
      * vectors quantize once (``round(x*10^6)``), then center on the
        ROUNDED integer mean ``m_j = round_half_away(S_j / n)`` — the
        one deliberate approximation (<= half a quantum per component,
        PCA-invisible) that keeps centered components ~2x the quantum
        instead of n·x - S's n-fold blowup;
      * ``dot = c·w`` is pure LONG (dim 64, components <= ~1.2e6 →
        <= ~8e13, far inside LONG);
      * the matrix-vector product ``s_j = Σ_rows dot·c_j`` accumulates
        in DECIMAL(38,0)/HUGEINT (order-free: integer sums are
        associative — AQE can slice partials any way it likes);
      * renormalize ``w_j = round_half_away(double(s_j)·10^6 /
        double(max|s|))`` — int→double conversions are correctly
        rounded in every engine, ONE multiply + ONE divide in IEEE,
        half-away rounding matches Spark's ROUND, DuckDB's round(),
        and Python's Decimal ROUND_HALF_UP.

    Spark shape per iteration: one JVM ``aggregate(zip_with)`` dot
    pass + one ``posexplode``/``groupBy pos`` DECIMAL sum collecting
    exactly dim rows to the driver — the classic collect-the-centroid
    loop; the corpus never moves. ``iters`` is fixed; convergence is
    pinned in pytest vs numpy's eigendecomposition (|cos| >= 0.99) on
    data with a PLANTED spectral gap — on near-isotropic corpora
    (lambda2/lambda1 -> 1, as in the synthetic test embeddings) no
    power method isolates a direction, but the result is still
    deterministic and the oracle still replays it exactly. The sign
    is whatever the all-ones start converges to.

    Returns (id_col, p1 LONG): each row's centered projection onto the
    final integer direction. ``stats`` receives ``{"w": [...],
    "mean": [...]}``. At 100 TB the float path (Arrow-batched numpy,
    :func:`pca_project`) is the throughput twin; this exact twin is
    its CI anchor, the same role kmeans_exact plays for IVF.
    """
    from decimal import ROUND_HALF_UP, Decimal

    def half_away(x: float) -> int:
        return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    scale = float(10 ** quant_digits)
    q = df.select(
        F.col(id_col),
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double") * scale, 0).cast("long")
        ).alias("v"),
    )
    srows = (
        q.select(F.posexplode("v").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.sum(F.col("val").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    n = q.count()
    if n == 0:
        raise ValueError("pca_power_exact: empty input")
    S = {r.pos: int(r.s) for r in srows}
    dim = len(S)
    mean = [half_away(float(S[p]) / float(n)) for p in range(dim)]

    m_lit = F.array(*[F.lit(int(m)).cast("long") for m in mean])
    c = freeze(fan_out(
        q.select(id_col, F.zip_with("v", m_lit, lambda a, b: a - b).alias("c")),
        id_col,
    ))  # reused every iteration: freeze lineage once

    w = [10 ** quant_digits] * dim
    for _ in range(iters):
        w_lit = F.array(*[F.lit(int(x)).cast("long") for x in w])
        dot = F.aggregate(
            F.zip_with("c", w_lit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        rows = (
            c.select(dot.alias("dot"), F.posexplode("c").alias("pos", "cv"))
            .groupBy("pos")
            .agg(F.sum(F.col("dot").cast("decimal(38,0)") * F.col("cv")).alias("s"))
            .collect()
        )
        s = [int(r.s) for r in sorted(rows, key=lambda r: r.pos)]
        mx = max(abs(x) for x in s)
        if mx == 0:
            raise ValueError("pca_power_exact: zero matrix-vector product (degenerate input)")
        w = [half_away(float(x) * scale / float(mx)) for x in s]

    if stats is not None:
        stats["w"] = list(w)
        stats["mean"] = mean
    w_lit = F.array(*[F.lit(int(x)).cast("long") for x in w])
    proj = F.aggregate(
        F.zip_with("c", w_lit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return c.select(id_col, proj.alias("p1"))


def quantize_embeddings_arrow(
    df: DataFrame,
    scale: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-native int8 quantization statistics via ``mapInArrow`` —
    the zero-copy batch API below even ``mapInPandas`` (no pandas
    Series materialization; the list column's values buffer feeds
    numpy directly via ``pyarrow``). Per vector: ``q_i = floor(x_i *
    127 / scale + 0.5)`` (explicit half-up tie-break — engine-
    portable where numpy's default half-even and SQL round's
    half-away disagree), emitting ``(id, n_dims, qsum, qmin, qmax)``.

    ``scale`` is the global max-|x| (one scalar, computed by the
    caller's aggregate — the same frozen-scalar contract as the IVF
    centroids). Work is per-batch vectorized: flatten the ListArray's
    values (zero-copy), quantize once, reduce by the list offsets
    with ``np.add/minimum/maximum.reduceat``. The int8 payload this
    derives is what `ann_index_int8` ships; this operator is the
    Arrow-path derivation with exact integer outputs, so the whole
    transform is oracle-checkable.
    """
    import pyarrow as pa

    def quantize(batches):
        for batch in batches:
            ids = batch.column(batch.schema.get_field_index(id_col))
            lst = batch.column(batch.schema.get_field_index(vec_col))
            if isinstance(lst, pa.ChunkedArray):
                lst = lst.combine_chunks()
            offs = np.asarray(lst.offsets)
            vals = np.asarray(lst.values, dtype=np.float64)
            q = np.floor(vals * 127.0 / scale + 0.5).astype(np.int64)
            starts = offs[:-1]
            n_dims = (offs[1:] - offs[:-1]).astype(np.int64)
            qsum = np.add.reduceat(q, starts)
            qmin = np.minimum.reduceat(q, starts)
            qmax = np.maximum.reduceat(q, starts)
            yield pa.record_batch(
                {
                    id_col: ids,
                    "n_dims": pa.array(n_dims),
                    "qsum": pa.array(qsum),
                    "qmin": pa.array(qmin),
                    "qmax": pa.array(qmax),
                }
            )

    return df.select(id_col, vec_col).mapInArrow(
        quantize,
        schema=f"{id_col} bigint, n_dims bigint, qsum bigint, "
        "qmin bigint, qmax bigint",
    )
