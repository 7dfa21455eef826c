"""Round-5 training-data-pipeline extensions: span-level exact-substring
dedup (the Lee-et-al-2021 dedup target re-expressed as bounded shingle
aggregation), deterministic domain-mixture resampling to a target
source distribution, BPE merge-candidate counting (the first tokenizer
-training iteration), and bigram-LM fluency deciles (perplexity-proxy
quality bucketing).

Round 6 adds context-window chunking (``doc_chunking_overlap``), a
deterministic seeded epoch shuffle (``dataset_epoch_shuffle``), and
order-preserving token-budget file sharding via distributed prefix-sum
(``token_budget_file_splits``, ``operators/prefix.py``) at the end of
this module.

Registered into the same ``QUERIES`` dict as queries.py /
queries_ext.py (imported from queries.py after queries_ext) so the
driver sees one namespace.  New names export AFTER the current gate
window (they are neither in ``_NEWEST`` nor ``_DRIVER_CHECKED``), so
they do not displace the rotation's evidence plan; they gate with the
next rotation (round-5 names gated in round 6; the round-6 pair joins
the 5 spillover names at round 7's first positions).

Determinism notes follow queries.py's module docstring: integer
arithmetic wherever a boundary decision is made (mixture quotas,
bucket ids), ``round(x, 6)`` + DECIMAL accumulation for libm-derived
values (ln), md5 hex strings for any cross-engine pseudo-random order,
and unique tie-breaks on every top-k.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from .core.layout import freeze, rebalanced, release
from .core.smalldf import local_df
from .streaming.windows import drain, replay_chunks, run_to_memory_sink

from .queries import QUERIES, _SHINGLE_SQL, _t, defquery, top_k  # noqa: F401

# ------------------------------------------------------------------
# 1. Exact-substring dedup (span-level cross-doc repetition)
# ------------------------------------------------------------------

_SPAN_W = 40   # window width (chars) — the "minimum duplicated span"
_SPAN_S = 20   # stride; overlapping windows so no cross-doc span of
               # >= W + S chars can straddle two windows undetected


@defquery(
    "dedup_exact_substring",
    f"""
    WITH norm AS (
      SELECT doc_id, source,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents),
    win AS (
      SELECT doc_id, source, CAST(i AS INT) AS i,
             substr(t, CAST(i AS INT), {_SPAN_W}) AS w
      FROM norm,
           unnest(range(1, greatest(len(t) - {_SPAN_W} + 1, 1) + 1, {_SPAN_S})) u(i)),
    shared AS (
      SELECT w FROM win GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
    per AS (
      SELECT doc_id, source,
             count(*) AS n_windows,
             SUM(CASE WHEN shared.w IS NOT NULL THEN 1 ELSE 0 END) AS n_dup_windows
      FROM win LEFT JOIN shared ON win.w = shared.w
      GROUP BY doc_id, source)
    SELECT doc_id, source,
           CAST(n_windows AS BIGINT) AS n_windows,
           CAST(n_dup_windows AS BIGINT) AS n_dup_windows,
           round(n_dup_windows / CAST(n_windows AS DOUBLE), 6) AS dup_frac
    FROM per WHERE n_dup_windows / CAST(n_windows AS DOUBLE) >= 0.5
    """,
    "exact-substring dedup (the span-level target of Lee et al. 2021, "
    "'Deduplicating Training Data Makes Language Models Better'): "
    f"overlapping {_SPAN_W}-char windows at stride {_SPAN_S} over "
    "whitespace-normalized text; a window whose content appears in >= 2 "
    "distinct docs is a duplicated span; docs with >= 50% duplicated "
    "windows are flagged. The suffix-array construction the paper uses "
    "is replaced by what a 1000-executor cluster actually wants: one "
    "explode bounded at len/stride rows per doc, one hash aggregate on "
    "the window content (Spark side hashes to xxhash64 longs so the "
    "shuffle carries 8-byte keys, same trick as dedup_ngram_jaccard — "
    "the oracle groups the raw strings, counts agree), one ids-only "
    "join back, one per-doc aggregate. Linear in corpus size; no "
    "quadratic pair stage anywhere because spans are flagged by "
    "group-cardinality, never by doc-pair comparison.",
)
def dedup_exact_substring_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    win = (
        d.select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.length(t) - (_SPAN_W - 1), F.lit(1)),
                        F.lit(_SPAN_S),
                    ),
                    lambda i: F.substring(t, i, _SPAN_W),
                )
            ).alias("w"),
        )
        # 8-byte keys through the shuffle; the window text never moves
        .select("doc_id", "source", F.xxhash64("w").alias("h"))
    )
    # ONE pass over the exploded windows: within a hash group,
    # ">= 2 distinct docs" is exactly min(doc_id) != max(doc_id), so a
    # whole-partition-frame window flags shared spans without the
    # aggregate-then-join-back self-reference (which would scan and
    # explode the corpus twice). Shuffle count: one exchange on h, one
    # per-doc aggregate — the oracle's countDistinct spelling groups
    # the raw strings and agrees.
    wh = Window.partitionBy("h")
    flagged = win.select(
        "doc_id",
        "source",
        (F.min("doc_id").over(wh) != F.max("doc_id").over(wh)).cast("int").alias("dup"),
    )
    per = flagged.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.sum("dup").cast("bigint").alias("n_dup_windows"),
    )
    frac = F.col("n_dup_windows") / F.col("n_windows").cast("double")
    return per.filter(frac >= 0.5).select(
        "doc_id", "source", "n_windows", "n_dup_windows", F.round(frac, 6).alias("dup_frac")
    )


@defquery(
    "dedup_substring_spans",
    f"""
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents),
    win AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             substr(t, CAST(i AS INT), {_SPAN_W}) AS w
      FROM norm,
           unnest(range(1, greatest(len(t) - {_SPAN_W} + 1, 1) + 1, {_SPAN_S})) u(i)),
    shared AS (
      SELECT w FROM win GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
    dup AS (SELECT doc_id, i FROM win JOIN shared USING (w)),
    isl AS (
      SELECT doc_id, i,
             i - {_SPAN_S} * row_number() OVER (PARTITION BY doc_id ORDER BY i ASC) AS grp
      FROM dup)
    SELECT doc_id,
           CAST(min(i) AS INT) AS span_start,
           CAST(max(i) + {_SPAN_W - 1} AS INT) AS span_end,
           CAST(max(i) + {_SPAN_W - 1} - min(i) + 1 AS BIGINT) AS span_chars,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, grp
    """,
    "MAXIMAL duplicated spans — the actual cut list of Lee et al. "
    "2021's exact-substring dedup (dedup_exact_substring flags docs; "
    "training pipelines CUT the duplicated region and keep the rest, "
    "which the paper measures as strictly better than doc dropping): "
    f"overlapping {_SPAN_W}-char windows at stride {_SPAN_S}, a window "
    "duplicated iff its content appears in >= 2 distinct docs (group "
    "cardinality — never a doc-pair stage), then per doc the "
    "consecutive duplicated positions merge into maximal spans via "
    "gaps-and-islands (i - stride*row_number constant within an "
    "island; overlapping windows guarantee no cross-doc span of "
    "length >= width is split). Spark shape: one explode bounded at "
    "len/stride rows per doc, xxhash64 8-byte keys through the ONE "
    "content shuffle, whole-frame min!=max flags shared windows "
    "without a join-back, and the island window partitions by doc_id "
    "(bounded by a doc's own windows). At 100 TB the output is the "
    "span table a rewrite pass consumes — rows proportional to "
    "duplicated text, not corpus size.",
)
def dedup_substring_spans_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    win = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length(t) - (_SPAN_W - 1), F.lit(1)),
                    F.lit(_SPAN_S),
                ),
                lambda i: F.struct(
                    i.alias("i"), F.xxhash64(F.substring(t, i, _SPAN_W)).alias("h")
                ),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.i").cast("int").alias("i"), F.col("p.h").alias("h"))
    wh = Window.partitionBy("h")
    dup = win.select(
        "doc_id",
        "i",
        (F.min("doc_id").over(wh) != F.max("doc_id").over(wh)).alias("dup"),
    ).filter(F.col("dup"))
    wd = Window.partitionBy("doc_id").orderBy(F.col("i").asc())
    isl = dup.select(
        "doc_id", "i", (F.col("i") - _SPAN_S * F.row_number().over(wd)).alias("grp")
    )
    return isl.groupBy("doc_id", "grp").agg(
        F.min("i").cast("int").alias("span_start"),
        (F.max("i") + F.lit(_SPAN_W - 1)).cast("int").alias("span_end"),
        (F.max("i") + F.lit(_SPAN_W - 1) - F.min("i") + F.lit(1))
        .cast("bigint")
        .alias("span_chars"),
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
    ).drop("grp")


@defquery(
    "dedup_spans_incremental",
    f"""
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents),
    win AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             substr(t, CAST(i AS INT), {_SPAN_W}) AS w
      FROM norm,
           unnest(range(1, greatest(len(t) - {_SPAN_W} + 1, 1) + 1, {_SPAN_S})) u(i)),
    shared AS (
      SELECT w FROM win GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
    dup AS (SELECT doc_id, i FROM win JOIN shared USING (w)),
    isl AS (
      SELECT doc_id, i,
             i - {_SPAN_S} * row_number() OVER (PARTITION BY doc_id ORDER BY i ASC) AS grp
      FROM dup)
    SELECT doc_id,
           CAST(min(i) AS INT) AS span_start,
           CAST(max(i) + {_SPAN_W - 1} AS INT) AS span_end,
           CAST(max(i) + {_SPAN_W - 1} - min(i) + 1 AS BIGINT) AS span_chars,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, grp
    """,
    "the cut list MAINTAINED ACROSS INGEST BATCHES (SURVEY round-9 "
    "#2) — the incremental difficulty dedup_substring_spans doesn't "
    "face: duplication is GLOBAL, so a new batch can change the spans "
    "of already-stored docs (a window unique yesterday becomes "
    "duplicated when today's doc repeats it). The store answers "
    "append-only: window postings written once per doc (tokenize-once "
    "amortization), and each batch recomputes spans for exactly the "
    "docs holding a hash the batch made shared — bounded by content "
    "overlap with the batch, never the corpus — appending a fresh "
    "REVISION; serving takes each doc's latest revision using the "
    "manifest order as the revision clock, one scan, no window "
    "recomputation. Spans only grow (shared-status never reverts "
    "absent deletes), so revisions are monotone. Oracle = the "
    "from-scratch cut list: the hash proves revision supersession "
    "serves exactly the batch answer under this three-way slicing.",
)
def dedup_spans_incremental_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("span_store", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    DD.dedup_incremental_spans(spark, path, d.filter(src_num < 7))
    DD.dedup_incremental_spans(spark, path, d.filter((src_num >= 7) & (src_num < 14)))
    DD.dedup_incremental_spans(spark, path, d.filter(src_num >= 14))
    return DD.read_incremental_spans(spark, path)


@defquery(
    "dedup_spans_deleted",
    f"""
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents WHERE NOT (doc_id % 6 = 1)),
    win AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             substr(t, CAST(i AS INT), {_SPAN_W}) AS w
      FROM norm,
           unnest(range(1, greatest(len(t) - {_SPAN_W} + 1, 1) + 1, {_SPAN_S})) u(i)),
    shared AS (
      SELECT w FROM win GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
    dup AS (SELECT doc_id, i FROM win JOIN shared USING (w)),
    isl AS (
      SELECT doc_id, i,
             i - {_SPAN_S} * row_number() OVER (PARTITION BY doc_id ORDER BY i ASC) AS grp
      FROM dup)
    SELECT doc_id,
           CAST(min(i) AS INT) AS span_start,
           CAST(max(i) + {_SPAN_W - 1} AS INT) AS span_end,
           CAST(max(i) + {_SPAN_W - 1} - min(i) + 1 AS BIGINT) AS span_chars,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, grp
    """,
    "takedown for the SPAN store — the decremental case the "
    "append-only revisions cannot express: deleting a doc can "
    "UN-share windows, so surviving docs' spans must SHRINK (a doc "
    "whose only dup partner is taken down goes back to clean — the "
    "exact opposite of the monotone-growth invariant ingest relies "
    "on). delete_from_span_store answers with one crash-safe rewrite: "
    "drop the victims' postings and revisions, recompute the cut "
    "list over the survivors (one hash-group + island pass — the "
    "same O(store) class as the rewrite's own read+write), fold the "
    "revision history. Oracle = the from-scratch cut list over the "
    "corpus minus victims: the hash proves the shrinkage is exact "
    "and no deleted doc's content contributes a single shared "
    "window. Completes lifecycle parity (ingest / serve / compact / "
    "delete / time-travel-by-revision) for the fifth store kind.",
)
def dedup_spans_deleted_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("span_store_deleted", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    DD.dedup_incremental_spans(spark, path, d.filter(src_num < 7))
    DD.dedup_incremental_spans(spark, path, d.filter((src_num >= 7) & (src_num < 14)))
    DD.dedup_incremental_spans(spark, path, d.filter(src_num >= 14))
    victims = d.filter(F.col("doc_id") % 6 == 1).select("doc_id")
    DD.delete_from_span_store(spark, path, victims)
    return DD.read_incremental_spans(spark, path)


@defquery(
    "dedup_substring_rewrite",
    f"""
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents),
    win AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             substr(t, CAST(i AS INT), {_SPAN_W}) AS w
      FROM norm,
           unnest(range(1, greatest(len(t) - {_SPAN_W} + 1, 1) + 1, {_SPAN_S})) u(i)),
    shared AS (
      SELECT w FROM win GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
    dup AS (SELECT doc_id, i FROM win JOIN shared USING (w)),
    isl AS (
      SELECT doc_id, i,
             i - {_SPAN_S} * row_number() OVER (PARTITION BY doc_id ORDER BY i ASC) AS grp
      FROM dup),
    spans AS (
      SELECT doc_id, min(i) AS s, max(i) + {_SPAN_W - 1} AS e
      FROM isl GROUP BY doc_id, grp),
    segs AS (
      SELECT doc_id,
             COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s ASC) + 1, 1) AS st,
             s - COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s ASC) + 1, 1) AS ln
      FROM spans
      UNION ALL
      SELECT sp.doc_id, max(sp.e) + 1 AS st, greatest(len(n.t) - max(sp.e), 0) AS ln
      FROM spans sp JOIN norm n USING (doc_id) GROUP BY sp.doc_id, n.t),
    kept AS (
      SELECT s.doc_id,
             string_agg(substr(n.t, CAST(s.st AS INT), CAST(greatest(s.ln, 0) AS INT)),
                        '' ORDER BY s.st ASC) AS kt
      FROM segs s JOIN norm n USING (doc_id) GROUP BY s.doc_id),
    nsp AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id)
    SELECT n.doc_id,
           CAST(COALESCE(c.n_spans, 0) AS BIGINT) AS n_cut_spans,
           CAST(len(COALESCE(k.kt, n.t)) AS BIGINT) AS kept_chars,
           CAST(len(n.t) - len(COALESCE(k.kt, n.t)) AS BIGINT) AS cut_chars,
           md5(COALESCE(k.kt, n.t)) AS kept_fp
    FROM norm n
    LEFT JOIN kept k USING (doc_id)
    LEFT JOIN nsp c USING (doc_id)
    """,
    "the REWRITE pass that consumes dedup_substring_spans' cut list — "
    "closing the Lee et al. loop from detection to output (the paper "
    "cuts duplicated regions and keeps the rest; dropping whole docs "
    "measurably hurts): per doc the kept text is the ordered "
    "concatenation of inter-span segments (lag over the sorted "
    "maximal spans gives each segment's start; the tail segment "
    "clamps at doc end — spans are non-overlapping by construction "
    "because islands break only past one stride). The output carries "
    "the kept-text md5 FINGERPRINT plus cut/kept char accounting, so "
    "the hash proves byte-exact surgery, not just counts. Spark "
    "mirrors the identical window/segment/concat op order; the "
    "ordered concat is aggregate() over the sort_array'd segment "
    "structs — deterministic under any partitioning. At 100 TB the "
    "rewrite touches each doc once, joins only the span table "
    "(proportional to duplicated text), and emits the training-ready "
    "corpus revision.",
)
def dedup_substring_rewrite_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    norm = freeze(d.select("doc_id", t.alias("t")))
    spans = dedup_substring_spans_q(spark, sf_dir).select(
        "doc_id",
        F.col("span_start").alias("s"),
        F.col("span_end").alias("e"),
    )
    wd = Window.partitionBy("doc_id").orderBy(F.col("s").asc())
    segs_body = spans.select(
        "doc_id",
        F.coalesce(F.lag("e").over(wd) + 1, F.lit(1)).alias("st"),
        (F.col("s") - F.coalesce(F.lag("e").over(wd) + 1, F.lit(1))).alias("ln"),
    )
    segs_tail = (
        spans.groupBy("doc_id")
        .agg(F.max("e").alias("me"))
        .join(norm.select("doc_id", F.length("t").alias("L")), "doc_id")
        .select(
            "doc_id",
            (F.col("me") + 1).alias("st"),
            F.greatest(F.col("L") - F.col("me"), F.lit(0)).alias("ln"),
        )
    )
    segs = segs_body.unionByName(segs_tail)
    seg_txt = segs.join(norm, "doc_id").select(
        "doc_id",
        "st",
        F.substring(
            F.col("t"), F.col("st"), F.greatest(F.col("ln"), F.lit(0))
        ).alias("seg"),
    )
    kept = seg_txt.groupBy("doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("st", "seg"))),
            F.lit(""),
            lambda acc, x: F.concat(acc, x["seg"]),
        ).alias("kt"),
        F.count(F.lit(1)).alias("n_segs"),
    )
    nsp = spans.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    out_t = F.coalesce(F.col("kt"), F.col("t"))
    return (
        norm.join(kept, "doc_id", "left")
        .join(nsp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_cut_spans"),
            F.length(out_t).cast("bigint").alias("kept_chars"),
            (F.length("t") - F.length(out_t)).cast("bigint").alias("cut_chars"),
            F.md5(out_t).alias("kept_fp"),
        )
    )


# ------------------------------------------------------------------
# 2. Domain-mixture resampling (target source distribution)
# ------------------------------------------------------------------

# Target mixture as INTEGER per-10000 weights (so every quota decision
# is integer arithmetic — no float boundary can disagree between
# engines).  A real pipeline reads this from curation config; the
# shape here (head-heavy over 20 sources) mirrors the usual
# web-heavy / curated-tail mixtures.
_MIX_W = {
    "src0": 1200, "src1": 1000, "src2": 1000, "src3": 800, "src4": 800,
    "src5": 600, "src6": 600, "src7": 500, "src8": 500, "src9": 400,
    "src10": 400, "src11": 400, "src12": 300, "src13": 300, "src14": 300,
    "src15": 300, "src16": 200, "src17": 200, "src18": 100, "src19": 100,
}
assert sum(_MIX_W.values()) == 10_000

_MIX_VALUES_SQL = ", ".join(f"('{s}', {w})" for s, w in _MIX_W.items())


@defquery(
    "domain_mixture_resample",
    f"""
    WITH tgt(source, w) AS (VALUES {_MIX_VALUES_SQL}),
    counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    feas AS (
      SELECT CAST(min(CAST(floor(c.n * 10000.0 / t.w) AS BIGINT)) AS BIGINT) AS T
      FROM counts c JOIN tgt t ON c.source = t.source),
    quota AS (
      SELECT c.source, c.n, t.w,
             CAST(floor(t.w * f.T / 10000.0) AS BIGINT) AS k
      FROM counts c JOIN tgt t ON c.source = t.source CROSS JOIN feas f),
    ranked AS (
      SELECT d.source, d.doc_id,
             row_number() OVER (
               PARTITION BY d.source
               ORDER BY md5('42:' || CAST(d.doc_id AS VARCHAR)) ASC, d.doc_id ASC) AS rk
      FROM documents d),
    kept AS (
      SELECT r.source, count(*) AS n_kept
      FROM ranked r JOIN quota q ON r.source = q.source AND r.rk <= q.k
      GROUP BY r.source)
    SELECT q.source, CAST(q.n AS BIGINT) AS n_total, q.w AS target_w,
           CAST(coalesce(k2.n_kept, 0) AS BIGINT) AS n_kept,
           round(coalesce(k2.n_kept, 0) /
                 CAST(SUM(coalesce(k2.n_kept, 0)) OVER () AS DOUBLE), 6) AS achieved_frac
    FROM quota q LEFT JOIN kept k2 ON q.source = k2.source
    """,
    "domain-mixture resampling: given integer target weights per "
    "source (parts per 10000), find the largest total T for which "
    "every source can meet its share (T = min over sources of "
    "floor(n*10000/w)), downsample each source to its integer quota "
    "floor(w*T/10000) by deterministic md5-rank, and report achieved "
    "vs target mixture. All quota boundaries are integer arithmetic; "
    "membership is content-hash rank, so the kept set survives "
    "re-runs, repartitioning and AQE (same contract as "
    "sample_k_per_group). PRECONDITION (revenue_share_window class): "
    "the rank window partitions on source — exact per-source quotas "
    "need a per-source ordered rank, so a 100 TB corpus with few "
    "sources sorts each source in one task. The production swap keeps "
    "the same config and oracle: threshold sampling (keep if "
    "md5 < quota/n-derived hex cut) is O(1)/row and hits the quota "
    "within ±O(sqrt(n)); a second refinement pass on the boundary "
    "bucket makes it exact without a global sort.",
)
def domain_mixture_resample_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tgt = local_df(
        spark, [(s, w) for s, w in _MIX_W.items()], "source string, w int"
    )
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    ct = counts.join(F.broadcast(tgt), "source")
    feas = ct.agg(
        F.min(F.floor(F.col("n") * 10000.0 / F.col("w")).cast("bigint")).alias("T")
    )
    quota = ct.crossJoin(F.broadcast(feas)).select(
        "source",
        "n",
        "w",
        F.floor(F.col("w") * F.col("T") / 10000.0).cast("bigint").alias("k"),
    )
    rk_w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("42:"), F.col("doc_id").cast("string"))).asc(),
        F.col("doc_id").asc(),
    )
    ranked = d.select("source", "doc_id", F.row_number().over(rk_w).alias("rk"))
    kept = (
        ranked.join(F.broadcast(quota.select("source", "k")), "source")
        .filter(F.col("rk") <= F.col("k"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    out = quota.join(kept, "source", "left").select(
        "source",
        F.col("n").cast("bigint").alias("n_total"),
        F.col("w").alias("target_w"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
    )
    tot_w = Window.partitionBy()
    return out.withColumn(
        "achieved_frac",
        F.round(F.col("n_kept") / F.sum("n_kept").over(tot_w).cast("double"), 6),
    )


# ------------------------------------------------------------------
# 3. BPE merge candidates (first tokenizer-training iteration)
# ------------------------------------------------------------------


@defquery(
    "bpe_merge_pairs",
    r"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                w -> w <> '')) AS word
      FROM documents),
    vocab AS (SELECT word, count(*) AS freq FROM tok GROUP BY word),
    pairs AS (
      SELECT substr(word, CAST(i AS INT), 2) AS pair, freq
      FROM vocab, unnest(range(1, greatest(len(word) - 1, 0) + 1)) u(i))
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair ASC LIMIT 40
    """,
    "BPE merge-candidate counting — the inner loop of tokenizer "
    "training: frequency of every adjacent symbol pair, weighted by "
    "word frequency; the top pair is the next merge. The scale shape "
    "is the point: pairs explode over the VOCABULARY (distinct words, "
    "Heaps-law bounded) weighted by freq, not over corpus positions — "
    "the corpus-sized pass is one word-count hash aggregate with "
    "map-side partials, and everything after is vocab-sized. "
    "Character semantics (substr/len) are codepoint-based in both "
    "engines, so CJK pairs count identically. Top-40 with unique "
    "(n DESC, pair ASC) tie-break.",
)
def bpe_merge_pairs_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda w: w != "",
            )
        ).alias("word")
    )
    vocab = tok.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    # Guard 1-char words: Spark's sequence(1, 0) is the DESCENDING
    # array [1, 0] (see common_event_paths), which would inject
    # spurious 1-char "pairs" — emit an empty array instead, matching
    # the oracle's empty range(1, ...+1).
    pairs = vocab.select(
        F.explode(
            F.when(
                F.length("word") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.substring(F.col("word"), i, 2),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(40)
    )


# ------------------------------------------------------------------
# 4. Bigram-LM fluency deciles (perplexity-proxy quality bucketing)
# ------------------------------------------------------------------


@defquery(
    "fluency_bigram_deciles",
    r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                 w -> w <> '') AS ws
      FROM documents),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                    i -> {w1: ws[i], w2: ws[i+1]})) AS p
      FROM toks),
    occ AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM big),
    cnt AS (SELECT w1, w2, count(*) AS n FROM occ GROUP BY w1, w2),
    uni AS (SELECT w1, SUM(n) AS n1 FROM cnt GROUP BY w1),
    v AS (SELECT count(DISTINCT word) AS vs
          FROM (SELECT unnest(ws) AS word FROM toks)),
    scored AS (
      SELECT o.doc_id,
             CAST(round(ln((c.n + 1.0) / (u.n1 + v.vs)), 6) AS DECIMAL(18,8)) AS lp
      FROM occ o
      JOIN cnt c ON o.w1 = c.w1 AND o.w2 = c.w2
      JOIN uni u ON o.w1 = u.w1
      CROSS JOIN v),
    per_doc AS (
      SELECT doc_id,
             round(CAST(AVG(lp) AS DOUBLE), 6) AS score
      FROM scored GROUP BY doc_id),
    deciled AS (
      SELECT doc_id, score,
             ntile(10) OVER (ORDER BY score ASC, doc_id ASC) AS decile
      FROM per_doc)
    SELECT CAST(decile AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(AVG(CAST(score AS DECIMAL(18,8))) AS DOUBLE), 6) AS avg_score,
           round(CAST(min(score) AS DOUBLE), 6) AS min_score,
           round(CAST(max(score) AS DOUBLE), 6) AS max_score
    FROM deciled GROUP BY decile
    """,
    "bigram-LM fluency deciles: per-doc mean log P(w2|w1) under the "
    "corpus bigram model with add-one smoothing (all-integer counts "
    "inside the log; per-pair logs rounded then DECIMAL-averaged so "
    "both engines agree bit-for-bit — text_unigram_logprob's recipe), "
    "then docs ntile(10)-bucketed by fluency with per-decile count / "
    "avg / min / max. The bottom decile is the perplexity-filter cut "
    "a curation pipeline drops. Scale shape: bigram occurrences join "
    "the vocab²-bounded count table (broadcast here; sort-merge on w1 "
    "at 100 TB) — no corpus×corpus stage; the decile window runs over "
    "one row per DOC (score), the same post-aggregate-rows "
    "precondition as vocab_coverage_cutoff, and ntile needs a total "
    "order so production replaces it with fixed score-range buckets "
    "or approx percentile boundaries at scale.",
)
def fluency_bigram_deciles_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda w: w != ""
    )
    base = d.select("doc_id", toks.alias("ws"))
    occ = base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("ws"), 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                F.slice(F.col("ws"), 2, F.greatest(F.size("ws") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    cnt = occ.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    uni = cnt.groupBy("w1").agg(F.sum("n").alias("n1"))
    vocab_size = base.select(F.explode("ws").alias("word")).agg(
        F.countDistinct("word").alias("vs")
    )
    scored = (
        occ.join(F.broadcast(cnt), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(vocab_size))
        .select(
            "doc_id",
            F.round(F.log((F.col("n") + 1.0) / (F.col("n1") + F.col("vs"))), 6)
            .cast("decimal(18,8)")
            .alias("lp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.round(F.avg("lp").cast("double"), 6).alias("score")
    )
    dec_w = Window.orderBy(F.col("score").asc(), F.col("doc_id").asc())
    deciled = per_doc.select(
        "doc_id", "score", F.ntile(10).over(dec_w).alias("decile")
    )
    return deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg(F.col("score").cast("decimal(18,8)")).cast("double"), 6).alias(
            "avg_score"
        ),
        F.round(F.min("score").cast("double"), 6).alias("min_score"),
        F.round(F.max("score").cast("double"), 6).alias("max_score"),
    )


# ------------------------------------------------------------------
# 5. Copy-on-write MERGE (upsert) sink round-trip
# ------------------------------------------------------------------


@defquery(
    "sink_merge_upsert",
    """
    WITH base AS (
      SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders),
    upd AS (
      SELECT o_orderkey, o_year, CAST(price + 100.00 AS DECIMAL(18,2)) AS price
      FROM base WHERE o_year = 1998 AND o_orderkey % 3 = 0),
    ins AS (
      SELECT o_orderkey + 100000000 AS o_orderkey, o_year,
             CAST(500.00 AS DECIMAL(18,2)) AS price
      FROM base WHERE o_year = 1998 AND o_orderkey % 10 = 0),
    merged AS (
      SELECT * FROM base WHERE NOT (o_year = 1998 AND o_orderkey % 3 = 0)
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM ins)
    SELECT o_year, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(price) AS DOUBLE) AS total,
           CAST(SUM(CASE WHEN o_orderkey >= 100000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inserted
    FROM merged GROUP BY o_year
    """,
    "copy-on-write MERGE (upsert) into a hive-partitioned parquet "
    "table — the CDC/SCD ingest primitive every warehouse needs: "
    "orders snapshotted partitioned by year, then a change batch "
    "(updates = +100.00 on a third of 1998's orders, inserts = new "
    "keys for a tenth) merged in. Only the 1998 partition is read or "
    "rewritten: the affected-partition list (bounded by partition "
    "count) prunes the base scan, survivors come from a left-anti "
    "join over that partition alone, and the write uses "
    "partitionOverwriteMode=dynamic so 1995-1997/1999-2001 files are "
    "untouched — the property that makes MERGE affordable when the "
    "table is 100 TB and the change batch touches one day. The "
    "oracle reconstructs the merged state relationally from the "
    "original table, so a lossy merge (dropped survivors, doubled "
    "updates, mangled partition values) fails the hash compare. See "
    "sources/sinks.py::merge_upsert for the one-write commit and its "
    "per-partition delete+rename exposure window (a log-based table "
    "format replaces it with a metadata swap).",
)
def sink_merge_upsert_q(spark, sf_dir):
    from .queries_ext import _sink_dir
    from .sources.sinks import merge_upsert

    base_path = _sink_dir("orders_merge_base", sf_dir)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    # fresh snapshot each run (idempotent re-runs)
    o.write.mode("overwrite").partitionBy("o_year").parquet(base_path)

    upd = o.filter((F.col("o_year") == 1998) & (F.col("o_orderkey") % 3 == 0)).select(
        "o_orderkey",
        "o_year",
        (F.col("price") + F.lit(100).cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("price"),
    )
    ins = o.filter((F.col("o_year") == 1998) & (F.col("o_orderkey") % 10 == 0)).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_year",
        F.lit(500).cast("decimal(18,2)").alias("price"),
    )
    merge_upsert(
        spark,
        base_path,
        upd.unionByName(ins),
        keys=["o_orderkey"],
        partition_col="o_year",
    )
    back = spark.read.parquet(base_path)
    return back.groupBy("o_year").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("price").cast("double").alias("total"),
        F.sum((F.col("o_orderkey") >= 100000000).cast("int")).cast("bigint").alias("n_inserted"),
    )


# ------------------------------------------------------------------
# 6. Streaming trailing-window extremes (stateful chunked carry)
# ------------------------------------------------------------------


@defquery(
    "streaming_rolling_extremes",
    """
    WITH s AS (
      SELECT event_id, event_type, value,
             max(value) OVER w AS mx, min(value) OVER w AS mn,
             count(*) OVER w AS n
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING))
    SELECT event_id, event_type, value,
           CASE WHEN value > mx THEN 'high' ELSE 'low' END AS kind
    FROM s WHERE n >= 30 AND (value > mx OR value < mn)
    """,
    "REAL stateful streaming: trailing-100 extreme detection per "
    "event_type via applyInPandasWithState — an event is flagged when "
    "it exceeds the max/min of the previous 100 events of its type "
    "(30-event warm-up, never its own value). This implements the "
    "chunked-carry production swap that rolling_zscore_events' "
    "docstring names for low-cardinality window partitions: the "
    "per-key STATE carries the trailing-window summary across "
    "micro-batch boundaries instead of sorting a key's entire history "
    "in one task. min/max comparisons are exact (no float "
    "accumulation), so the batch window-frame query is a bit-exact "
    "oracle — batch/stream semantic parity is hash-verified, not "
    "assumed.",
)
def streaming_rolling_extremes_q(spark, sf_dir):
    from .sources.readers import events_stream
    from .streaming.stateful import rolling_extremes

    sdf = events_stream(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    out = rolling_extremes(
        sdf, key_cols=["event_type"], ts_col="ts", order_col="event_id", value_col="value"
    )
    run_to_memory_sink(out, "q_streaming_rolling_extremes", output_mode="append")
    return spark.table("q_streaming_rolling_extremes")


# ------------------------------------------------------------------
# 7. Small-file compaction + sorted-write data skipping round-trips
# ------------------------------------------------------------------


@defquery(
    "sink_compaction_roundtrip",
    """
    SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
    "small-file compaction round-trip: documents written as 64 tiny "
    "files (the micro-batch-ingest accretion pattern), compacted by "
    "sinks.compact_small_files into ceil(bytes/target) files — file "
    "count sized from the ACTUAL byte total, never a guessed "
    "partition count — then read back and aggregated. The oracle over "
    "the original table catches any row lost or doubled by the "
    "rewrite; test_compaction_reduces_file_count pins the file-count "
    "drop. At 100 TB compaction runs per hive partition so cost "
    "tracks churn, not table size (see the helper's docstring).",
)
def sink_compaction_roundtrip_q(spark, sf_dir):
    from .queries_ext import _sink_dir
    from .sources.sinks import compact_small_files

    path = _sink_dir("documents_compact", sf_dir)
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    d.repartition(64).write.mode("overwrite").parquet(path)
    compact_small_files(spark, path, target_bytes=64 * 1024 * 1024)
    back = spark.read.parquet(path)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@defquery(
    "sink_sorted_skipping_roundtrip",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-15'
    GROUP BY event_type
    """,
    "sorted-write data-skipping round-trip: events rewritten "
    "range-partitioned + sorted on ts (sinks.write_sorted), then a "
    "five-day range scan aggregated per type. The sorted layout is "
    "what turns parquet min/max row-group stats into real pruning — "
    "test_sorted_write_skips_row_groups measures the row-group "
    "overlap fraction sorted vs unsorted on the actual footers. The "
    "oracle runs the same filter on the original table, so the "
    "rewrite must be lossless and the ts order-preserving. Values are "
    "cast to DECIMAL(18,6) before the SUM so accumulation is exact "
    "and order-insensitive in both engines (a raw double SUM differs "
    "across partial-aggregation orders).",
)
def sink_sorted_skipping_roundtrip_q(spark, sf_dir):
    from .queries_ext import _sink_dir
    from .sources.sinks import write_sorted

    path = _sink_dir("events_sorted", sf_dir)
    e = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    write_sorted(e, path, range_col="ts", n_files=16)
    back = spark.read.parquet(path)
    return (
        back.filter(
            (F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


# ------------------------------------------------------------------
# 8. Incremental aggregate maintenance (materialized-view refresh)
# ------------------------------------------------------------------


@defquery(
    "incremental_agg_refresh",
    """
    SELECT CAST(day(ts) AS INT) AS d, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    "incremental aggregate maintenance (materialized-view refresh): a "
    "per-(day, event_type) aggregate table is built from the first 20 "
    "days, then a delta batch arrives — the remaining days PLUS late "
    "data for day 19 — and only the delta's day-partitions are "
    "re-aggregated and merge-upserted (new keys insert, existing keys "
    "replaced by combined partials). The oracle is the from-scratch "
    "aggregate over ALL events: the refreshed table must be "
    "bit-identical to it, which holds because the stored partials "
    "(count, DECIMAL sum) are SUM-mergeable under any arrival "
    "grouping — the same property behind Spark's own map-side "
    "combine. At 100 TB the nightly refresh is O(delta's days), not "
    "O(table); avg/stddev are maintained as sum+count partials, never "
    "stored directly.",
)
def incremental_agg_refresh_q(spark, sf_dir):
    from .queries_ext import _sink_dir
    from .sources.sinks import refresh_incremental_agg

    agg_path = _sink_dir("events_daily_agg", sf_dir)
    e = _t(spark, sf_dir, "events").select(
        F.dayofmonth("ts").cast("int").alias("d"),
        "event_type",
        "event_id",
        F.col("value").cast("decimal(18,6)").alias("v"),
    )

    def agg(df):
        return df.groupBy("d", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast("decimal(18,6)").alias("sum_value"),
        )

    # base load: days 1-20, minus a slice of day 19 that arrives late
    late = (F.col("d") == 19) & (F.col("event_id") % 7 == 0)
    base = e.filter((F.col("d") <= 20) & ~late)
    agg(base).write.mode("overwrite").partitionBy("d").parquet(agg_path)

    # delta batch: days 21+ plus the late day-19 slice
    delta = e.filter((F.col("d") > 20) | late)
    refresh_incremental_agg(
        spark,
        agg_path,
        agg(delta),
        keys=["d", "event_type"],
        partition_col="d",
        merge_cols=["n", "sum_value"],
    )
    back = spark.read.parquet(agg_path)
    return back.select(
        "d", "event_type", "n", F.col("sum_value").cast("double").alias("sum_value")
    )


# ------------------------------------------------------------------
# Round 6: context-window chunking + deterministic epoch shuffle
# ------------------------------------------------------------------

_CHUNK_C = 128  # tokens per chunk (the training context window)
_CHUNK_S = 96   # stride (32-token overlap between adjacent chunks)


@defquery(
    "doc_chunking_overlap",
    f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n
      FROM documents),
    k AS (
      SELECT doc_id, source, n,
             CASE WHEN n <= {_CHUNK_C} THEN 1
                  ELSE 1 + (n - {_CHUNK_C} + {_CHUNK_S - 1}) // {_CHUNK_S} END AS n_chunks
      FROM toks WHERE n > 0)
    SELECT doc_id, source,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * {_CHUNK_S} AS BIGINT) AS start_tok,
           CAST(least({_CHUNK_C}, n - i * {_CHUNK_S}) AS BIGINT) AS chunk_len
    FROM k, unnest(range(0, n_chunks)) u(i)
    """,
    "context-window chunking for LLM training/RAG: every document is "
    "split into 128-token chunks at stride 96 (32-token overlap so no "
    "span longer than the stride is lost at a boundary); the final "
    "chunk is short rather than overrunning the document. Emits token "
    "SPANS (doc_id, chunk_idx, start, len), not materialized text — "
    "the production shape, where the chunk text is sliced lazily at "
    "read time and the chunk table stays narrow. Pure integer "
    "arithmetic (count, div, least) so the oracle is exact; the plan "
    "is a single narrow scan + explode with ZERO exchanges — "
    "corpus-linear and embarrassingly parallel at any scale.",
)
def doc_chunking_overlap_q(spark, sf_dir):
    from .functions.text import token_count

    C, S = _CHUNK_C, _CHUNK_S
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("n")
    )
    k = d.filter(F.col("n") > 0).withColumn(
        "n_chunks",
        F.when(F.col("n") <= C, F.lit(1)).otherwise(
            F.lit(1) + F.expr(f"(n - {C} + {S - 1}) div {S}")
        ),
    )
    return (
        k.select(
            "doc_id",
            "source",
            "n",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "source",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            (F.col("chunk_idx") * S).cast("bigint").alias("start_tok"),
            F.least(F.lit(C), F.col("n") - F.col("chunk_idx") * S)
            .cast("bigint")
            .alias("chunk_len"),
        )
    )


_EPOCH_SEED = "epoch7"
_EPOCH_SHARDS = 32


@defquery(
    "dataset_epoch_shuffle",
    f"""
    WITH h AS (
      SELECT doc_id,
             md5(concat('{_EPOCH_SEED}:', CAST(doc_id AS VARCHAR))) AS hx
      FROM documents)
    SELECT doc_id,
           CAST(CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % {_EPOCH_SHARDS} AS BIGINT) AS shard,
           CAST(row_number() OVER (
                 PARTITION BY CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % {_EPOCH_SHARDS}
                 ORDER BY hx, doc_id) AS BIGINT) AS pos
    FROM h
    """,
    "deterministic epoch shuffle for training-data loading: every doc "
    "gets a (shard, position) for one epoch from a seeded md5 — the "
    "seed string IS the epoch, so re-running an epoch reproduces the "
    "exact order (resumable training) and each epoch permutes "
    "independently. One hash projection + one window per shard: the "
    "within-shard sort is precisely the work a shard writer needs "
    "anyway (each shard is written in hash order). Shard count is a "
    "deployment parameter that scales with the writer fleet at 100 TB "
    "(32 here); md5-hex ordering is engine-portable, unlike xxhash64.",
)
def dataset_epoch_shuffle_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    hx = F.md5(F.concat(F.lit(_EPOCH_SEED + ":"), F.col("doc_id").cast("string")))
    h = d.select("doc_id", hx.alias("hx")).withColumn(
        "shard",
        (F.conv(F.substring("hx", 1, 8), 16, 10).cast("bigint") % _EPOCH_SHARDS).cast(
            "bigint"
        ),
    )
    w = Window.partitionBy("shard").orderBy("hx", "doc_id")
    return h.select(
        "doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos")
    )


_FILE_TOKEN_BUDGET = 4096


@defquery(
    "token_budget_file_splits",
    f"""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n
      FROM documents),
    c AS (
      SELECT source, doc_id, n,
             SUM(n) OVER (ORDER BY source, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM toks)
    SELECT source, doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(cum AS BIGINT) AS cum_tokens,
           CAST((cum - n) // {_FILE_TOKEN_BUDGET} AS BIGINT) AS file_idx
    FROM c
    """,
    "order-preserving corpus sharding: every document gets its global "
    "running token total in (source, doc_id) order and the index of "
    "the ~4096-token output file its first token lands in — the "
    "assignment a sequential concatenating writer needs, computed "
    "WITHOUT the single-task global-order window SQL implies. The "
    "engine runs the classic two-pass distributed prefix-sum "
    "(operators/prefix.py): range partition + per-partition subtotals "
    "-> driver computes P starting offsets -> narrow partition-local "
    "pandas cumsum. The only exchange is the range partition; integer "
    "adds make the distributed result bit-identical to the oracle's "
    "sequential window.",
)
def token_budget_file_splits_q(spark, sf_dir):
    from .functions.text import token_count
    from .operators.prefix import prefix_sum

    d = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    c = prefix_sum(d, ["source", "doc_id"], "n_tokens", out_col="cum_tokens")
    return c.select(
        "source",
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "cum_tokens",
        F.expr(f"(cum_tokens - n_tokens) div {_FILE_TOKEN_BUDGET}").alias("file_idx"),
    )


# ------------------------------------------------------------------
# Round 6: incremental NEAR-dup admission (MinHash/LSH vs history)
# ------------------------------------------------------------------


def _incr_minhash_sql() -> str:
    from .queries import _SHINGLE_SQL

    return _SHINGLE_SQL + """,
ex AS MATERIALIZED (
  SELECT doc_id, CAST(substr(source, 4) AS INT) AS srcn,
         len(shingles) AS sz, unnest(shingles) AS shingle
  FROM sh JOIN documents USING (doc_id)),
hist AS (SELECT * FROM ex WHERE srcn < 15),
batch AS (SELECT * FROM ex WHERE srcn >= 15),
pairs AS (
  SELECT b.doc_id AS bid,
         count(*) / (any_value(b.sz) + any_value(h.sz) - count(*)) AS j
  FROM batch b JOIN hist h ON b.shingle = h.shingle
  GROUP BY b.doc_id, h.doc_id),
rejected AS (SELECT DISTINCT bid FROM pairs WHERE j >= 0.8)
SELECT s.doc_id, CAST(len(s.shingles) AS BIGINT) AS sz
FROM sh s JOIN documents d USING (doc_id)
WHERE CAST(substr(d.source, 4) AS INT) >= 15
  AND s.doc_id NOT IN (SELECT bid FROM rejected)
"""


@defquery(
    "dedup_incremental_minhash",
    _incr_minhash_sql(),
    "incremental NEAR-dup admission — the MinHash/LSH generalization "
    "of dedup_incremental_exact, and the loop a continuously-ingesting "
    "crawl dedup actually runs: the existing corpus (src0-src14) "
    "bootstraps a persisted index/payload signature store; the new "
    "batch (src15-src19) is admitted only where banded-LSH candidate "
    "generation + exact-Jaccard verification against the HISTORY finds "
    "no partner at >= 0.8. Per-batch cost is one signature pass over "
    "the batch + a band-key join against the (bucketed-at-scale) "
    "index + payload fetch for candidates only — never a recompute "
    "over accumulated corpus text. The oracle replays the admission "
    "from scratch as an exact cross-set Jaccard; LSH recall at 0.8 "
    "with 16x4 banding is ~1-2e-3 per qualifying pair, the same "
    "documented regime as dedup_minhash_lsh (hash-green since r3).",
)
def dedup_incremental_minhash_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("minhash_history", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    corpus = d.filter(src_num < 15)
    batch = d.filter(src_num >= 15)
    DD.dedup_incremental_minhash(spark, path, corpus)  # bootstrap
    return DD.dedup_incremental_minhash(spark, path, batch)


# ------------------------------------------------------------------
# Round 6: leakage-safe split (duplicate group ⇒ same split)
# ------------------------------------------------------------------


def _leakage_split_sql() -> str:
    from .queries import _keep_sql

    return f"""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents),
    lab AS (
      SELECT doc_id, fp,
             CASE WHEN {_keep_sql('fp', 0.8)} THEN 'train'
                  WHEN {_keep_sql('fp', 0.9)} THEN 'val'
                  ELSE 'test' END AS split
      FROM fp),
    leak AS (
      SELECT CAST(coalesce(count(*), 0) AS BIGINT) AS n_leaky FROM (
        SELECT fp FROM lab GROUP BY fp HAVING count(DISTINCT split) > 1) t)
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_groups,
           leak.n_leaky AS n_leaky_groups_total
    FROM lab CROSS JOIN leak
    GROUP BY split, leak.n_leaky
    """


@defquery(
    "leakage_safe_split",
    _leakage_split_sql(),
    "train/val/test assignment keyed on the DUPLICATE-GROUP "
    "fingerprint, not the doc id: every exact duplicate of a document "
    "lands in the same split by construction, closing the "
    "eval-contamination hole a doc-id split leaves open (a test doc's "
    "twin in train = leaked labels). Same disjoint/exhaustive "
    "hash-bucket arithmetic as train_val_test_split, applied to "
    "md5(normalized text); the query emits its own leakage audit "
    "(n_leaky_groups_total, structurally 0) so the oracle re-proves "
    "the no-leak property cross-engine rather than trusting the "
    "construction. For NEAR-dup-safe splits, key on the "
    "connected-component root from dedup_clusters instead — same "
    "shape, pytest-pinned in test_cluster_aware_split_no_leakage.",
)
def leakage_safe_split_q(spark, sf_dir):
    from .functions.text import fingerprint
    from .operators.sampling import split_column

    d = _t(spark, sf_dir, "documents")
    lab = d.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
    ).select(
        "doc_id", "fp", split_column(F.col("fp"), {"train": 0.8, "val": 0.1, "test": 0.1})
    )
    leak = (
        lab.groupBy("fp")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("bigint").alias("n_leaky"))
    )
    return (
        lab.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("fp").cast("bigint").alias("n_groups"),
        )
        .crossJoin(F.broadcast(leak))
        .select("split", "n_docs", "n_groups", F.col("n_leaky").alias("n_leaky_groups_total"))
    )


# ------------------------------------------------------------------
# Round 6: streaming incremental dedup (the continuous-ingest loop)
# ------------------------------------------------------------------


@defquery(
    "streaming_incremental_dedup",
    """
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           min(doc_id) AS doc_id
    FROM documents GROUP BY 1
    """,
    "the continuous-ingest dedup loop END-TO-END through Structured "
    "Streaming: the corpus arrives as four id-ordered parquet chunks "
    "(mtimes set ascending so FileStreamSource's oldest-first order "
    "is deterministic), each micro-batch drains through foreachBatch "
    "into dedup_incremental_exact — dedup within the batch, anti-join "
    "against the persisted fingerprint history, append admitted fps — "
    "and admitted (fp, doc_id) rows land in a results table. Because "
    "chunks arrive in ascending id order, the admitted survivor per "
    "fingerprint is exactly the GLOBAL min doc_id, so the oracle is "
    "plain batch dedup over all documents: batch-boundary placement "
    "must not change the final table (same invariant class as "
    "streaming_merge_apply). Exactly-once: admission is materialized "
    "before the history append inside the operator, and the driver "
    "checkpoint makes each chunk's batch replay-safe.",
)
def streaming_incremental_dedup_q(spark, sf_dir):
    import shutil

    from .operators import dedup as DD
    from .queries_ext import _sink_dir

    srcdir = _sink_dir("stream_dedup_in", sf_dir)
    store = _sink_dir("stream_dedup_store", sf_dir)
    results = _sink_dir("stream_dedup_admitted", sf_dir)
    for p in (store, results):
        shutil.rmtree(p, ignore_errors=True)

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    max_id = d.agg(F.max("doc_id")).first()[0]  # 1-row driver scalar
    span = (max_id + 4) // 4
    chunks = [
        d.filter((F.col("doc_id") >= k * span) & (F.col("doc_id") < (k + 1) * span))
        for k in range(4)
    ]

    def apply_batch(bdf, batch_id):
        admitted = DD.dedup_incremental_exact(bdf.sparkSession, store, bdf)
        rebalanced(admitted.select("fp", "doc_id"), probe=True).write.mode("append").parquet(
            results
        )

    drain(replay_chunks(spark, srcdir, chunks, "doc_id bigint, text string"), apply_batch)
    return spark.read.parquet(results).select("fp", "doc_id")


# ------------------------------------------------------------------
# Round 6: time-decayed scoring (freshness-weighted curation priority)
# ------------------------------------------------------------------

_DECAY_TAU_S = 604800.0  # 7-day e-folding time


@defquery(
    "time_decayed_user_score",
    f"""
    WITH tm AS (SELECT max(ts) AS tmax FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(SUM(CAST(round(
               exp(-((epoch_us(tm.tmax) - epoch_us(ts)) / 1000000.0)
                   / {_DECAY_TAU_S}) * value, 9) AS DECIMAL(28,9)))
             AS DOUBLE), 6) AS score
    FROM events CROSS JOIN tm
    GROUP BY user_id
    """,
    "exponentially time-decayed per-user engagement score (7-day "
    "e-folding) — the freshness weighting a curation pipeline uses to "
    "prioritize recent activity without a hard cutoff. Cross-engine "
    "exactness despite libm exp and order-free distributed summation: "
    "each per-event term is QUANTIZED (round to 9) then accumulated "
    "as DECIMAL(28,9) — decimal addition is associative, so Spark's "
    "arbitrary partial-aggregation order and DuckDB's sequential scan "
    "produce the identical sum; the elapsed-time operand is built "
    "from integer microseconds with one double division, the same op "
    "order in both engines (the repo's round-late discipline, same "
    "class as text_unigram_logprob's ln handling). The global max-ts "
    "anchor is a broadcast 1-row aggregate.",
)
def time_decayed_user_score_q(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    tm = e.agg(F.max("ts").alias("tmax"))
    dt_s = (F.unix_micros(F.col("tmax")) - F.unix_micros(F.col("ts"))) / 1000000.0
    term = F.round(F.exp(-dt_s / _DECAY_TAU_S) * F.col("value"), 9).cast(
        "decimal(28,9)"
    )
    return (
        e.crossJoin(F.broadcast(tm))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum(term).cast("double"), 6).alias("score"),
        )
    )


@defquery(
    "dedup_incremental_embedding",
    """
    WITH h AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 <> 0),
    b AS (
      SELECT vec_id + 1000000 AS vec_id, embedding
      FROM embeddings WHERE vec_id % 10 = 1
      UNION ALL
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
    rej AS (
      SELECT DISTINCT b.vec_id FROM b JOIN h
      ON round(list_cosine_similarity(
           b.embedding::DOUBLE[], h.embedding::DOUBLE[]), 6) >= 0.9)
    SELECT CAST(b.vec_id AS BIGINT) AS vec_id FROM b
    WHERE b.vec_id NOT IN (SELECT vec_id FROM rej)
    """,
    "incremental EMBEDDING near-dup admission — the vector leg of the "
    "incremental-dedup family (exact: dedup_incremental_exact, text "
    "near-dup: dedup_incremental_minhash): 80% of the embedding table "
    "bootstraps a manifest-gated sign-LSH signature store; the ingest "
    "batch mixes exact copies of history vectors under new ids (cos "
    "1.0 — every banding bucket matches, certain rejection) with the "
    "held-out 20% (max cross-cosine 0.49 on this table — admitted). "
    "Candidates come from the banded bucket join against the index, "
    "exact-cosine verification fetches history vectors for candidates "
    "only, and the oracle replays admission from scratch as the "
    "all-pairs cross-set cosine. No 0.9-boundary pairs exist in the "
    "data, so LSH recall cannot blur the cross-engine comparison.",
)
def dedup_incremental_embedding_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("emb_history", sf_dir)
    e = _t(spark, sf_dir, "embeddings")
    hist = e.filter(F.col("vec_id") % 5 != 0).select("vec_id", "embedding")
    copies = e.filter(F.col("vec_id") % 10 == 1).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    fresh = e.filter(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    DD.dedup_incremental_embedding(spark, path, hist)  # bootstrap
    return DD.dedup_incremental_embedding(spark, path, copies.unionByName(fresh))


@defquery(
    "dedup_incremental_embedding_int8",
    """
    WITH hq AS (
      SELECT vec_id,
             CASE WHEN m = 0 THEN list_transform(emb, x -> 0.0)
                  ELSE list_transform(emb, x -> round(x * (127.0 / m))) END AS q
      FROM (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS m
        FROM embeddings WHERE vec_id % 5 <> 0)),
    b AS (
      SELECT vec_id + 1000000 AS vec_id, embedding
      FROM embeddings WHERE vec_id % 10 = 1
      UNION ALL
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
    rej AS (
      SELECT DISTINCT b.vec_id FROM b JOIN hq h
      ON round(list_cosine_similarity(
           b.embedding::DOUBLE[], h.q), 6) >= 0.9)
    SELECT CAST(b.vec_id AS BIGINT) AS vec_id FROM b
    WHERE b.vec_id NOT IN (SELECT vec_id FROM rej)
    """,
    "the 100 TB variant of dedup_incremental_embedding: the persisted "
    "payload stores each history vector symmetric-quantized to int8 "
    "(q_i = round(v_i * 127/max|v|), per-vector scale so batches need "
    "no shared range state), cutting verify-fetch bytes 4x; "
    "verification computes cosine against the RAW codes — cosine is "
    "scale-invariant per argument, so no dequantization on the hot "
    "path. Same banded sign-LSH candidates, same atomic _BATCHES "
    "manifest commit, and the store refuses mixed float/int8 usage as "
    "a parameter mismatch. The oracle replays the identical "
    "quantization (both engines round half-away-from-zero on doubles, "
    "and the quantized cosine's sums are integer-exact in IEEE "
    "doubles, so order cannot perturb the rounded compare). Admission "
    "parity with the float store is pytest-pinned at the same data "
    "(no 0.9-boundary pairs within quantization error).",
)
def dedup_incremental_embedding_int8_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("emb_history_int8", sf_dir)
    e = _t(spark, sf_dir, "embeddings")
    hist = e.filter(F.col("vec_id") % 5 != 0).select("vec_id", "embedding")
    copies = e.filter(F.col("vec_id") % 10 == 1).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    fresh = e.filter(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    DD.dedup_incremental_embedding(spark, path, hist, payload_int8=True)
    return DD.dedup_incremental_embedding(
        spark, path, copies.unionByName(fresh), payload_int8=True
    )


# ------------------------------------------------------------------
# Round 7: oracle-checkable ANN candidate generation
# ------------------------------------------------------------------

_KNN_CAND_PLANES = 6


def _md5_plane_coefs(planes: int, dim: int) -> list:
    """Deterministic sign-LSH hyperplanes shared bit-for-bit with the
    SQL oracle: coefficient (p, d) = md5(f"{p}:{d}") first 8 hex chars
    as an int, mod 255, minus 127 — an integer in [-127, 127]. hashlib
    md5 here computes the IDENTICAL value DuckDB's md5() computes in
    the oracle, the same trick dedup_simhash_md5 uses for tokens."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16) % 255 - 127
            for d in range(dim)
        ]
        for p in range(planes)
    ]


@defquery(
    "knn_lsh_candidates",
    f"""
    WITH dims AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
             unnest(embedding)::DOUBLE AS val,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS m
      FROM embeddings),
    q8 AS (
      SELECT vec_id, d,
             CASE WHEN m = 0 THEN 0
                  ELSE CAST(round(val * (127.0 / m)) AS BIGINT) END AS qv
      FROM dims),
    planes AS (
      SELECT p.p, d.d,
             CAST(('0x' || substr(md5(p.p || ':' || d.d), 1, 8)) AS BIGINT)
               % 255 - 127 AS c
      FROM (SELECT unnest(range(0, {_KNN_CAND_PLANES})) AS p) p
      CROSS JOIN (SELECT unnest(range(0, 64)) AS d) d),
    bits AS (
      SELECT q.vec_id, pl.p,
             CASE WHEN SUM(q.qv * pl.c) >= 0 THEN 1 ELSE 0 END AS bit
      FROM q8 q JOIN planes pl ON q.d = pl.d
      GROUP BY q.vec_id, pl.p),
    buckets AS (
      SELECT vec_id, CAST(SUM(bit << p) AS BIGINT) AS bucket
      FROM bits GROUP BY vec_id)
    SELECT q.vec_id AS query_id, c.vec_id, q.bucket
    FROM buckets q JOIN buckets c ON q.bucket = c.bucket
    WHERE q.vec_id < 5
    """,
    "ANN candidate generation in the cross-engine-VERIFIABLE form "
    "(the knn_lsh analog of dedup_simhash_md5): sign-LSH buckets "
    "whose hyperplanes are md5-derived INTEGER coefficients in "
    "[-127,127] applied to int8-quantized vectors, so every "
    "plane dot product is integer-exact in IEEE doubles — the sign, "
    "hence the bucket, hence the CANDIDATE SET is bit-deterministic "
    "regardless of summation order, which float hyperplanes can never "
    "guarantee at the 0-boundary. The oracle rebuilds the identical "
    "construction (DuckDB md5 = hashlib md5) from scratch. This "
    "upgrades the ANN family's gate story: knn_lsh's random float "
    "planes stay the production default (numpy-vectorized, "
    "recall-pinned in pytest), while THIS query proves the "
    "bucketing machinery end-to-end against an independent engine; "
    "distances within a bucket are already proven by knn_bruteforce. "
    "Ref parity: candidate-then-verify is the same two-phase shape as "
    "every LSH family member; 5 query vectors broadcast against the "
    "bucketed corpus — at 100 TB the corpus side is written bucketed "
    "so query batches join co-located.",
)
def knn_lsh_candidates_q(spark, sf_dir):
    from .functions.vector import symmetric_int8

    e = _t(spark, sf_dir, "embeddings")
    _, qvec = symmetric_int8(F.col("embedding"))
    coefs = _md5_plane_coefs(_KNN_CAND_PLANES, 64)
    q8 = e.select("vec_id", qvec.cast("array<bigint>").alias("qv"))
    bucket = None
    for p, row in enumerate(coefs):
        dot = F.aggregate(
            F.zip_with(
                F.col("qv"),
                F.array(*[F.lit(c).cast("long") for c in row]),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bit = F.when(dot >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, p)
        bucket = term if bucket is None else bucket + term
    b = q8.select("vec_id", bucket.alias("bucket"))
    qb = b.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    return qb.hint("broadcast").join(b, "bucket").select("query_id", "vec_id", "bucket")


@defquery(
    "dedup_incremental_minhash_compacted",
    _incr_minhash_sql(),
    "compaction-invariance proof at the gate: the SAME admission "
    "scenario as dedup_incremental_minhash, but the history store "
    "accumulates THREE committed batches (the full history, then two "
    "replays whose docs are all rejected — committed as EMPTY batch "
    "directories, the shape an idle ingest cadence really produces) "
    "and is then compacted (compact_incremental_store: N batch=<tag> "
    "dirs -> 1 per table, atomic manifest republish, superseded dirs "
    "swept) BEFORE the ingest batch runs. Replay batches keep the "
    "store's CONTENT exactly equal to the single-batch store on ANY "
    "corpus (no reliance on near-dup transitivity across bootstrap "
    "splits), so the oracle is character-identical to the uncompacted "
    "query's — a hash match proves compaction changed the store's "
    "layout and NOTHING else. This is the maintenance operation a "
    "100 TB signature store needs on a cadence: without it every "
    "admission join opens one directory per ingest batch ever "
    "committed. (Cross-split bootstrap + compaction equivalence is "
    "separately pytest-pinned against an uncompacted twin store in "
    "test_compaction_preserves_admission.)",
)
def dedup_incremental_minhash_compacted_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("minhash_history_compacted", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    hist = d.filter(src_num < 15)
    DD.dedup_incremental_minhash(spark, path, hist)
    for parity in (0, 1):
        DD.dedup_incremental_minhash(
            spark, path, hist.filter(src_num % 2 == parity)
        )
    assert DD.compact_incremental_store(spark, path) == 3
    return DD.dedup_incremental_minhash(spark, path, d.filter(src_num >= 15))


# ------------------------------------------------------------------
# Round 7: tokenize-to-ids shard prep + hashed linear quality scoring
# ------------------------------------------------------------------


@defquery(
    "token_id_encoding",
    """
    WITH tok AS (
        SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS token
        FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
              FROM documents)),
    vocab AS (
        SELECT token,
               row_number() OVER (ORDER BY n DESC, token ASC) AS id
        FROM (SELECT token, count(*) AS n FROM tok GROUP BY token
              HAVING count(*) >= 5)),
    enc AS (
        SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS id
        FROM tok t LEFT JOIN vocab v ON t.token = v.token)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(pos * id) AS BIGINT) AS ids_checksum
    FROM enc GROUP BY doc_id
    """,
    "tokenize-to-ids shard preparation — the step that turns a curated "
    "corpus into training shards: the vocabulary is frequency-ranked "
    "(count >= 5 floor, ties broken by token — the same two-knob "
    "recipe as vocab_coverage_cutoff), each document's token stream "
    "becomes its id sequence (OOV -> 0), and the gate pins the FULL "
    "sequence per doc via the order-weighted integer checksum "
    "sum(pos * id) — any id at any position changing breaks the hash, "
    "without shipping 60k-wide arrays through the canonicalizer. "
    "Scale shape: the vocab is Heaps-law bounded and BROADCAST (its "
    "rank window runs over post-aggregate vocab rows, never corpus "
    "rows); encoding is a map-side broadcast-hash join + one partial "
    "agg on doc_id — the whole corpus is touched exactly once, all "
    "integer arithmetic.",
)
def token_id_encoding_q(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower("text")), r"\s+")).alias("pos0", "token"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") >= 5)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    vocab = counts.select("token", F.row_number().over(w).alias("id"))
    enc = tok.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos", F.coalesce("id", F.lit(0)).alias("id")
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("id") == 0, 1).otherwise(0)).cast("bigint").alias("n_oov"),
        F.sum(F.col("pos") * F.col("id")).cast("bigint").alias("ids_checksum"),
    )


_QC_BUCKETS = 1024


@defquery(
    "quality_classifier_hashed",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        FROM documents),
    feat AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('w:' ||
                 (CAST(('0x' || substr(md5(token), 1, 6)) AS BIGINT) % {_QC_BUCKETS})
               ), 1, 8)) AS BIGINT) % 2001 - 1000 AS w
        FROM tok)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(w) AS BIGINT) AS w_sum,
           round(1.0 / (1.0 + exp(-(CAST(SUM(w) AS DOUBLE)
                 / (1000.0 * count(*))))), 6) AS score
    FROM feat GROUP BY doc_id
    """,
    "hashed linear quality classifier — the fasttext-shaped scorer "
    "curation pipelines run over every crawl document: each token "
    "hashes to one of 1024 feature buckets (md5 -> bucket), each "
    "bucket carries a weight, the doc's logit is the mean bucket "
    "weight and the score its sigmoid. Weights here are md5-DERIVED "
    "INTEGERS in [-1000, 1000] (a deterministic stand-in — a trained "
    "model is just a different 1024-entry broadcast table; the "
    "architecture is identical), which makes the logit numerator an "
    "integer SUM — order-free under partial aggregation at any "
    "cluster size, so only ONE double division + exp + round happens "
    "per doc, in a fixed op order both engines replay. Whole pipeline "
    "is JVM expressions (md5 + conv + integer ops): corpus touched "
    "once, one partial agg, zero Python, zero joins.",
)
def quality_classifier_hashed_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token")
    )
    bucket = F.conv(F.substring(F.md5("token"), 1, 6), 16, 10).cast("bigint") % _QC_BUCKETS
    wgt = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("w:"), bucket.cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 2001
        - 1000
    )
    feat = tok.select("doc_id", wgt.alias("w"))
    return feat.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("w").cast("bigint").alias("w_sum"),
        F.round(
            1.0
            / (
                1.0
                + F.exp(
                    -(
                        F.sum("w").cast("double")
                        / (F.lit(1000.0) * F.count(F.lit(1)))
                    )
                )
            ),
            6,
        ).alias("score"),
    )


@defquery(
    "streaming_incremental_embedding",
    """
    WITH n AS (SELECT (max(vec_id) + 4) // 4 AS span FROM embeddings)
    SELECT CAST(vec_id AS BIGINT) AS vec_id FROM embeddings
    UNION ALL
    SELECT CAST(vec_id + 1000000 AS BIGINT) AS vec_id
    FROM embeddings, n WHERE vec_id % 10 = 1 AND vec_id >= 3 * span
    """,
    "the continuous-ingest loop for the VECTOR leg, end-to-end through "
    "Structured Streaming: the embedding table arrives as four "
    "id-ordered chunks (ascending mtimes, deterministic oldest-first "
    "source order), each micro-batch drains through foreachBatch into "
    "dedup_incremental_embedding against the persisted sign-LSH "
    "store. EXACT COPIES of every vec_id%10==1 vector ride along in "
    "the LAST chunk under shifted ids: copies whose original streamed "
    "in an earlier chunk are rejected (original is history — every "
    "banding bucket matches, cosine 1.0, certain rejection); copies "
    "whose original shares the last chunk are ADMITTED (admission is "
    "vs HISTORY only — the documented same-batch semantic, proved "
    "here at the gate rather than just documented). Originals all "
    "admit (max natural cross-cosine 0.49 on this table, no "
    "0.9-boundary pairs). The oracle is the closed-form admitted set; "
    "nothing in it depends on float summation or LSH luck, so the "
    "hash match pins the streaming loop's history semantics exactly.",
)
def streaming_incremental_embedding_q(spark, sf_dir):
    import shutil

    from .operators import dedup as DD
    from .queries_ext import _sink_dir

    srcdir = _sink_dir("stream_emb_in", sf_dir)
    store = _sink_dir("stream_emb_store", sf_dir)
    results = _sink_dir("stream_emb_admitted", sf_dir)
    for p in (store, results):
        shutil.rmtree(p, ignore_errors=True)

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    max_id = e.agg(F.max("vec_id")).first()[0]  # 1-row driver scalar
    span = (max_id + 4) // 4
    copies = e.filter(F.col("vec_id") % 10 == 1).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    chunks = [
        e.filter((F.col("vec_id") >= k * span) & (F.col("vec_id") < (k + 1) * span))
        for k in range(4)
    ]
    chunks[3] = chunks[3].unionByName(copies)

    def apply_batch(bdf, batch_id):
        admitted = DD.dedup_incremental_embedding(bdf.sparkSession, store, bdf)
        rebalanced(admitted, probe=True).write.mode("append").parquet(results)

    drain(replay_chunks(spark, srcdir, chunks, e.schema), apply_batch)
    return spark.read.parquet(results).select("vec_id")


@defquery(
    "boilerplate_ngram_coverage",
    """
    WITH base AS (
      SELECT doc_id, t, len(t) AS n FROM (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents)),
    sh AS (
      SELECT doc_id, n, u['pos'] AS pos, u['sh'] AS sh FROM (
        SELECT doc_id, n,
               unnest(list_transform(range(1, greatest(n - 7, 0) + 1),
                 i -> struct_pack(pos := i,
                                  sh := array_to_string(t[i:i+7], ' ')))) AS u
        FROM base)),
    hot AS (
      SELECT sh FROM sh GROUP BY sh HAVING count(DISTINCT doc_id) >= 3),
    cov AS (
      SELECT DISTINCT s.doc_id, s.pos + ofs.o AS cp
      FROM sh s JOIN hot USING (sh)
      CROSS JOIN (SELECT unnest(range(0, 8)) AS o) ofs),
    per_doc AS (
      SELECT doc_id, count(*) AS ncov FROM cov GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(b.n AS BIGINT) AS n_tokens,
           CAST(coalesce(p.ncov, 0) AS BIGINT) AS n_boilerplate_tokens,
           round(CAST(coalesce(p.ncov, 0) AS DOUBLE) / b.n, 6) AS boilerplate_frac
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """,
    "corpus-level boilerplate coverage — the C4/Gopher repeated-"
    "substring filter at 8-gram granularity: an 8-gram appearing in "
    ">= 3 DISTINCT documents is boilerplate (navigation chrome, "
    "license headers, templated text); each document reports how many "
    "of its token positions any hot 8-gram covers (interval union "
    "computed as distinct covered positions — exact, no double-count "
    "of overlapping occurrences) and the coverage fraction curation "
    "thresholds on. Plan: one shingle explode (corpus-linear), a hash "
    "agg for the hot set (bounded by true repetition volume, "
    "broadcast), one semi join + bounded 8x position explode + "
    "distinct — no all-pairs anywhere, the same df-cap shape as "
    "ngram_jaccard's index. Integer positions end-to-end; the single "
    "double division is the last op before round.",
)
def boilerplate_ngram_coverage_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t")
    ).withColumn("n", F.size("t"))
    # n < 8 must yield NO shingles: sequence(1, 0) would produce the
    # DESCENDING [1, 0] (and slice(t, 0, 8) throws), so gate on n >= 8
    # explicitly — matching the oracle's empty range()
    sh = base.select(
        "doc_id",
        "n",
        F.posexplode(
            F.expr(
                "CASE WHEN n >= 8 THEN transform(sequence(1, n - 7), "
                "i -> concat_ws(' ', slice(t, i, 8))) "
                "ELSE array() END"
            )
        ).alias("pos0", "sh"),
    ).select("doc_id", "n", (F.col("pos0") + 1).alias("pos"), "sh")
    hot = (
        sh.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 3)
        .select("sh")
    )
    cov = (
        sh.join(F.broadcast(hot), "sh")
        .select("doc_id", F.explode(F.expr("sequence(pos, pos + 7)")).alias("cp"))
        .distinct()
    )
    per_doc = cov.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ncov"))
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_tokens"),
            F.coalesce("ncov", F.lit(0)).cast("bigint").alias("n_boilerplate_tokens"),
            F.round(
                F.coalesce("ncov", F.lit(0)).cast("double") / F.col("n"), 6
            ).alias("boilerplate_frac"),
        )
    )


@defquery(
    "incremental_agg_retract",
    """
    WITH final_events AS (
      SELECT event_type, value FROM events
      WHERE user_id % 20 < 15 AND NOT (user_id % 5 = 2)
      UNION ALL
      SELECT event_type, value FROM events WHERE user_id % 20 >= 15)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS avg_value
    FROM final_events GROUP BY event_type
    """,
    "DELETION-AWARE incremental aggregate maintenance — the "
    "retraction half of CDC that incremental_agg_refresh (append-only) "
    "deliberately left out: a stored per-group partial-aggregate table "
    "(n, DECIMAL sum) absorbs a delta batch carrying BOTH inserts "
    "(+1) and retractions (-1, e.g. GDPR deletes or upstream "
    "corrections) as one signed merge — n' = n + Σsign, "
    "sum' = sum + Σ(sign·value) — with groups reaching n'=0 dropped. "
    "Because count and DECIMAL sum are abelian-group aggregates "
    "(invertible), the merge costs O(|delta| groups), never a base "
    "rescan; derived measures (avg) recompute from the maintained "
    "moments at read time. Retractions must be rows previously "
    "inserted — the caller's CDC contract. The oracle aggregates the "
    "final event multiset from scratch: maintained state must equal "
    "recomputation exactly, which DECIMAL's associativity guarantees "
    "under any partial-agg order. Non-invertible aggregates (MIN/MAX, "
    "distinct) need the 2-pass or sketch forms instead — see "
    "heavy_hitters_2pass / distinct_users_rolling_hll.",
)
def incremental_agg_retract_q(spark, sf_dir):
    from .queries_ext import _fresh_sink_dir

    dec = "decimal(18,6)"
    path = _fresh_sink_dir("agg_retract_state", sf_dir)
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "value")

    base = e.filter(F.col("user_id") % 20 < 15)
    stored = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast(dec)).alias("sum_value"),
    )
    stored.write.mode("overwrite").parquet(path)

    retract = base.filter(F.col("user_id") % 5 == 2).select(
        "event_type", F.lit(-1).alias("sign"), "value"
    )
    insert = e.filter(F.col("user_id") % 20 >= 15).select(
        "event_type", F.lit(1).alias("sign"), "value"
    )
    delta = retract.unionByName(insert).groupBy("event_type").agg(
        F.sum("sign").cast("bigint").alias("dn"),
        F.sum(F.col("sign").cast(dec) * F.col("value").cast(dec)).alias("dsum"),
    )

    st = spark.read.parquet(path)
    merged = (
        st.join(delta, "event_type", "full_outer")
        .select(
            "event_type",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
            (
                F.coalesce(F.col("sum_value"), F.lit(0).cast(dec))
                + F.coalesce(F.col("dsum"), F.lit(0).cast(dec))
            ).cast(dec).alias("sum_raw"),
        )
        .filter(F.col("n") > 0)
    )
    return merged.select(
        "event_type",
        "n",
        F.col("sum_raw").cast("double").alias("sum_value"),
        F.round(F.col("sum_raw").cast("double") / F.col("n"), 6).alias("avg_value"),
    )


@defquery(
    "dedup_incremental_minhash_deleted",
    _SHINGLE_SQL + """
    SELECT s.doc_id, CAST(len(s.shingles) AS BIGINT) AS sz
    FROM sh s JOIN documents d USING (doc_id)
    WHERE CAST(substr(d.source, 4) AS INT) >= 15
    """,
    "takedown-invariance proof at the gate: the dedup_incremental_"
    "minhash scenario with a DELETE between bootstrap and ingest — "
    "delete_from_incremental_store removes EVERY history doc holding a "
    "cross-set near-dup partner (exact Jaccard >= 0.8, computed "
    "independently by ngram_jaccard_pairs) from index AND payload via "
    "the crash-safe rewrite, then the ingest batch admits against the "
    "reduced store. With every blocker gone the admitted set is "
    "closed-form — ALL batch docs — which the base query provably is "
    "NOT (it rejects the batch's near-dups of history), so a hash "
    "match proves deletion removed exactly the targeted docs\' "
    "blocking power. Banding recall cannot blur the compare: deleting "
    "all exact-threshold blockers leaves no qualifying pair for LSH "
    "to find or miss. Together with dedup_incremental_minhash_"
    "compacted this puts the full store lifecycle — append, compact, "
    "delete — under cross-engine oracle proof, not just pytest.",
)
def dedup_incremental_minhash_deleted_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("minhash_history_deleted", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    hist = d.filter(src_num < 15)
    batch = d.filter(src_num >= 15)
    DD.dedup_incremental_minhash(spark, path, hist)
    # every history-side member of a cross-set near-dup pair (pairs are
    # id-ordered, so the history doc can sit on either side)
    # max_df=None: the victim set must be EXACT — the default hot-shingle
    # cap could hide a blocker pair whose shared shingles are all hot
    pairs = DD.ngram_jaccard_pairs(d.select("doc_id", "text"), threshold=0.8, max_df=None)
    hid = hist.select(F.col("doc_id").alias("h"))
    bid = batch.select(F.col("doc_id").alias("b"))
    via_a = (
        pairs.join(hid, pairs.id_a == hid.h, "left_semi")
        .join(bid, pairs.id_b == bid.b, "left_semi")
        .select(F.col("id_a").alias("doc_id"))
    )
    via_b = (
        pairs.join(hid, pairs.id_b == hid.h, "left_semi")
        .join(bid, pairs.id_a == bid.b, "left_semi")
        .select(F.col("id_b").alias("doc_id"))
    )
    victims = via_a.unionByName(via_b).distinct()
    DD.delete_from_incremental_store(spark, path, victims)
    return DD.dedup_incremental_minhash(spark, path, batch)


@defquery(
    "streaming_agg_retract",
    """
    WITH final_events AS (
      SELECT event_type, value FROM events
      WHERE user_id % 20 < 15 AND NOT (user_id % 5 = 2)
      UNION ALL
      SELECT event_type, value FROM events WHERE user_id % 20 >= 15)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS avg_value
    FROM final_events GROUP BY event_type
    """,
    "the STREAMING leg of deletion-aware aggregate maintenance: a CDC "
    "stream of three chunks — base inserts, late inserts, then "
    "RETRACTIONS of a base subset — drains through foreachBatch, each "
    "micro-batch folding its signed delta (Σsign, Σsign·value in "
    "DECIMAL) into a persisted per-group partial table "
    "(read-merge-checkpoint-overwrite per batch; the eager checkpoint "
    "makes the overwrite safe against its own input). Same abelian-"
    "group algebra as incremental_agg_retract, same closed-form "
    "oracle: maintained state after the full stream must equal the "
    "from-scratch aggregate of the final multiset regardless of how "
    "CDC batches sliced it. Groups retracted to zero drop out. This "
    "plus streaming_merge_apply (row-level CDC) covers both halves of "
    "warehouse CDC consumption: MERGE the rows, maintain the "
    "aggregates.",
)
def streaming_agg_retract_q(spark, sf_dir):
    import os

    from .queries_ext import _fresh_sink_dir, _sink_dir

    dec = "decimal(18,6)"
    srcdir = _sink_dir("agg_retract_in", sf_dir)
    state = _fresh_sink_dir("agg_retract_stream_state", sf_dir)

    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "value")
    chunks = [
        e.filter(F.col("user_id") % 20 < 15).select(
            "event_type", "value", F.lit(1).alias("sign")
        ),
        e.filter(F.col("user_id") % 20 >= 15).select(
            "event_type", "value", F.lit(1).alias("sign")
        ),
        e.filter((F.col("user_id") % 20 < 15) & (F.col("user_id") % 5 == 2)).select(
            "event_type", "value", F.lit(-1).alias("sign")
        ),
    ]

    def apply_batch(bdf, batch_id):
        s = bdf.sparkSession
        delta = bdf.groupBy("event_type").agg(
            F.sum("sign").cast("bigint").alias("dn"),
            F.sum(F.col("sign").cast(dec) * F.col("value").cast(dec)).alias("dsum"),
        )
        if os.path.exists(os.path.join(state, "_SUCCESS")):
            st = s.read.parquet(state)
            merged = (
                st.join(delta, "event_type", "full_outer")
                .select(
                    "event_type",
                    (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
                    (
                        F.coalesce(F.col("sum_value"), F.lit(0).cast(dec))
                        + F.coalesce(F.col("dsum"), F.lit(0).cast(dec))
                    ).cast(dec).alias("sum_value"),
                )
                .filter(F.col("n") > 0)
            )
        else:
            merged = delta.select(
                "event_type",
                F.col("dn").alias("n"),
                F.col("dsum").cast(dec).alias("sum_value"),
            ).filter(F.col("n") > 0)
        # materialize before overwriting the directory we just read
        freeze(merged).write.mode("overwrite").parquet(state)

    sdf = replay_chunks(spark, srcdir, chunks, "event_type string, value double, sign int")
    drain(sdf, apply_batch)
    st = spark.read.parquet(state)
    return st.select(
        "event_type",
        "n",
        F.col("sum_value").cast("double").alias("sum_value"),
        F.round(F.col("sum_value").cast("double") / F.col("n"), 6).alias("avg_value"),
    )


@defquery(
    "dedup_clusters_incremental",
    _SHINGLE_SQL.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + """,
ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle FROM sh),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
  HAVING count(*) / (a.sz + b.sz - count(*)) >= 0.6
),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT doc_id AS v, doc_id AS r FROM documents
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
)
SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY v
    """,
    "near-duplicate clusters MAINTAINED ACROSS INGEST BATCHES — "
    "dedup_clusters as a store, not a recompute (SURVEY §7.2a #2): "
    "three batches commit through the atomic manifest; each ingest "
    "runs large-star/small-star ONLY on the frontier graph whose "
    "nodes are {new docs} ∪ {touched history cluster ids} — "
    "connectivity is invariant under contraction of already-known "
    "components, so history edges never replay and history docs "
    "never rejoin. Batches that connect two existing clusters append "
    "hop edges to a merge FOREST (labels strictly decrease along "
    "chains — min-id canonicalization makes it acyclic); serving "
    "path-compresses the forest in O(log depth) joins over the tiny "
    "remap table and applies it in one join; compaction folds the "
    "resolution into the member table durably (exercised mid-query — "
    "the hash proves it changes nothing). Oracle = the from-scratch "
    "dedup_clusters recursive-CTE closure over the full corpus: a "
    "match proves the maintained partition equals the batch one "
    "under this slicing, merges included. Candidate generation is "
    "batch-postings × matching-history-postings (admission O(batch), "
    "never O(history²)); exact uncapped Jaccard keeps it "
    "slicing-invariant — the banded/capped recall dial remains "
    "dedup_incremental_minhash's job.",
)
def dedup_clusters_incremental_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("cc_store", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    DD.dedup_incremental_clusters(spark, path, d.filter(src_num < 7))
    DD.dedup_incremental_clusters(
        spark, path, d.filter((src_num >= 7) & (src_num < 14))
    )
    # fold the merge forest mid-lifecycle: the final hash proves the
    # compaction is a pure representation change
    DD.compact_incremental_clusters(spark, path)
    DD.dedup_incremental_clusters(spark, path, d.filter(src_num >= 14))
    return DD.read_incremental_clusters(spark, path)


@defquery(
    "cluster_store_time_travel",
    """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE CAST(substr(source, 4) AS INT) < 14),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              ELSE list_distinct(list_transform(range(1, len(t) - 1),
                     i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END AS shingles
  FROM toks),
ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle FROM sh),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
  HAVING count(*) / (a.sz + b.sz - count(*)) >= 0.6
),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT doc_id AS v, doc_id AS r FROM documents
  WHERE CAST(substr(source, 4) AS INT) < 14
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
)
SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY v
    """,
    "time travel for the CLUSTER store — the last lifecycle leg it "
    "lacked a gate for (SURVEY round-9 #3): after three commits, read "
    "the store AS OF the first two. Members and the merge forest "
    "truncate TOGETHER (remap hops commit with the batch that caused "
    "the merge), so the truncated forest resolves to exactly the "
    "labels any reader saw after commit 2 — merges caused by batch 3 "
    "are invisible, merges caused by batch 2 are applied. Oracle = "
    "the from-scratch closure over batches 1+2's documents; driver-"
    "side directory selection only, zero data copied (the "
    "incremental_store_time_travel contract extended to a store "
    "whose SERVING state is derived from two coupled tables).",
)
def cluster_store_time_travel_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("cc_store_asof", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    DD.dedup_incremental_clusters(spark, path, d.filter(src_num < 7))
    DD.dedup_incremental_clusters(
        spark, path, d.filter((src_num >= 7) & (src_num < 14))
    )
    DD.dedup_incremental_clusters(spark, path, d.filter(src_num >= 14))
    return DD.read_incremental_clusters_asof(spark, path, as_of_batches=2)


@defquery(
    "dedup_clusters_deleted",
    """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE NOT (doc_id % 9 = 4)),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              ELSE list_distinct(list_transform(range(1, len(t) - 1),
                     i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END AS shingles
  FROM toks),
ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle FROM sh),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
  HAVING count(*) / (a.sz + b.sz - count(*)) >= 0.6
),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT doc_id AS v, doc_id AS r FROM documents WHERE NOT (doc_id % 9 = 4)
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
)
SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY v
    """,
    "takedown for the CLUSTER store — the hardest delete in the store "
    "family, because removing a doc can SPLIT a component (the merge "
    "forest expresses unions only; decremental connectivity has no "
    "cheap inverse). delete_from_cluster_store answers with a SCOPED "
    "recompute: drop the victims' member/shingle rows, re-run "
    "connected components only within the touched clusters from the "
    "survivors' stored postings (edges are only removed, so no "
    "survivor can join a different untouched cluster — recompute is "
    "bounded by touched-cluster size, never the corpus), fold the "
    "forest, publish through the crash-safe rewrite. Oracle = the "
    "from-scratch closure over the corpus minus the victims: a hash "
    "match proves splits re-labeled correctly AND no signature bytes "
    "survive for deleted docs. Completes takedown parity across all "
    "four store kinds (exact/minhash, BM25, ANN, clusters).",
)
def dedup_clusters_deleted_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("cc_store_deleted", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    DD.dedup_incremental_clusters(spark, path, d.filter(src_num < 7))
    DD.dedup_incremental_clusters(
        spark, path, d.filter((src_num >= 7) & (src_num < 14))
    )
    DD.dedup_incremental_clusters(spark, path, d.filter(src_num >= 14))
    victims = d.filter(F.col("doc_id") % 9 == 4).select("doc_id")
    DD.delete_from_cluster_store(spark, path, victims)
    return DD.read_incremental_clusters(spark, path)


@defquery(
    "streaming_ohlc_hourly",
    """
    WITH final_events AS (
      SELECT event_type, ts, event_id, value FROM events
      WHERE user_id % 20 < 15 AND NOT (user_id % 5 = 2)
      UNION ALL
      SELECT event_type, ts, event_id, value FROM events WHERE user_id % 20 >= 15),
    e AS (
      SELECT event_type, (CAST(epoch_ms(ts) AS BIGINT) // 3600000) * 3600000 AS window_start_ms,
             CAST(epoch_ms(ts) AS BIGINT) AS ms, event_id, value
      FROM final_events),
    ranked AS (
      SELECT event_type, window_start_ms, value,
             row_number() OVER (PARTITION BY event_type, window_start_ms ORDER BY ms ASC, event_id ASC) AS rn_open,
             row_number() OVER (PARTITION BY event_type, window_start_ms ORDER BY ms DESC, event_id DESC) AS rn_close
      FROM e)
    SELECT event_type, window_start_ms,
           MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
           COUNT(*) AS n
    FROM ranked
    GROUP BY event_type, window_start_ms
    """,
    "continuously-maintained OHLC (the continuous-aggregate / "
    "hypertable-rollup shape) under CDC retractions — the maintenance "
    "problem sum/count DON'T have: open/high/low/close are NOT "
    "retractable (deleting the current max cannot be undone from the "
    "aggregate alone), so the store keeps each (series, hour) "
    "window's CANDIDATE MULTISET — the signed event keys compacted to "
    "their net count, exactly the minimal state from which any "
    "deletion can be absorbed — and serving folds the live candidates "
    "through the SAME min_by/max_by single-aggregate as the batch "
    "query. Three CDC chunks (base inserts, late inserts, retractions "
    "of a base subset) drain through foreachBatch, each micro-batch "
    "union+re-aggregating its signed keys into the store "
    "(read-merge-checkpoint-overwrite, rows retracted to zero drop "
    "out). Oracle = the batch OHLC over the final multiset: batch "
    "slicing provably irrelevant because per-key signed counts form "
    "an abelian group and OHLC is a pure function of the live "
    "multiset. At 100 TB the state is bounded per (series, hour) by "
    "the window's live-event count and the watermark finalizes old "
    "windows out of the hot set — candidate retention is the price "
    "of exact deletion-aware min/max, and it is the floor (any "
    "smaller state admits a retraction it cannot answer).",
)
def streaming_ohlc_hourly_q(spark, sf_dir):
    import os

    from .queries_ext import _fresh_sink_dir, _sink_dir

    srcdir = _sink_dir("ohlc_retract_in", sf_dir)
    state = _fresh_sink_dir("ohlc_stream_state", sf_dir)

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        ((F.floor(F.unix_millis(F.col("ts")) / 3600000)) * 3600000)
        .cast("bigint")
        .alias("window_start_ms"),
        F.unix_millis(F.col("ts")).alias("ms"),
        "event_id",
        "value",
    )
    cols = ["event_type", "window_start_ms", "ms", "event_id", "value"]
    chunks = [
        e.filter(F.col("user_id") % 20 < 15).select(*cols, F.lit(1).alias("sign")),
        e.filter(F.col("user_id") % 20 >= 15).select(*cols, F.lit(1).alias("sign")),
        e.filter((F.col("user_id") % 20 < 15) & (F.col("user_id") % 5 == 2)).select(
            *cols, F.lit(-1).alias("sign")
        ),
    ]
    key = ["event_type", "window_start_ms", "ms", "event_id", "value"]

    def apply_batch(bdf, batch_id):
        s = bdf.sparkSession
        delta = bdf.groupBy(*key).agg(F.sum("sign").cast("bigint").alias("cnt"))
        if os.path.exists(os.path.join(state, "_SUCCESS")):
            merged = (
                s.read.parquet(state)
                .unionByName(delta)
                .groupBy(*key)
                .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            )
        else:
            merged = delta
        merged = merged.filter(F.col("cnt") > 0)
        # materialize before overwriting the directory we just read
        freeze(merged).write.mode("overwrite").parquet(state)

    schema = (
        "event_type string, window_start_ms bigint, ms bigint, "
        "event_id bigint, value double, sign int"
    )
    drain(replay_chunks(spark, srcdir, chunks, schema), apply_batch)
    live = spark.read.parquet(state)
    ordk = F.struct(F.col("ms"), F.col("event_id"))
    return live.groupBy("event_type", "window_start_ms").agg(
        F.min_by("value", ordk).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ordk).alias("close"),
        F.sum("cnt").alias("n"),
    )


@defquery(
    "incremental_store_time_travel",
    """
    WITH fp AS (
        SELECT doc_id, CAST(substr(source, 4) AS INT) // 5 AS b,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents
        WHERE CAST(substr(source, 4) AS INT) < 10),
    firstb AS (SELECT fp, min(b) AS fb FROM fp GROUP BY fp)
    SELECT f.fp, CAST(min(f.doc_id) AS BIGINT) AS doc_id
    FROM fp f JOIN firstb o ON f.fp = o.fp AND f.b = o.fb
    GROUP BY f.fp
    """,
    "snapshot (time-travel) read of an incremental store: four ingest "
    "batches (src0-4, src5-9, src10-14, src15-19) commit sequentially "
    "through the _BATCHES manifest, then read_incremental_store_asof "
    "pins the read to the FIRST TWO commit-log entries — reproducing "
    "exactly the fingerprint table any reader saw after batch 2, "
    "without restoring backups. The oracle replays the first two "
    "batches' admission arithmetic from scratch (per fingerprint: "
    "min-id within the EARLIEST batch containing it), so a hash match "
    "proves manifest order is a faithful commit log, not just a "
    "directory list. The pinning is driver-side directory selection "
    "only — zero extra data read at 100 TB; granularity contract "
    "(rewrites collapse history, like VACUUM trimming table-format "
    "versions) is documented on the operator.",
)
def incremental_store_time_travel_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("fp_history_tt", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    for lo in (0, 5, 10, 15):
        DD.dedup_incremental_exact(
            spark, path, d.filter((src_num >= lo) & (src_num < lo + 5))
        )
    return DD.read_incremental_store_asof(spark, path, "fps", as_of_batches=2).select(
        "fp", "doc_id"
    )


@defquery(
    "mixture_temperature_weights",
    """
    WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    q AS (SELECT source, n,
                 CAST(round(pow(n, 0.3), 6) AS DECIMAL(18,6)) AS qd
          FROM counts),
    tot AS (SELECT CAST(SUM(qd) AS DECIMAL(38,6)) AS s,
                   CAST(SUM(n) AS BIGINT) AS nt FROM q)
    SELECT q.source, CAST(q.n AS BIGINT) AS n_docs,
           round(q.n / CAST(t.nt AS DOUBLE), 6) AS raw_frac,
           round(CAST(q.qd AS DOUBLE) / CAST(t.s AS DOUBLE), 6) AS weight,
           round((CAST(q.qd AS DOUBLE) * CAST(t.nt AS DOUBLE))
                 / (CAST(t.s AS DOUBLE) * CAST(q.n AS DOUBLE)), 6) AS boost,
           CAST(floor(CAST(q.qd AS DOUBLE) / CAST(t.s AS DOUBLE) * t.nt)
                AS BIGINT) AS target_docs
    FROM q CROSS JOIN tot t
    """,
    "temperature-scaled domain mixture DERIVATION (the upstream of "
    "domain_mixture_resample, which takes weights as GIVEN): sampling "
    "weight w_i ∝ n_i^α at α=0.3 — the exponentiated-count smoothing "
    "multilingual/multi-domain LM training uses to up-weight small "
    "domains without letting any single domain dominate (α=1 is raw "
    "proportions, α=0 is uniform). Emits per source: raw corpus "
    "fraction, temperature weight, the boost ratio the temperature "
    "applies, and the integer target-doc quota to feed the resampler. "
    "Determinism is the quantize-then-DECIMAL-sum pattern: pow() is "
    "quantized to 6 decimals per source, the normalizer sums those "
    "EXACT decimals (order-free at any partition count), and each "
    "division runs double/double on bit-identical inputs — one IEEE op "
    "each, so no partial-agg order anywhere can move a ratio. Cost is "
    "one hash agg over the corpus + arithmetic over |sources| rows; "
    "the 1-row normalizer broadcast is the whitelisted scalar-NLJ "
    "shape. At 100 TB this is the cheapest query in the pipeline — "
    "and the one whose output steers every token the trainer sees.",
)
def mixture_temperature_weights_q(spark, sf_dir):
    from .operators.sampling import temperature_mixture_weights

    return temperature_mixture_weights(
        _t(spark, sf_dir, "documents"), group_col="source", alpha=0.3
    )


def _kmeans_cost_key_sql(vexpr: str, calias: str) -> str:
    """The exact-k-means rational cost as a DOUBLE sort key: integer-
    exact numerator/denominator, ONE IEEE division (bit-identical
    operands ⇒ bit-identical quotient in any engine)."""
    return (
        f"CAST(CAST({calias}.n AS HUGEINT)*{calias}.n*"
        f"list_sum(list_transform({vexpr}, x -> CAST(x AS HUGEINT)*x))\n"
        f"                  - 2*CAST({calias}.n AS HUGEINT)*"
        f"list_sum(list_transform(list_zip({vexpr}, {calias}.s), p -> CAST(p[1] AS HUGEINT)*p[2]))\n"
        f"                  + list_sum(list_transform({calias}.s, x -> CAST(x AS HUGEINT)*x)) AS DOUBLE)\n"
        f"             / CAST(CAST({calias}.n AS HUGEINT)*{calias}.n AS DOUBLE)"
    )


def _kmeans_assign_cte(aname: str, cname: str, source: str = "q") -> str:
    """One assignment CTE: every ``source`` row to its argmin centroid
    in ``cname`` under the exact rational cost."""
    return f"""{aname} AS (
  SELECT vec_id, v, cid FROM (
    SELECT q.vec_id, q.v, c.cid,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             {_kmeans_cost_key_sql("q.v", "c")} ASC, c.cid ASC) AS rn
    FROM {source} q CROSS JOIN {cname} c) WHERE rn = 1)"""


def _kmeans_ctes(
    k: int = 8, rounds: int = 2, dim: int = 64, train_where: str | None = None,
    scale: float = 1000000.0,
) -> list[str]:
    """DuckDB replay of :func:`operators.similarity.kmeans_exact`,
    unrolled one CTE block per Lloyd round (the pagerank technique
    applied to clustering): ``q`` = quantized vectors (``scale`` =
    10^quant_digits — 100.0 reproduces the int8 store's coarse codes),
    ``qtrain`` = the training subset (all of ``q`` unless
    ``train_where`` pins a bootstrap batch, as the frozen-quantizer
    ANN store does), ``c{r}`` = (sum, count) centroids, ``a{r}`` =
    training-set assignment under ``c{r}``. Shared by the SemDeDup,
    IVF-exact and ANN-store oracles."""
    where = f" WHERE {train_where}" if train_where else ""
    ctes = [
        f"""q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS v
  FROM embeddings)""",
        f"qtrain AS (SELECT * FROM q{where})",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid, v AS s, CAST(1 AS BIGINT) AS n
  FROM (SELECT vec_id, v FROM qtrain ORDER BY vec_id LIMIT {k}))""",
        _kmeans_assign_cte("a0", "c0", "qtrain"),
    ]
    for r in range(1, rounds + 1):
        ctes += [
            f"""s{r} AS (
  SELECT a.cid, t.dim, SUM(a.v[t.dim]) AS sm
  FROM a{r - 1} a CROSS JOIN range(1, {dim + 1}) t(dim) GROUP BY a.cid, t.dim)""",
            f"n{r} AS (SELECT cid, COUNT(*) AS n FROM a{r - 1} GROUP BY cid)",
            f"""c{r} AS (
  SELECT c.cid,
         COALESCE((SELECT list(sm ORDER BY dim) FROM s{r} WHERE s{r}.cid = c.cid), c.s) AS s,
         COALESCE(n{r}.n, c.n) AS n
  FROM c{r - 1} c LEFT JOIN n{r} ON c.cid = n{r}.cid)""",
            _kmeans_assign_cte(f"a{r}", f"c{r}", "qtrain"),
        ]
    return ctes


def _semantic_dedup_sql(k: int = 8, rounds: int = 2, thr: float = 0.9, dim: int = 64) -> str:
    """DuckDB replay of the EXACT k-means + SemDeDup pipeline: the same
    scaled-integer quantization, the same rational-cost argmin (one
    IEEE division per candidate on integer-exact operands), the same
    empty-cluster carry, unrolled one CTE block per round — the
    pagerank_dup_graph technique applied to clustering."""
    ctes = _kmeans_ctes(k=k, rounds=rounds, dim=dim)
    last = f"a{rounds}"
    ctes.append(
        f"""pairs AS (
  SELECT y.vec_id AS id_b
  FROM {last} x JOIN {last} y ON x.cid = y.cid AND x.vec_id < y.vec_id
  JOIN embeddings ea ON ea.vec_id = x.vec_id
  JOIN embeddings eb ON eb.vec_id = y.vec_id
  WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) >= {thr})"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid,
       (a.vec_id NOT IN (SELECT id_b FROM pairs)) AS keep
FROM {last} a"""
    )


@defquery(
    "semantic_dedup_kmeans",
    _semantic_dedup_sql(),
    "SemDeDup (published: Abbas et al. 2023): k-means the embedding "
    "space, then drop within-cluster cosine near-dups (keep-min id) — "
    "clustering removes the all-pairs term; k grows with the corpus "
    "so cluster occupancy (and the pair join) stays bounded. The "
    "headline is HOW the k-means sits under an exact oracle: Lloyd "
    "iteration is floating-point and order-sensitive in every normal "
    "implementation, so ANN-style clustering is usually a rows-only "
    "check — here vectors quantize once to scaled ints, centroids are "
    "EXACT (component-sum, count) pairs (never divided), assignment "
    "argmin runs on integer-exact rational costs with ONE IEEE "
    "division per candidate (bit-identical in any engine; cid breaks "
    "ties), and empty clusters carry forward — so the DuckDB oracle "
    "replays two full Lloyd rounds CTE-by-CTE (the pagerank unroll "
    "technique applied to clustering) and the final (vec_id, cid, "
    "keep) must hash-match. Production at 100 TB keeps the JVM float "
    "path (train_ivf_centroids + assign_ivf); this exact twin is the "
    "CI anchor proving the clustering arithmetic, the same role "
    "dedup_simhash_md5 plays for the simhash family.",
)
def semantic_dedup_kmeans_q(spark, sf_dir):
    from .operators.similarity import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), k=8, rounds=2, threshold=0.9
    )


@defquery(
    "streaming_late_data_accounting",
    """
    WITH e AS (SELECT CAST(epoch_ms(ts) AS BIGINT) AS ms, user_id FROM events),
    cfg AS (SELECT ((min(ms) // 3600000) + 48) * 3600000 AS t1,
                   ((min(ms) // 3600000) + 96) * 3600000 AS t2 FROM e),
    cls AS (SELECT ms,
                   CASE WHEN ms < t1 - 86400000 AND user_id % 5 = 2 THEN 'held'
                        WHEN ms < t1 THEN 'b0'
                        WHEN ms < t2 THEN 'b1' ELSE 'b2' END AS c
            FROM e CROSS JOIN cfg),
    m0 AS (SELECT max(ms) AS m FROM cls WHERE c = 'b0'),
    m1 AS (SELECT max(ms) AS m FROM cls WHERE c IN ('b0', 'b1')),
    kept AS (SELECT ms FROM cls CROSS JOIN m0
             WHERE c <> 'held'
                OR ((ms // 3600000) + 1) * 3600000 > m0.m - 3600000),
    win AS (SELECT (ms // 3600000) * 3600000 AS w, count(*) AS ns
            FROM kept GROUP BY 1),
    tot AS (SELECT (ms // 3600000) * 3600000 AS w, count(*) AS nt
            FROM cls GROUP BY 1)
    SELECT t.w AS window_start_ms,
           CAST(COALESCE(win.ns, 0) AS BIGINT) AS n_streamed,
           CAST(t.nt AS BIGINT) AS n_total,
           CAST(t.nt - COALESCE(win.ns, 0) AS BIGINT) AS n_late_dropped
    FROM tot t LEFT JOIN win ON t.w = win.w CROSS JOIN m1
    WHERE t.w + 3600000 <= m1.m - 3600000
    """,
    "watermark late-data ACCOUNTING — the ops question every streaming "
    "pipeline must answer (how many events did the watermark drop, "
    "where): a real Structured Streaming run over three ordered "
    "micro-batches — two on-time chunks, then a chunk carrying "
    "HELD-BACK day-old events (user_id%5=2, >24 h older than the "
    "chunk-0 horizon) — with a 1-hour watermark and 1-hour tumbling "
    "windows in append mode; the streamed per-window counts are then "
    "joined against the from-scratch batch counts so n_late_dropped "
    "is explicit per window. Every row is UNAMBIGUOUS by "
    "construction: Spark's micro-batch watermark trails the data by "
    "one-to-two committed batches (empirically pinned in "
    "test_streaming.py), so held rows sit >23 h below the LOWEST "
    "possible watermark at their arrival batch (dropped under any "
    "lag), on-time rows sit above the highest (kept under any lag), "
    "and the comparison is restricted to windows closed under the "
    "most conservative final watermark — the oracle computes the "
    "same horizons (max-through-chunk arithmetic, pure epoch-ms "
    "integers) without running a stream. At 100 TB the same append-"
    "mode plan holds: state is one row per open window, the "
    "watermark bounds it, and the accounting join runs over the "
    "emitted aggregate, never raw events.",
)
def streaming_late_data_accounting_q(spark, sf_dir):
    from .queries_ext import _sink_dir

    srcdir = _sink_dir("late_acct_in", sf_dir)
    e = _t(spark, sf_dir, "events").select(
        "ts", "user_id", F.unix_millis("ts").alias("ms")
    )
    mn = e.agg(F.min("ms").alias("m")).first()["m"]  # 1-row bounded collect
    t1 = (mn // 3600000 + 48) * 3600000
    t2 = (mn // 3600000 + 96) * 3600000
    held = (F.col("ms") < t1 - 86400000) & (F.col("user_id") % 5 == 2)
    chunks = [
        e.filter((F.col("ms") < t1) & ~held),
        e.filter((F.col("ms") >= t1) & (F.col("ms") < t2)),
        e.filter((F.col("ms") >= t2) | held),
    ]
    staged = [c.select("ts", "user_id") for c in chunks]
    agg = (
        replay_chunks(spark, srcdir, staged, "ts timestamp, user_id long")
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("ns"))
    )
    run_to_memory_sink(agg, "q_late_acct", output_mode="append")
    streamed = spark.table("q_late_acct").select(
        F.unix_millis(F.col("w.start")).alias("w"), "ns"
    )
    m1 = (
        e.filter(F.col("ms") < t2).agg(F.max("ms").alias("m")).first()["m"]
    )  # conservative final watermark horizon (1-row bounded collect)
    tot = e.groupBy(
        (F.expr("ms div 3600000") * 3600000).alias("w")
    ).agg(F.count(F.lit(1)).alias("nt"))
    return (
        tot.join(streamed, "w", "left")
        .filter(F.col("w") + 3600000 <= m1 - 3600000)
        .select(
            F.col("w").alias("window_start_ms"),
            F.coalesce("ns", F.lit(0)).cast("bigint").alias("n_streamed"),
            F.col("nt").cast("bigint").alias("n_total"),
            (F.col("nt") - F.coalesce("ns", F.lit(0)))
            .cast("bigint")
            .alias("n_late_dropped"),
        )
    )


@defquery(
    "feature_pit_assembly",
    """
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS d,
             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr
      FROM orders),
    seg AS (
      SELECT o.o_orderkey,
             CASE WHEN c.c_custkey % 10 = 0 AND o.d >= 10227
                  THEN 'PROMO' ELSE c.c_mktsegment END AS seg
      FROM o JOIN customer c ON o.o_custkey = c.c_custkey),
    prior AS (
      SELECT o_orderkey,
             COUNT(*) OVER (PARTITION BY o_custkey ORDER BY d
                            RANGE BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS np
      FROM o)
    SELECT o.yr, s.seg,
           CAST(least(COALESCE(p.np, 0), 5) AS BIGINT) AS prior_bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM o JOIN seg s ON o.o_orderkey = s.o_orderkey
           JOIN prior p ON o.o_orderkey = p.o_orderkey
    GROUP BY o.yr, s.seg, 3
    """,
    "point-in-time feature assembly — the leakage-free training-data "
    "join a feature store must get right: each order (the training "
    "example) is joined to (1) the customer segment VALID AT the order "
    "date from an SCD2-style validity-interval table (customers "
    "c_custkey%10=0 switch to PROMO effective epoch-day 10227 = "
    "1998-01-01, mid-span so both validity intervals carry data; the Spark side runs a real interval join — equi-join "
    "on the key plus [valid_from, valid_to) containment — while the "
    "oracle expresses the same history as CASE logic), and (2) a "
    "STRICTLY-PAST rolling feature (count of the customer's orders on "
    "earlier days, RANGE frame ending at 1 PRECEDING — same-day "
    "orders excluded on both sides, the classic leakage boundary). "
    "Grouped to (year, segment, prior-order bucket) for the gate. At "
    "100 TB: the validity table is O(|dim| x versions) and joins "
    "co-partitioned on the key (broadcast here); the rolling feature "
    "is one window over data already shuffled by customer — no second "
    "exchange; nothing reads a row later than the example's own "
    "timestamp, which is the entire point.",
)
def feature_pit_assembly_q(spark, sf_dir):
    SWITCH_DAY = 10227  # 1998-01-01 as epoch day (mid order-date span)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("d"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    big = F.lit(2_000_000_000)
    validity = (
        c.filter(F.col("c_custkey") % 10 != 0)
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("seg"),
            F.lit(0).cast("bigint").alias("vf"),
            big.cast("bigint").alias("vt"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 10 == 0).select(
                "c_custkey",
                F.col("c_mktsegment").alias("seg"),
                F.lit(0).cast("bigint").alias("vf"),
                F.lit(SWITCH_DAY).cast("bigint").alias("vt"),
            )
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 10 == 0).select(
                "c_custkey",
                F.lit("PROMO").alias("seg"),
                F.lit(SWITCH_DAY).cast("bigint").alias("vf"),
                big.cast("bigint").alias("vt"),
            )
        )
    )
    seg = o.join(
        F.broadcast(validity),
        (o.o_custkey == validity.c_custkey)
        & (o.d >= validity.vf)
        & (o.d < validity.vt),
    ).select("o_orderkey", "seg")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("d")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    prior = o.select(
        "o_orderkey", F.count(F.lit(1)).over(w).alias("np")
    )
    return (
        o.join(seg, "o_orderkey")
        .join(prior, "o_orderkey")
        .groupBy(
            "yr",
            "seg",
            F.least(F.coalesce("np", F.lit(0)), F.lit(5))
            .cast("bigint")
            .alias("prior_bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


# cascade rule constants shared by both engines (one expression tree)
_CASC_WC_MIN, _CASC_WC_MAX = 20, 1000
_CASC_MWL_MIN, _CASC_MWL_MAX = 2.0, 8.0
_CASC_DIGIT_MAX = 0.3


@defquery(
    "filter_cascade_audit",
    f"""
    WITH m AS (
      SELECT source,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS wc,
             CAST(length(regexp_replace(trim(lower(text)), '\\s+', '', 'g')) AS DOUBLE)
               / len(string_split_regex(trim(lower(text)), '\\s+')) AS mwl,
             contains(concat(' ', lower(text), ' '), ' the ')
               OR contains(concat(' ', lower(text), ' '), ' a ') AS has_stop,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
               / length(text) AS digit_ratio
      FROM documents),
    r AS (
      SELECT source,
             wc < {_CASC_WC_MIN} AS r_too_short,
             wc > {_CASC_WC_MAX} AS r_too_long,
             mwl < {_CASC_MWL_MIN} OR mwl > {_CASC_MWL_MAX} AS r_word_len,
             NOT has_stop AS r_no_stopword,
             digit_ratio > {_CASC_DIGIT_MAX} AS r_digit_heavy
      FROM m),
    att AS (
      SELECT source,
             CASE WHEN r_too_short THEN 'too_short'
                  WHEN r_too_long THEN 'too_long'
                  WHEN r_word_len THEN 'word_len'
                  WHEN r_no_stopword THEN 'no_stopword'
                  WHEN r_digit_heavy THEN 'digit_heavy'
                  ELSE 'pass' END AS verdict,
             r_too_short, r_too_long, r_word_len, r_no_stopword,
             r_digit_heavy,
             NOT (r_too_short OR r_too_long OR r_word_len
                  OR r_no_stopword OR r_digit_heavy) AS clean
      FROM r),
    marg AS (
      SELECT source, v.verdict,
             CASE v.verdict
                  WHEN 'too_short' THEN SUM(CASE WHEN r_too_short THEN 1 ELSE 0 END)
                  WHEN 'too_long' THEN SUM(CASE WHEN r_too_long THEN 1 ELSE 0 END)
                  WHEN 'word_len' THEN SUM(CASE WHEN r_word_len THEN 1 ELSE 0 END)
                  WHEN 'no_stopword' THEN SUM(CASE WHEN r_no_stopword THEN 1 ELSE 0 END)
                  WHEN 'digit_heavy' THEN SUM(CASE WHEN r_digit_heavy THEN 1 ELSE 0 END)
                  ELSE SUM(CASE WHEN clean THEN 1 ELSE 0 END) END AS n_marginal
      FROM att CROSS JOIN (
        SELECT unnest(['too_short', 'too_long', 'word_len',
                       'no_stopword', 'digit_heavy', 'pass']) AS verdict) v
      GROUP BY source, v.verdict),
    firstf AS (
      SELECT source, verdict, count(*) AS n_attributed FROM att
      GROUP BY source, verdict)
    SELECT m.source, m.verdict,
           CAST(COALESCE(f.n_attributed, 0) AS BIGINT) AS n_attributed,
           CAST(m.n_marginal AS BIGINT) AS n_marginal
    FROM marg m LEFT JOIN firstf f
      ON m.source = f.source AND m.verdict = f.verdict
    WHERE m.n_marginal > 0 OR f.n_attributed IS NOT NULL
    """,
    "quality filter-cascade AUDIT — the numbers a pipeline owner needs "
    "before reordering or tuning a rule chain: five ordered rules "
    "(Gopher word-count/word-length/stopword family + digit-density), "
    "each doc attributed to its FIRST failing rule, reported per "
    "source next to each rule's MARGINAL failure count (how many docs "
    "fail it regardless of order) — attributed << marginal reveals "
    "shadowed rules, attributed ~ marginal means the rule carries "
    "unique signal; 'pass' rows carry the clean count in both "
    "columns. One scan, every rule a codegen'd JVM expression "
    "generated from the same constants as the oracle SQL, one "
    "(source x 6)-row aggregate — at 100 TB this costs exactly one "
    "pass over text plus a tiny shuffle, which is why the audit "
    "should ship with every filter run rather than be a special "
    "occasion.",
)
def filter_cascade_audit_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    low = F.trim(F.lower(F.col("text")))
    wc = F.size(F.split(low, r"\s+"))
    mwl = F.length(F.regexp_replace(low, r"\s+", "")).cast("double") / wc
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    has_stop = padded.contains(" the ") | padded.contains(" a ")
    digit_ratio = F.length(F.regexp_replace(F.col("text"), "[^0-9]", "")).cast(
        "double"
    ) / F.length(F.col("text"))
    rules = [
        ("too_short", wc < _CASC_WC_MIN),
        ("too_long", wc > _CASC_WC_MAX),
        ("word_len", (mwl < _CASC_MWL_MIN) | (mwl > _CASC_MWL_MAX)),
        ("no_stopword", ~has_stop),
        ("digit_heavy", digit_ratio > _CASC_DIGIT_MAX),
    ]
    verdict = F.lit("pass")
    for name, cond in reversed(rules):
        verdict = F.when(cond, F.lit(name)).otherwise(verdict)
    clean = ~rules[0][1]
    for _, cond in rules[1:]:
        clean = clean & ~cond
    r = d.select(
        "source",
        verdict.alias("verdict"),
        *[cond.cast("int").alias(f"r_{name}") for name, cond in rules],
        clean.cast("int").alias("r_pass"),
    )
    marg = r.groupBy("source").agg(
        *[F.sum(f"r_{name}").alias(name) for name, _ in rules],
        F.sum("r_pass").alias("pass"),
    )
    marg_long = marg.unpivot(
        ["source"],
        [name for name, _ in rules] + ["pass"],
        "verdict",
        "n_marginal",
    )
    firstf = r.groupBy("source", "verdict").agg(
        F.count(F.lit(1)).alias("n_attributed")
    )
    return (
        marg_long.join(firstf, ["source", "verdict"], "left")
        .filter((F.col("n_marginal") > 0) | F.col("n_attributed").isNotNull())
        .select(
            "source",
            "verdict",
            F.coalesce("n_attributed", F.lit(0)).cast("bigint").alias("n_attributed"),
            F.col("n_marginal").cast("bigint").alias("n_marginal"),
        )
    )


@defquery(
    "dataset_card_stats",
    f"""
    WITH m AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS wc,
             length(text) AS chars,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             CASE WHEN len(string_split_regex(trim(lower(text)), '\\s+'))
                       BETWEEN {_CASC_WC_MIN} AND {_CASC_WC_MAX}
                   AND CAST(length(regexp_replace(trim(lower(text)), '\\s+', '', 'g')) AS DOUBLE)
                       / len(string_split_regex(trim(lower(text)), '\\s+'))
                       BETWEEN {_CASC_MWL_MIN} AND {_CASC_MWL_MAX}
                   AND (contains(concat(' ', lower(text), ' '), ' the ')
                        OR contains(concat(' ', lower(text), ' '), ' a '))
                  THEN 1 ELSE 0 END AS gopher_ok
      FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(wc) AS BIGINT) AS total_tokens,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           CAST(MIN(wc) AS BIGINT) AS min_tokens,
           CAST(MAX(wc) AS BIGINT) AS max_tokens,
           round(SUM(wc) / CAST(count(*) AS DOUBLE), 6) AS mean_tokens,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dup_docs,
           round((count(*) - count(DISTINCT fp)) / CAST(count(*) AS DOUBLE), 6)
             AS dup_rate,
           round(SUM(gopher_ok) / CAST(count(*) AS DOUBLE), 6) AS gopher_pass_rate
    FROM m
    """,
    "dataset card / datasheet in ONE query — the summary block every "
    "released training corpus ships (size, source diversity, token "
    "budget, length range, exact-dup rate, quality pass rate): a "
    "single scan computing per-doc metrics from the SAME shared "
    "expression constants as the quality/dedup queries, folded into "
    "one global aggregate row. Ratios divide exact integers as "
    "double/double (one IEEE op, identical cross-engine). At 100 TB "
    "this is one pass + a 1-row reduce — cheap enough to regenerate "
    "on every corpus revision and diff as part of the release gate.",
)
def dataset_card_stats_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    low = F.trim(F.lower(F.col("text")))
    wc = F.size(F.split(low, r"\s+"))
    mwl = F.length(F.regexp_replace(low, r"\s+", "")).cast("double") / wc
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    gopher_ok = (
        wc.between(_CASC_WC_MIN, _CASC_WC_MAX)
        & mwl.between(_CASC_MWL_MIN, _CASC_MWL_MAX)
        & (padded.contains(" the ") | padded.contains(" a "))
    ).cast("int")
    fp = F.md5(F.regexp_replace(low, r"\s+", " "))
    m = d.select(
        "source",
        wc.alias("wc"),
        F.length("text").alias("chars"),
        fp.alias("fp"),
        gopher_ok.alias("gopher_ok"),
    )
    cnt = F.count(F.lit(1))
    ndup = cnt - F.count_distinct(F.col("fp"))
    return m.agg(
        cnt.cast("bigint").alias("n_docs"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        F.sum("wc").cast("bigint").alias("total_tokens"),
        F.sum("chars").cast("bigint").alias("total_chars"),
        F.min("wc").cast("bigint").alias("min_tokens"),
        F.max("wc").cast("bigint").alias("max_tokens"),
        F.round(F.sum("wc") / cnt.cast("double"), 6).alias("mean_tokens"),
        ndup.cast("bigint").alias("n_exact_dup_docs"),
        F.round(ndup / cnt.cast("double"), 6).alias("dup_rate"),
        F.round(F.sum("gopher_ok") / cnt.cast("double"), 6).alias("gopher_pass_rate"),
    )


@defquery(
    "knn_pq_adc",
    """
    WITH q AS (SELECT vec_id,
                      list_transform(embedding, x ->
                        CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
               FROM embeddings),
    cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS j, v
           FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 16)),
    enc AS (
      SELECT vec_id, m, j AS code FROM (
        SELECT q.vec_id, s.m, cb.j,
               row_number() OVER (PARTITION BY q.vec_id, s.m ORDER BY
                 list_sum(list_transform(range(1, 9),
                   i -> (q.v[s.m*8+i] - cb.v[s.m*8+i])
                        * (q.v[s.m*8+i] - cb.v[s.m*8+i]))) ASC,
                 cb.j ASC) AS rn
        FROM q CROSS JOIN range(0, 8) s(m) CROSS JOIN cb) t
      WHERE rn = 1),
    qs AS (SELECT vec_id AS query_id, v FROM q WHERE vec_id < 5),
    adc AS (
      SELECT qs.query_id, e.vec_id,
             SUM(list_sum(list_transform(range(1, 9),
               i -> (qs.v[e.m*8+i] - cb.v[e.m*8+i])
                    * (qs.v[e.m*8+i] - cb.v[e.m*8+i])))) AS pq_dist
      FROM enc e JOIN cb ON cb.j = e.code CROSS JOIN qs
      GROUP BY qs.query_id, e.vec_id)
    SELECT query_id, vec_id, CAST(pq_dist AS BIGINT) AS pq_dist, rank FROM (
      SELECT query_id, vec_id, pq_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY pq_dist ASC, vec_id ASC) AS rank
      FROM adc) r
    WHERE rank <= 5
    """,
    "product-quantization ANN with asymmetric distance computation — "
    "the ANN family's memory-bound leg: vectors compress to M=8 "
    "sub-codes (argmin over a 16-entry per-subspace codebook), query "
    "scoring touches ONLY codes via a per-query (M x ksub) distance "
    "table (M lookups + adds per row, corpus scanned once, never "
    "shuffled before the bounded top-k window). Unlike the LSH/IVF "
    "legs (recall-pinned, rows-only), the ENTIRE PQ path is under a "
    "SQL oracle: the codebook is the 16 lowest-id vectors' quantized "
    "subvectors (data points, never means — no division anywhere), so "
    "encode, ADC scoring and the top-k are pure integer arithmetic "
    "both engines replay bit-for-bit. Recall vs the exact scan is "
    "pinned in pytest; production trains the codebooks per subspace "
    "with kmeans_exact/train_ivf_centroids (arithmetic proved by "
    "semantic_dedup_kmeans). At 100 TB: 8-byte codes vs 256-byte "
    "vectors is the difference between codes-in-memory rescoring and "
    "a disk-bound scan; the codebook and distance tables broadcast.",
)
def knn_pq_adc_q(spark, sf_dir):
    from .operators.similarity import knn_pq_adc

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_pq_adc(emb, queries, M=8, ksub=16, k=5)


from .queries import _quality_sql  # noqa: E402  (shared expression tree)

_ES_DENOM = 16 ** 12 + 1  # hex12 uniform: u = (hv + 1) / _ES_DENOM in (0, 1]


@defquery(
    "quality_weighted_sample",
    f"""
    WITH s AS (
      SELECT doc_id, {_quality_sql()} AS quality,
             CAST(concat('0x', substr(md5(concat('esq:', CAST(doc_id AS VARCHAR))), 1, 12))
                  AS BIGINT) AS hv
      FROM documents)
    SELECT doc_id, quality, skey FROM (
      SELECT doc_id, quality,
             round(ln((hv + 1) / {_ES_DENOM}.0) / (quality + 0.1), 6) AS skey
      FROM s) t
    ORDER BY skey DESC, doc_id ASC LIMIT 100
    """,
    "deterministic weighted sampling WITHOUT replacement (Efraimidis-"
    "Spirakis A-Res, published 2006): each doc draws a content-hash "
    "uniform u = (hex12(md5) + 1)/16^12+1 and ranks by ln(u)/w with "
    "w = quality + 0.1 (the shared quality expression tree) — the "
    "top-k by that key IS an exact weighted sample without "
    "replacement, so corpus selection can favor high-quality docs "
    "with a provable distribution instead of ad-hoc thresholding. "
    "No RNG state anywhere: membership survives re-runs, "
    "repartitioning and AQE (the sample_k_per_group contract, "
    "weighted). Cross-engine exactness: the uniform is an exact "
    "rational both engines derive from the same md5 hex, ln is the "
    "one libm call (washed at 6 decimals like every log in the "
    "inventory), and the divisions are single IEEE ops on identical "
    "inputs; doc_id breaks rank ties. The global top-k compiles to "
    "TakeOrderedAndProject — per-partition heaps, k rows to the "
    "driver, NO global sort at any scale.",
)
def quality_weighted_sample_q(spark, sf_dir):
    from .functions import text as TXf

    d = _t(spark, sf_dir, "documents")
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("esq:"), F.col("doc_id").cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    quality = TXf.quality_score(F.col("text"))
    u = (hv + F.lit(1)) / F.lit(float(_ES_DENOM))
    skey = F.round(F.log(u) / (quality + F.lit(0.1)), 6)
    return (
        d.select("doc_id", quality.alias("quality"), skey.alias("skey"))
        .orderBy(F.col("skey").desc(), F.col("doc_id").asc())
        .limit(100)
    )


@defquery(
    "fuzzy_match_parts_blocked",
    """
    WITH p AS (SELECT p_partkey, p_name,
                      string_split(p_name, ' ')[1] AS blk FROM part),
    cand AS (
      SELECT a.p_partkey AS k, b.p_partkey AS m, a.p_name AS name_a,
             b.p_name AS name_b, levenshtein(a.p_name, b.p_name) AS d
      FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey <> b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 3)
    SELECT k AS p_partkey, m AS match_key, name_a, name_b,
           CAST(d AS INT) AS dist
    FROM (SELECT k, m, name_a, name_b, d,
                 row_number() OVER (PARTITION BY k ORDER BY d ASC, m ASC) AS rn
          FROM cand) t
    WHERE rn = 1
    """,
    "entity resolution by BLOCKED fuzzy match — the dedup shape for "
    "dirty entity tables (names, addresses, merchants) rather than "
    "documents: block on a cheap key (first name token) so the "
    "Levenshtein candidate join is bounded by block occupancy instead "
    "of n², cap edit distance at 3, and keep each entity's single "
    "best match (min distance, key tie-break) via the standard "
    "window-top-1. Levenshtein is a JVM builtin on both engines — "
    "identical integer distances, no Python anywhere; the Spark side "
    "runs it CANONICALIZE-THEN-COMPARE (distances over DISTINCT "
    "names, thresholded banded levenshtein, row-level result rebuilt "
    "exactly from per-name min/second-min ids — 47.6s -> 8.3s at "
    "sf0.1 with an identical result set). At 100 TB the block key is "
    "the partitioning key (co-located self-join), the distinct-name "
    "table is Heaps-bounded so the comparator cost tracks vocabulary "
    "not rows, block-size skew gets the same hot-key cap as the "
    "shingle index, and recall is explicitly bounded by the blocking "
    "choice — candidates in different blocks are unseen, the "
    "documented ER trade-off (multi-pass blocking on a second key is "
    "the standard recall repair and composes as a UNION of the same "
    "shape).",
)
def fuzzy_match_parts_blocked_q(spark, sf_dir):
    return _blocked_er(_t(spark, sf_dir, "part").select("p_partkey", "p_name"))


def _blocked_er(parts):
    # Canonicalize-then-compare: entity tables repeat values, so the
    # expensive comparator runs over DISTINCT names (Heaps-bounded),
    # never over row pairs — the row-level result is reconstructed
    # exactly from per-name (min-id, second-min-id), because the
    # original window picks argmin (d, m) with m != k and m only ever
    # needs a name's smallest id (second-smallest when the smallest IS
    # k). The comparator is also thresholded (Spark 3.5+ banded
    # levenshtein returns -1 past the cap — identical kept pairs and
    # distances at O(cap·n) cells per pair). Output is row-for-row the
    # brute-force block join the oracle replays. ``parts`` carries
    # (p_partkey, p_name) — the sf table, or a keys store's rows (the
    # streaming SNM query serves from the store).
    p = parts.select(
        "p_partkey", "p_name", F.split(F.col("p_name"), " ").getItem(0).alias("blk")
    )
    m1 = p.groupBy("p_name", "blk").agg(F.min("p_partkey").alias("m1"))
    m2 = (
        p.join(m1.select("p_name", "m1"), "p_name")
        .filter(F.col("p_partkey") != F.col("m1"))
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("m2"))
    )
    names = m1.join(m2, "p_name", "left")
    na = names.select(F.col("p_name").alias("name_a"), "blk")
    nb = names.select(
        F.col("p_name").alias("name_b"), F.col("blk").alias("blk_b"), "m1", "m2"
    )
    npair = (
        na.join(F.broadcast(nb), F.col("blk") == F.col("blk_b"))
        .withColumn("d", F.levenshtein("name_a", "name_b", 3))
        .filter((F.col("d") >= 0) & (F.col("d") <= 3))
        .select("name_a", "name_b", "d", "m1", "m2")
    )
    cand = (
        p.select(F.col("p_partkey").alias("k"), F.col("p_name").alias("name_a"))
        .join(F.broadcast(npair), "name_a")
        .withColumn(
            "m", F.when(F.col("m1") != F.col("k"), F.col("m1")).otherwise(F.col("m2"))
        )
        .filter(F.col("m").isNotNull())
    )
    w = Window.partitionBy("k").orderBy(F.col("d").asc(), F.col("m").asc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("k").alias("p_partkey"),
            F.col("m").alias("match_key"),
            "name_a",
            "name_b",
            F.col("d").cast("int").alias("dist"),
        )
    )


_SNM_W = 5  # sorted-neighborhood window (positions each side)


def _multipass_er_sql() -> str:
    return f"""
    WITH p AS (SELECT p_partkey, p_name,
                      string_split(p_name, ' ')[1] AS blk FROM part),
    c1 AS (
      SELECT a.p_partkey AS k, b.p_partkey AS m, a.p_name AS name_a,
             b.p_name AS name_b, levenshtein(a.p_name, b.p_name) AS d
      FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey <> b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 3),
    r AS (SELECT p_partkey, p_name,
                 row_number() OVER (ORDER BY reverse(p_name) ASC, p_partkey ASC) AS rn
          FROM p),
    c2 AS (
      SELECT a.p_partkey AS k, b.p_partkey AS m, a.p_name AS name_a,
             b.p_name AS name_b, levenshtein(a.p_name, b.p_name) AS d
      FROM r a JOIN r b
        ON b.rn BETWEEN a.rn - {_SNM_W} AND a.rn + {_SNM_W}
       AND a.p_partkey <> b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 3),
    cand AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
    SELECT k AS p_partkey, m AS match_key, name_a, name_b,
           CAST(d AS INT) AS dist
    FROM (SELECT k, m, name_a, name_b, d,
                 row_number() OVER (PARTITION BY k ORDER BY d ASC, m ASC) AS rn
          FROM cand) t
    WHERE rn = 1
    """


@defquery(
    "streaming_snm_er",
    _multipass_er_sql(),
    "streaming sorted-neighborhood ER (SURVEY round-9 #1) — the "
    "stream-accumulate / rank-global-serve split: entity rows arrive "
    "as a file stream (4 chunks), each micro-batch commits its NEW "
    "keys into a keyed-append store through the atomic manifest "
    "(crashed or replayed micro-batches admit nothing twice — "
    "exactly-once store contents on at-least-once delivery), and "
    "after the stream drains the multi-pass ER (first-token block "
    "UNION sorted-neighborhood) runs FROM THE STORE. SNM's window is "
    "a property of the FINAL sorted order — a mid-stream rank is "
    "provisional by construction — so the rank-global pass belongs "
    "at serve time, exactly like streaming_bm25_index serves from "
    "the drained index rather than re-ranking per batch. Oracle = "
    "the batch multipass SQL verbatim: micro-batch slicing provably "
    "cannot change the stored key set, and the serve is a pure "
    "function of it.",
)
def streaming_snm_er_q(spark, sf_dir):
    from .operators.dedup import table_store_ingest, table_store_read
    from .queries_ext import _fresh_sink_dir, _sink_dir

    srcdir = _sink_dir("snm_er_in", sf_dir)
    store = _fresh_sink_dir("snm_er_store", sf_dir)

    parts = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    chunks = [parts.filter(F.col("p_partkey") % 4 == k) for k in range(4)]

    def apply_batch(bdf, batch_id):
        table_store_ingest(
            bdf.sparkSession, store, bdf, id_col="p_partkey",
            params={"kind": "er-keys"},
        )

    drain(replay_chunks(spark, srcdir, chunks, "p_partkey bigint, p_name string"), apply_batch)
    return _multipass_er(table_store_read(spark, store))


@defquery(
    "fuzzy_match_parts_multipass",
    f"""
    WITH p AS (SELECT p_partkey, p_name,
                      string_split(p_name, ' ')[1] AS blk FROM part),
    c1 AS (
      SELECT a.p_partkey AS k, b.p_partkey AS m, a.p_name AS name_a,
             b.p_name AS name_b, levenshtein(a.p_name, b.p_name) AS d
      FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey <> b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 3),
    r AS (SELECT p_partkey, p_name,
                 row_number() OVER (ORDER BY reverse(p_name) ASC, p_partkey ASC) AS rn
          FROM p),
    c2 AS (
      SELECT a.p_partkey AS k, b.p_partkey AS m, a.p_name AS name_a,
             b.p_name AS name_b, levenshtein(a.p_name, b.p_name) AS d
      FROM r a JOIN r b
        ON b.rn BETWEEN a.rn - {_SNM_W} AND a.rn + {_SNM_W}
       AND a.p_partkey <> b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 3),
    cand AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
    SELECT k AS p_partkey, m AS match_key, name_a, name_b,
           CAST(d AS INT) AS dist
    FROM (SELECT k, m, name_a, name_b, d,
                 row_number() OVER (PARTITION BY k ORDER BY d ASC, m ASC) AS rn
          FROM cand) t
    WHERE rn = 1
    """,
    "multi-pass entity resolution — the Hernandez-Stolfo recall "
    "repair fuzzy_match_parts_blocked's docstring names: pass 1 is "
    "the first-token block (bounded by block occupancy), pass 2 is "
    "the classic SORTED-NEIGHBORHOOD method on an independent key "
    "(records ranked by reversed name, every pair within 5 positions "
    "compared — catches matches whose FIRST token differs, exactly "
    "the pairs pass 1 is blind to), and each entity keeps the single "
    "best match over the UNION (min over per-pass minima == min over "
    "the union, so the passes compose without materializing the "
    "union's candidate multiset). The global rank comes from "
    "operators/prefix.py's two-pass prefix sum — range partition + "
    "P-row driver offsets — NOT an unpartitioned window; neighbor "
    "pairs form by equi-joining width-W rank buckets (each row "
    "explodes to its 3 adjacent buckets, then the exact |Δrn| <= W "
    "filter), so the whole pass is shuffle-bounded at ~3W candidates "
    "per record with no range-join NLJ anywhere. Levenshtein stays "
    "the banded JVM builtin. At 100 TB sorting is Spark's native "
    "strength (the range exchange IS the sort) and W fixes the "
    "comparator budget per record — the standard ER recall/cost dial.",
)
def fuzzy_match_parts_multipass_q(spark, sf_dir):
    return _multipass_er(_t(spark, sf_dir, "part").select("p_partkey", "p_name"))


def _multipass_er(p):
    from .operators.prefix import prefix_sum

    pass1 = _blocked_er(p).select(
        F.col("p_partkey").alias("k"),
        F.col("match_key").alias("m"),
        "name_a",
        "name_b",
        F.col("dist").cast("bigint").alias("d"),
    )

    r = prefix_sum(
        p.withColumn("rk", F.reverse(F.col("p_name"))).withColumn("one", F.lit(1)),
        order_cols=["rk", "p_partkey"],
        value_col="one",
        out_col="rn",
    ).select("p_partkey", "p_name", "rn")
    a = r.select(
        F.col("p_partkey").alias("k"),
        F.col("p_name").alias("name_a"),
        F.col("rn").alias("rna"),
        F.explode(
            F.array(
                F.floor(F.col("rn") / _SNM_W) - 1,
                F.floor(F.col("rn") / _SNM_W),
                F.floor(F.col("rn") / _SNM_W) + 1,
            )
        ).alias("bkt"),
    )
    b = r.select(
        F.col("p_partkey").alias("m"),
        F.col("p_name").alias("name_b"),
        F.col("rn").alias("rnb"),
        F.floor(F.col("rn") / _SNM_W).alias("bkt"),
    )
    pass2 = (
        a.join(b, "bkt")
        .filter(
            (F.abs(F.col("rna") - F.col("rnb")) <= _SNM_W)
            & (F.col("k") != F.col("m"))
        )
        .withColumn("d", F.levenshtein("name_a", "name_b", 3).cast("bigint"))
        .filter((F.col("d") >= 0) & (F.col("d") <= 3))
        .select("k", "m", "name_a", "name_b", "d")
    )
    # per-pass winners suffice: argmin over the union == min of the
    # two per-pass argmins under the same (d, m) total order
    w2 = Window.partitionBy("k").orderBy(F.col("d").asc(), F.col("m").asc())
    best2 = pass2.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") == 1)
    cand = pass1.unionByName(best2.select("k", "m", "name_a", "name_b", "d"))
    w = Window.partitionBy("k").orderBy(F.col("d").asc(), F.col("m").asc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("k").alias("p_partkey"),
            F.col("m").alias("match_key"),
            "name_a",
            "name_b",
            F.col("d").cast("int").alias("dist"),
        )
    )


# ------------------------------------------------------------------
# 13. Oracle-exact IVF retrieval (rows-only family shrinks again)
# ------------------------------------------------------------------


def _knn_ivf_exact_sql(
    k_cells: int = 8, rounds: int = 2, nprobe: int = 2, k: int = 5,
    nq: int = 5, dim: int = 64,
) -> str:
    """DuckDB replay of :func:`operators.similarity.knn_ivf_exact`:
    the shared k-means unroll, then probe selection by the SAME
    rational cost key (row_number <= nprobe per query), then pure-
    HUGEINT squared-L2 over the probed cells and the per-query top-k."""
    ctes = _kmeans_ctes(k=k_cells, rounds=rounds, dim=dim)
    last = f"a{rounds}"
    cent = f"c{rounds}"
    ctes += [
        f"qv AS (SELECT vec_id AS query_id, v FROM q WHERE vec_id < {nq})",
        f"""probe AS (
  SELECT query_id, cid FROM (
    SELECT qv.query_id, c.cid,
           row_number() OVER (PARTITION BY qv.query_id ORDER BY
             {_kmeans_cost_key_sql("qv.v", "c")} ASC, c.cid ASC) AS rn
    FROM qv CROSS JOIN {cent} c) WHERE rn <= {nprobe})""",
        f"""cand AS (
  SELECT probe.query_id, a.vec_id,
         CAST(list_sum(list_transform(list_zip(a.v, qv.v),
              p -> CAST(p[1] - p[2] AS HUGEINT) * (p[1] - p[2]))) AS BIGINT) AS dist
  FROM probe JOIN {last} a ON a.cid = probe.cid
  JOIN qv ON qv.query_id = probe.query_id)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, dist FROM (
  SELECT query_id, vec_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
  FROM cand) t
WHERE rank <= {k}"""
    )


@defquery(
    "knn_ivf_exact",
    _knn_ivf_exact_sql(),
    "IVF ANN under a FULL value-hash oracle — quantizer training, "
    "cell assignment, probe selection, distances, and top-k all "
    "replay identically in DuckDB. ANN operators normally get only a "
    "recall pin because Lloyd + float cosine are order- and "
    "engine-sensitive; here the coarse quantizer is kmeans_exact "
    "(integer (sum,count) centroids, rational-cost argmin), probe "
    "ranking reuses the identical cost key, and candidate scoring is "
    "pure-integer squared L2 over the quantized vectors — so the "
    "oracle unrolls the whole pipeline CTE-by-CTE and the retrieved "
    "lists must hash-match, leaving only IVF-float/PCA in the "
    "recall-pinned family. Spark shape: broadcast (query,cid) probe "
    "pairs onto the assignment (no shuffle), JVM aggregate/zip_with "
    "distances, one per-query top-k window — the production IVF plan "
    "at 100 TB, where assignment is persisted once and each query "
    "batch scans only nprobe/nlist of the corpus.",
)
def knn_ivf_exact_q(spark, sf_dir):
    from .operators.similarity import knn_ivf_exact

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_ivf_exact(emb, queries, k_cells=8, rounds=2, nprobe=2, k=5)


def _retrieval_eval_sql(
    k_cells: int = 8, rounds: int = 2, nprobe: int = 2, k: int = 5,
    nq: int = 5, dim: int = 64,
) -> str:
    """DuckDB replay of the recall@k / reciprocal-rank eval: hold the
    first ``nq`` vectors out as queries, train the IVF quantizer on
    the REMAINING corpus (so the exact NN1 is a genuine neighbor, not
    the query itself), rank both the IVF list and the exhaustive
    integer scan, and score the IVF list against the exact one."""
    ctes = _kmeans_ctes(
        k=k_cells, rounds=rounds, dim=dim, train_where=f"vec_id >= {nq}"
    )
    last = f"a{rounds}"
    cent = f"c{rounds}"
    dist = (
        "CAST(list_sum(list_transform(list_zip(a.v, qv.v), "
        "p -> CAST(p[1] - p[2] AS HUGEINT) * (p[1] - p[2]))) AS BIGINT)"
    )
    ctes += [
        f"qv AS (SELECT vec_id AS query_id, v FROM q WHERE vec_id < {nq})",
        f"""probe AS (
  SELECT query_id, cid FROM (
    SELECT qv.query_id, c.cid,
           row_number() OVER (PARTITION BY qv.query_id ORDER BY
             {_kmeans_cost_key_sql("qv.v", "c")} ASC, c.cid ASC) AS rn
    FROM qv CROSS JOIN {cent} c) WHERE rn <= {nprobe})""",
        f"""cand AS (
  SELECT probe.query_id, a.vec_id, {dist} AS dist
  FROM probe JOIN {last} a ON a.cid = probe.cid
  JOIN qv ON qv.query_id = probe.query_id)""",
        f"""ivfk AS (
  SELECT query_id, vec_id, rank FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
    FROM cand) t WHERE rank <= {k})""",
        f"""exactk AS (
  SELECT query_id, vec_id, rank FROM (
    SELECT qv.query_id, a.vec_id,
           row_number() OVER (PARTITION BY qv.query_id ORDER BY {dist} ASC, a.vec_id ASC) AS rank
    FROM qv CROSS JOIN qtrain a) t WHERE rank <= {k})""",
        """hit AS (
  SELECT e.query_id, count(*) AS n_hit
  FROM exactk e JOIN ivfk i ON i.query_id = e.query_id AND i.vec_id = e.vec_id
  GROUP BY e.query_id)""",
        "nn1 AS (SELECT query_id, vec_id FROM exactk WHERE rank = 1)",
        """rr AS (
  SELECT n.query_id, CAST(1 AS DOUBLE) / CAST(i.rank AS DOUBLE) AS r
  FROM nn1 n JOIN ivfk i ON i.query_id = n.query_id AND i.vec_id = n.vec_id)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT qq.query_id,
       round(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST({k} AS DOUBLE), 6) AS recall_at_k,
       round(COALESCE(r.r, CAST(0 AS DOUBLE)), 6) AS rr_nn1
FROM (SELECT query_id FROM qv) qq
LEFT JOIN hit h ON h.query_id = qq.query_id
LEFT JOIN rr r ON r.query_id = qq.query_id"""
    )


@defquery(
    "retrieval_recall_eval",
    _retrieval_eval_sql(),
    "the retrieval QUALITY gate — recall@5 and NN1 reciprocal rank "
    "for the IVF path against the exhaustive integer scan, as an "
    "oracle-hashed query instead of a pytest pin (the recall contract "
    "moves into the driver gate where regressions in quantizer, "
    "probing or ranking arithmetic become hash mismatches): the first "
    "5 vectors are HELD OUT as queries and the quantizer trains on "
    "the remaining corpus, so the exact NN1 is a genuine neighbor "
    "rather than the query itself and the metrics are non-trivial. "
    "Both rankings are integer-exact (quantized L2, (dist, id) total "
    "order), recall = |ivf_top5 ∩ exact_top5|/5 and rr = 1/rank are "
    "single IEEE divisions on identical integer operands — the whole "
    "eval replays CTE-by-CTE in DuckDB. Spark shape: the IVF side is "
    "knn_ivf_exact unchanged (probed-cells-only scan); the exact side "
    "explodes the 5 query vectors as LITERAL structs onto the corpus "
    "scan (no join, no NLJ — the hand-rolled broadcast), and each "
    "per-query ranking is one partitioned window. At 100 TB you run "
    "this on a held-out sample per index build — the eval cost is one "
    "corpus scan per query batch, and the output is the dashboard "
    "row that decides nprobe/k_cells budgets.",
)
def retrieval_recall_eval_q(spark, sf_dir):
    from .operators.similarity import knn_ivf_exact

    nq, k = 5, 5
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= nq)
    queries = emb.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivfk = knn_ivf_exact(
        corpus, queries, k_cells=8, rounds=2, nprobe=2, k=k
    ).select("query_id", "vec_id", "rank")

    scale = 10 ** 6
    qrows = queries.select(
        "query_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * scale, 0).cast("long"),
        ).alias("v"),
    ).collect()
    qlit = F.array(
        *[
            F.struct(
                F.lit(int(r.query_id)).alias("query_id"),
                F.array(*[F.lit(int(x)) for x in r.v]).alias("qv"),
            )
            for r in qrows
        ]
    )
    q = corpus.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * scale, 0).cast("long"),
        ).alias("v"),
    )
    dist = F.aggregate(
        F.zip_with("v", F.col("qq.qv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        q.select("vec_id", "v", F.explode(qlit).alias("qq"))
        .select(F.col("qq.query_id").alias("query_id"), "vec_id", dist.alias("dist"))
    )
    we = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    exactk = (
        scored.withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank")
    )
    hit = exactk.join(ivfk.select("query_id", "vec_id"), ["query_id", "vec_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    nn1 = exactk.filter(F.col("rank") == 1).select("query_id", "vec_id")
    rr = nn1.join(ivfk, ["query_id", "vec_id"]).select(
        "query_id", (F.lit(1).cast("double") / F.col("rank").cast("double")).alias("r")
    )
    return (
        queries.select("query_id")
        .join(hit, "query_id", "left")
        .join(rr, "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.lit(k).cast("double"),
                6,
            ).alias("recall_at_k"),
            F.round(F.coalesce(F.col("r"), F.lit(0).cast("double")), 6).alias("rr_nn1"),
        )
    )


# ------------------------------------------------------------------
# 14. Oracle-exact PCA power iteration (the last rows-only *family*
#     member that could be promoted — IVF-float stays recall-pinned)
# ------------------------------------------------------------------


def _pca_power_sql(iters: int = 5, dim: int = 64) -> str:
    """DuckDB replay of :func:`operators.similarity.pca_power_exact`,
    unrolled one CTE block per power iteration: quantize, center on
    the rounded integer mean, then per iteration one HUGEINT
    matrix-vector product and one round-half-away renormalization —
    the identical arithmetic, so the projections hash-match."""
    ctes = [
        """q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
  FROM embeddings)""",
        f"""mean AS (
  SELECT list(CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) ORDER BY pos) AS m
  FROM (SELECT t.pos, SUM(CAST(q.v[t.pos] AS HUGEINT)) AS s, MAX(cnt.n) AS n
        FROM q CROSS JOIN range(1, {dim + 1}) t(pos)
        CROSS JOIN (SELECT COUNT(*) AS n FROM q) cnt
        GROUP BY t.pos))""",
        """c AS (
  SELECT vec_id, list_transform(list_zip(v, m), p -> p[1] - p[2]) AS c
  FROM q CROSS JOIN mean)""",
        f"""w0 AS (
  SELECT list_transform(range(1, {dim + 1}), x -> CAST(1000000 AS BIGINT)) AS w)""",
    ]
    for r in range(1, iters + 1):
        ctes += [
            f"""s{r} AS (
  SELECT t.pos,
         SUM(CAST(list_sum(list_transform(list_zip(c.c, w.w), p -> CAST(p[1] AS HUGEINT)*p[2])) AS HUGEINT)
             * c.c[t.pos]) AS s
  FROM c CROSS JOIN w{r - 1} w CROSS JOIN range(1, {dim + 1}) t(pos)
  GROUP BY t.pos)""",
            f"""w{r} AS (
  SELECT list(CAST(round(CAST(s AS DOUBLE) * 1000000.0 / CAST(mx AS DOUBLE)) AS BIGINT) ORDER BY pos) AS w
  FROM s{r} CROSS JOIN (SELECT MAX(ABS(s)) AS mx FROM s{r}) m)""",
        ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT c.vec_id,
       CAST(list_sum(list_transform(list_zip(c.c, w.w), p -> CAST(p[1] AS HUGEINT)*p[2])) AS BIGINT) AS p1
FROM c CROSS JOIN w{iters} w"""
    )


@defquery(
    "embedding_pca_power",
    _pca_power_sql(),
    "first principal component under a FULL value-hash oracle — the "
    "promotion kmeans_exact gave clustering, applied to the "
    "eigendecomposition that kept PCA rows-only: each power iterate "
    "re-quantizes to integers (round-half-away matches Spark ROUND, "
    "DuckDB round(), Python Decimal HALF_UP), centering uses the "
    "rounded integer mean (<= half a quantum per component), the "
    "matrix-vector product accumulates HUGEINT/DECIMAL (order-free "
    "under any AQE slicing), and renormalization is one IEEE multiply "
    "+ divide on correctly-rounded int->double operands — so DuckDB "
    "unrolls all 5 iterations CTE-by-CTE and the per-row projections "
    "hash-match. Spark shape per iteration: one JVM aggregate/"
    "zip_with dot pass + one posexplode/groupBy-pos DECIMAL sum "
    "collecting exactly dim rows — the corpus never shuffles, driver "
    "traffic is dim rows x iters. Convergence vs numpy's "
    "eigendecomposition is pytest-pinned (|cos| >= 0.99) on "
    "planted-spectral-gap data — the near-isotropic test corpus "
    "(lambda2/lambda1 ~ 0.93+) defeats ANY power method, where this "
    "stays deterministic and oracle-exact anyway; production keeps "
    "the Arrow-batched float path (pca_project) for throughput, with "
    "this exact twin as its CI anchor.",
)
def embedding_pca_power_q(spark, sf_dir):
    from .operators.similarity import pca_power_exact

    return pca_power_exact(_t(spark, sf_dir, "embeddings"), iters=5)


# ------------------------------------------------------------------
# 15. BM25 retrieval (the RAG-serving query shape)
# ------------------------------------------------------------------

_BM25_QUERIES = [
    (1, "hash"), (1, "join"),
    (2, "vector"), (2, "scan"), (2, "filter"),
    (3, "stream"), (3, "window"),
]
_BM25_K = 10  # results per query (k1=1.2, b=0.75 inside the formulas)


def _bm25_sql(k: int = _BM25_K, where: str | None = None) -> str:
    """BM25 from-scratch oracle; ``where`` restricts the corpus (the
    serve-after-takedown oracle: index over documents minus deletions —
    df/N/S all shift, exactly like the store's reduced tables)."""
    vals = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)
    wsql = f" WHERE {where}" if where else ""
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
      FROM documents{wsql}),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, sum(dl) AS s FROM dl),
    dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    qt AS (SELECT * FROM (VALUES {vals}) v(query_id, token)),
    cand AS (
      SELECT qt.query_id, tf.doc_id,
             round(round(ln(((CAST(stats.n AS DOUBLE) - CAST(dfreq.df AS DOUBLE) + 0.5)
                             / (CAST(dfreq.df AS DOUBLE) + 0.5)) + 1.0), 6)
                   * ((CAST(tf.tf AS DOUBLE) * 2.2)
                      / (CAST(tf.tf AS DOUBLE)
                         + 1.2 * (0.25 + 0.75 * (CAST(dl.dl * stats.n AS DOUBLE)
                                                 / CAST(stats.s AS DOUBLE))))), 6) AS c
      FROM qt
      JOIN tf ON tf.token = qt.token
      JOIN dfreq ON dfreq.token = qt.token
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats),
    scores AS (
      SELECT query_id, doc_id, SUM(CAST(c AS DECIMAL(38,6))) AS score
      FROM cand GROUP BY query_id, doc_id)
    SELECT CAST(query_id AS INT) AS query_id, CAST(rank AS INT) AS rank, doc_id,
           CAST(score AS DOUBLE) AS score
    FROM (SELECT query_id, doc_id, score,
                 row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
          FROM scores) t
    WHERE rank <= {k}
    """


@defquery(
    "bm25_topk",
    _bm25_sql(),
    "BM25 top-k retrieval (Robertson-Sparck Jones; Lucene's +1 idf "
    "form, k1=1.2, b=0.75) — the lexical-retrieval query a RAG "
    "serving layer runs against the same corpus the pipeline curates. "
    "Cross-engine exactness follows the repo's two standing rules: "
    "the ONE libm call (ln of the idf odds, on exact integer-derived "
    "operands) is washed at 6dp, per-(query,doc) term contributions "
    "are rounded then DECIMAL(38,6)-summed so accumulation order "
    "cannot matter, and every float expression is written with the "
    "identical IEEE op order in both engines (dl*N stays integer "
    "until the single divide by the integer token total). Spark "
    "shape: tf/dl/df are three hash aggregates over one tokenize "
    "pass, query terms broadcast onto the postings (candidates = "
    "docs containing >= 1 query term, never the full corpus), "
    "corpus scalars ride a 1-row broadcast — at 100 TB tf IS the "
    "inverted index (token-partitioned, built once, incrementally "
    "maintainable like the dedup stores), and the per-query top-k "
    "window is bounded by posting-list size.",
)
def bm25_topk_q(spark, sf_dir):
    from .operators.retrieval import bm25_rank, tokenize_ws

    d = _t(spark, sf_dir, "documents")
    tf = tokenize_ws(d).groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # doc length == sum of its term frequencies: dl derives from tf, so
    # the corpus is tokenized ONCE (the scan+explode is the 100 TB cost)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    qt = local_df(d.sparkSession, _BM25_QUERIES, "query_id int, token string")
    return bm25_rank(tf, dl, qt, k=_BM25_K)


# ------------------------------------------------------------------
# 16. Multi-round BPE training (the tokenizer-training LOOP, not just
#     its first iteration)
# ------------------------------------------------------------------

_BPE_ROUNDS = 5


def _bpe_train_sql(
    rounds: int = _BPE_ROUNDS,
    extra_ctes: list | None = None,
    final_sql: str | None = None,
) -> str:
    """DuckDB replay of the full BPE training loop, unrolled one CTE
    block per merge: ``v{r}`` = the vocabulary re-segmented after r
    merges (seg = space-delimited symbols with sentinel spaces, so a
    plain-substring ``position()`` match aligns to symbol boundaries
    — no regex, no metacharacter hazards), ``p{r}`` = round r's
    winning pair, ``rec{r}`` = a recursive CTE that merges the FIRST
    remaining occurrence until none is left. First-occurrence
    iteration equals the one-pass left-to-right greedy merge Spark
    applies (merging (l, r) -> lr can never create a new occurrence
    adjacent to the merge site: lr = l or lr = r would need an empty
    side), and each merge shortens seg by exactly one character, so
    "min length per word" selects the fixed point."""
    pat = "(' '||l||' '||r||' ')"
    ctes = [
        r"""tok AS (
  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> w <> '')) AS word
  FROM documents)""",
        """v0 AS (
  SELECT word, count(*) AS freq,
         ' ' || list_aggregate(list_transform(range(1, len(word)+1), i -> word[CAST(i AS INT)]), 'string_agg', ' ') || ' ' AS seg
  FROM tok GROUP BY word)""",
    ]
    for r in range(1, rounds + 1):
        ctes += [
            f"""p{r} AS (
  SELECT l, r, SUM(freq) AS n FROM (
    SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT)+1] AS r, freq
    FROM (SELECT freq, list_filter(string_split(seg, ' '), s -> s <> '') AS syms FROM v{r - 1}) t,
         unnest(range(1, greatest(len(syms)-1, 0)+1)) u(i))
  GROUP BY l, r ORDER BY n DESC, l ASC, r ASC LIMIT 1)""",
            f"""rec{r} AS (
  SELECT word, freq, seg FROM v{r - 1}
  UNION ALL
  SELECT word, freq,
         substr(seg, 1, position({pat} IN seg) - 1) || ' ' || l || r || ' ' ||
         substr(seg, position({pat} IN seg) + len({pat}))
  FROM rec{r}, p{r}
  WHERE position({pat} IN seg) > 0)""",
            f"""v{r} AS (
  SELECT word, freq, seg FROM (
    SELECT word, freq, seg, row_number() OVER (PARTITION BY word ORDER BY len(seg) ASC) AS rn
    FROM rec{r}) WHERE rn = 1)""",
        ]
    ctes += list(extra_ctes or [])
    if final_sql is None:
        final_sql = " UNION ALL ".join(
            f"SELECT CAST({r} AS INT) AS rnd, l AS merge_left, r AS merge_right, CAST(n AS BIGINT) AS n FROM p{r}"
            for r in range(1, rounds + 1)
        )
    return "WITH RECURSIVE " + ",\n".join(ctes) + f"\n{final_sql}"


@defquery(
    "bpe_train_merges",
    _bpe_train_sql(),
    "the COMPLETE BPE tokenizer-training loop (Sennrich et al. 2016) "
    "— not just the first iteration bpe_merge_pairs counts: learn 5 "
    "merges, re-segmenting the vocabulary after each, exactly as a "
    "tokenizer trainer does. Spark per round: pair counts explode "
    "over the VOCABULARY (Heaps-bounded — the corpus is touched once, "
    "by the word-count aggregate), the winning (pair, count) is one "
    "collected row, and the merge applies as a JVM aggregate() fold "
    "over each word's symbol array — one-pass left-to-right greedy, "
    "provably equal to the oracle's iterate-first-occurrence "
    "recursive CTE because a merge can never create a new occurrence "
    "adjacent to its own site. Integer counts + (n DESC, l, r) "
    "tie-break keep every round's winner engine-exact, so the learned "
    "merge table hash-matches. At 100 TB: state is vocab-sized, "
    "rounds localCheckpoint between iterations (flat plans), and the "
    "real trainer runs thousands of rounds of the SAME shape.",
)
def bpe_train_merges_q(spark, sf_dir):
    # the fold, pair selection and vocab bootstrap are the SAME
    # functions the versioned merge store trains with
    # (operators/tokenizer_store.py) — one implementation, so the
    # store-continuation contract (train(3)+train(2) == one 5-round
    # sitting == this query) can't silently fork
    from .operators.tokenizer_store import _corpus_vocab, apply_merge, top_pair

    d = _t(spark, sf_dir, "documents")
    vocab = freeze(_corpus_vocab(d, "text"))

    merges = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        top = top_pair(vocab)
        if top is None:
            raise ValueError(f"bpe_train_merges: vocabulary exhausted at round {rnd}")
        l, r, n = top
        merges.append((rnd, l, r, n))
        prev, vocab = vocab, freeze(vocab.select("word", "freq", apply_merge("syms", l, r).alias("syms")))
        release(prev)

    return local_df(
        spark, merges, "rnd int, merge_left string, merge_right string, n bigint"
    )


# ------------------------------------------------------------------
# 17. OHLC downsampling (time-series rollup)
# ------------------------------------------------------------------


@defquery(
    "events_ohlc_hourly",
    """
    WITH e AS (
      SELECT event_type, (CAST(epoch_ms(ts) AS BIGINT) // 3600000) * 3600000 AS window_start_ms,
             CAST(epoch_ms(ts) AS BIGINT) AS ms, event_id, value
      FROM events),
    ranked AS (
      SELECT event_type, window_start_ms, value,
             row_number() OVER (PARTITION BY event_type, window_start_ms ORDER BY ms ASC, event_id ASC) AS rn_open,
             row_number() OVER (PARTITION BY event_type, window_start_ms ORDER BY ms DESC, event_id DESC) AS rn_close
      FROM e)
    SELECT event_type, window_start_ms,
           MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
           COUNT(*) AS n
    FROM ranked
    GROUP BY event_type, window_start_ms
    """,
    "OHLC downsampling — the financial/telemetry rollup shape: per "
    "(series, hour) the first/max/min/last value plus count. Spark "
    "computes open/close with min_by/max_by over a (ts, event_id) "
    "struct — ONE hash aggregate, no window, no second shuffle "
    "(the oracle uses the equivalent row_number formulation; the "
    "(ts, event_id) tie-break makes first/last total-ordered so both "
    "agree exactly — values are untouched parquet doubles, no "
    "arithmetic anywhere). At 100 TB this is the map-side-combinable "
    "rollup: min_by/max_by/min/max/count all have partial aggregates, "
    "so the exchange carries one row per (series, hour) per partition "
    "— the downsample that turns a raw 100 TB tick table into the "
    "dashboard-sized hypertable, at scan cost.",
)
def events_ohlc_hourly_q(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        ((F.floor(F.unix_millis(F.col("ts")) / 3600000)) * 3600000).cast("bigint").alias("window_start_ms"),
        F.unix_millis(F.col("ts")).alias("ms"),
        "event_id",
        "value",
    )
    ordk = F.struct(F.col("ms"), F.col("event_id"))
    return e.groupBy("event_type", "window_start_ms").agg(
        F.min_by("value", ordk).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ordk).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


@defquery(
    "bm25_index_incremental",
    _bm25_sql(),
    "BM25 served from the PERSISTED incrementally-built inverted "
    "index — bm25_topk's production form: three ingest batches "
    "(sources 0-9, 10-14, 15-19) commit postings/doclen through the "
    "same atomic _BATCHES manifest as the dedup stores (two-phase "
    "commit, flock'd swap, idempotent replay via doc_id anti-join), "
    "then the top-k is ranked from the store, NOT the corpus. The "
    "oracle is bm25_topk's from-scratch SQL verbatim: documents never "
    "split across batches, so the store's union tables equal the "
    "batch-built ones under ANY slicing — batch placement provably "
    "irrelevant, the streaming_incremental_dedup argument applied to "
    "retrieval. The whole store lifecycle applies unchanged: "
    "compact_incremental_store(cluster_by={'postings': ['token']}) "
    "restores token co-location, delete_from_incremental_store "
    "serves takedown, read_incremental_store_asof time travel — "
    "pinned in tests/test_operators.py.",
)
def bm25_index_incremental_q(spark, sf_dir):
    from .operators.retrieval import bm25_index_ingest, bm25_index_topk
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("bm25_index", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    bm25_index_ingest(spark, path, d.filter(src_num < 10))
    bm25_index_ingest(spark, path, d.filter((src_num >= 10) & (src_num < 15)))
    bm25_index_ingest(spark, path, d.filter(src_num >= 15))
    qt = local_df(spark, _BM25_QUERIES, "query_id int, token string")
    return bm25_index_topk(spark, path, qt, k=_BM25_K)


@defquery(
    "streaming_bm25_index",
    _bm25_sql(),
    "continuous indexing: the corpus arrives as a file stream (4 "
    "chunks, maxFilesPerTrigger=1) and every micro-batch runs "
    "bm25_index_ingest inside foreachBatch — postings/doclen commit "
    "through the same atomic _BATCHES manifest, so a crashed "
    "micro-batch is invisible and Structured Streaming's replay "
    "re-admits identically (the doc_id anti-join absorbs the "
    "overlap). After the stream drains, the top-k is served FROM THE "
    "STORE and must hash-match bm25_topk's from-scratch oracle: "
    "micro-batch slicing provably cannot change the index contents. "
    "This is streaming_incremental_dedup's argument applied to the "
    "serving index — the continuous-ingest loop a 100 TB retrieval "
    "deployment actually runs (stream in, index incrementally, "
    "compact on cadence, serve forever).",
)
def streaming_bm25_index_q(spark, sf_dir):
    from .operators.retrieval import bm25_index_ingest, bm25_index_topk
    from .queries_ext import _fresh_sink_dir, _sink_dir

    srcdir = _sink_dir("stream_bm25_in", sf_dir)
    store = _fresh_sink_dir("stream_bm25_index", sf_dir)

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    max_id = d.agg(F.max("doc_id")).first()[0]  # 1-row driver scalar
    span = (max_id + 4) // 4
    chunks = [
        d.filter((F.col("doc_id") >= k * span) & (F.col("doc_id") < (k + 1) * span))
        for k in range(4)
    ]

    def apply_batch(bdf, batch_id):
        bm25_index_ingest(bdf.sparkSession, store, bdf)

    drain(replay_chunks(spark, srcdir, chunks, "doc_id bigint, text string"), apply_batch)
    qt = local_df(spark, _BM25_QUERIES, "query_id int, token string")
    return bm25_index_topk(spark, store, qt, k=_BM25_K)


def _bm25_ndcg_sql(k: int = 10) -> str:
    vals = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)
    return f"""
    WITH ranked AS ({_bm25_sql(k=k)}),
    toks2 AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
      FROM documents),
    qt2 AS (SELECT DISTINCT * FROM (VALUES {vals}) v(query_id, token)),
    rel AS (
      SELECT qt2.query_id, toks2.doc_id, count(DISTINCT qt2.token) AS rel
      FROM qt2 JOIN toks2 ON toks2.token = qt2.token
      GROUP BY qt2.query_id, toks2.doc_id),
    dcg AS (
      SELECT r.query_id,
             SUM(CAST(round((pow(2, rel.rel) - 1) / round(log2(r.rank + 1), 6), 6)
                 AS DECIMAL(38,6))) AS dcg
      FROM ranked r JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
      GROUP BY r.query_id),
    ideal AS (
      SELECT query_id, rel,
             row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) AS rank
      FROM rel),
    idcg AS (
      SELECT query_id,
             SUM(CAST(round((pow(2, rel) - 1) / round(log2(rank + 1), 6), 6)
                 AS DECIMAL(38,6))) AS idcg
      FROM ideal WHERE rank <= {k} GROUP BY query_id),
    nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant FROM rel GROUP BY query_id)
    SELECT CAST(d.query_id AS INT) AS query_id,
           round(CAST(d.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE), 6) AS ndcg_at_k,
           n.n_relevant
    FROM dcg d
    JOIN idcg i ON i.query_id = d.query_id
    JOIN nrel n ON n.query_id = d.query_id
    """


@defquery(
    "bm25_ndcg_eval",
    _bm25_ndcg_sql(),
    "the LEXICAL retrieval quality gate — nDCG@10 for bm25_topk's "
    "ranking under graded relevance, completing the eval pair with "
    "retrieval_recall_eval's vector leg (SURVEY round-9 #2): "
    "relevance of (query, doc) is the count of distinct query terms "
    "the doc contains — exact integer labels derived from the same "
    "tokenize both engines replay, no human judgments needed for a "
    "correctness gate. DCG follows the repo's washed-libm contract: "
    "log2(rank+1) washes at 6dp, each gain/discount contribution "
    "rounds then DECIMAL(38,6)-sums (order-free), IDCG comes from the "
    "ideal (rel DESC, doc_id) ordering of ALL relevant docs, and the "
    "final ratio is one IEEE division — so a ranking regression "
    "anywhere in BM25's idf/length arithmetic shifts a 6-decimal "
    "hash. Spark shape: relevance labels join the broadcast query "
    "terms onto the token stream (posting-bounded, never "
    "corpus-bounded), both DCG legs are per-query windows over "
    "candidate-sized inputs. At 100 TB this is the regression "
    "dashboard row a serving team watches per index rebuild.",
)
def bm25_ndcg_eval_q(spark, sf_dir):
    from .operators.retrieval import tokenize_ws

    k = _BM25_K
    dec = "decimal(38,6)"
    ranked = bm25_topk_q(spark, sf_dir).select("query_id", "doc_id", "rank")
    d = _t(spark, sf_dir, "documents")
    toks = tokenize_ws(d)
    qt = local_df(
        spark, sorted(set(_BM25_QUERIES)), "query_id int, token string"
    )
    rel = (
        qt.join(toks, "token")
        .groupBy("query_id", "doc_id")
        .agg(F.count_distinct("token").alias("rel"))
    )

    def contrib(rel_col, rank_col):
        return F.round(
            (F.pow(F.lit(2), rel_col) - F.lit(1))
            / F.round(F.log2(rank_col + F.lit(1)), 6),
            6,
        ).cast(dec)

    dcg = (
        ranked.join(rel, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.sum(contrib(F.col("rel"), F.col("rank"))).alias("dcg"))
    )
    wi = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    idcg = (
        rel.withColumn("rank", F.row_number().over(wi))
        .filter(F.col("rank") <= k)
        .groupBy("query_id")
        .agg(F.sum(contrib(F.col("rel"), F.col("rank"))).alias("idcg"))
    )
    nrel = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_relevant")
    )
    return (
        dcg.join(idcg, "query_id")
        .join(nrel, "query_id")
        .select(
            F.col("query_id").cast("int").alias("query_id"),
            F.round(
                F.col("dcg").cast("double") / F.col("idcg").cast("double"), 6
            ).alias("ndcg_at_k"),
            "n_relevant",
        )
    )


# ------------------------------------------------------------------
# 18. Persisted ANN (IVF) index — vector retrieval's serving store
# ------------------------------------------------------------------


def _ann_index_sql(
    k_cells: int = 8, rounds: int = 2, nprobe: int = 2, k: int = 5,
    nq: int = 5, dim: int = 64,
    train_where: str | None = "vec_id < (SELECT max(vec_id) // 2 FROM q)",
    exclude_where: str | None = None,
    scale: float = 1000000.0,
) -> str:
    """DuckDB replay of the frozen-quantizer ANN store: train
    kmeans_exact on the BOOTSTRAP batch only (vec_id < max//2), then
    assign EVERY vector under the frozen final centroids — exactly
    what ingest-under-frozen-centroids accumulates in the store, for
    any slicing of the non-bootstrap batches — then probe/score/top-k
    as in the knn_ivf_exact oracle. ``train_where=None`` trains on ALL
    vectors (the re-train-rewrite oracle: the store's Lloyd re-runs
    over every stored vector). ``exclude_where`` (a predicate over
    alias ``a``) drops candidates — the takedown oracle: deleted
    vectors leave the candidate set but the quantizer stays frozen,
    exactly like the store after delete_from_incremental_store."""
    ctes = _kmeans_ctes(
        k=k_cells, rounds=rounds, dim=dim,
        train_where=train_where, scale=scale,
    )
    cent = f"c{rounds}"
    excl = f"\n  WHERE NOT ({exclude_where})" if exclude_where else ""
    ctes += [
        _kmeans_assign_cte("afull", cent, "q"),
        f"qv AS (SELECT vec_id AS query_id, v FROM q WHERE vec_id < {nq})",
        f"""probe AS (
  SELECT query_id, cid FROM (
    SELECT qv.query_id, c.cid,
           row_number() OVER (PARTITION BY qv.query_id ORDER BY
             {_kmeans_cost_key_sql("qv.v", "c")} ASC, c.cid ASC) AS rn
    FROM qv CROSS JOIN {cent} c) WHERE rn <= {nprobe})""",
        f"""cand AS (
  SELECT probe.query_id, a.vec_id,
         CAST(list_sum(list_transform(list_zip(a.v, qv.v),
              p -> CAST(p[1] - p[2] AS HUGEINT) * (p[1] - p[2]))) AS BIGINT) AS dist
  FROM probe JOIN afull a ON a.cid = probe.cid
  JOIN qv ON qv.query_id = probe.query_id{excl})""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, dist FROM (
  SELECT query_id, vec_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
  FROM cand) t
WHERE rank <= {k}"""
    )


@defquery(
    "ann_index_incremental",
    _ann_index_sql(),
    "integer-exact IVF kNN served from a PERSISTED, incrementally-"
    "built vector index — the FAISS deployment contract (train once, "
    "add forever) under a full value-hash oracle: the first ingest "
    "batch bootstraps kmeans_exact and freezes its integer (sum, "
    "count) centroids in _CENTROIDS (tmp + os.replace, before the "
    "first manifest publish); every batch commits its cell assignment "
    "through the same atomic _BATCHES manifest as the dedup/BM25 "
    "stores (idempotent replay via vec_id anti-join); serving probes "
    "nprobe cells with the identical rational-cost ranking and scans "
    "only probed cells. Frozen centroids make a vector's cell "
    "independent of WHEN it arrived, so the oracle needs only the "
    "bootstrap predicate — assign everything under the bootstrap-"
    "trained centroids — and any slicing of later batches "
    "hash-matches. Store lifecycle (cid-clustered compaction, "
    "takedown, time travel) applies unchanged; re-training the "
    "quantizer is a store rewrite, not an ingest. Pinned further in "
    "test_ann_index_store_lifecycle.",
)
def ann_index_incremental_q(spark, sf_dir):
    from .operators.retrieval import ann_index_ingest, ann_index_topk
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("ann_index", sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("bigint").alias("b")).first()[0]
    ann_index_ingest(spark, path, emb.filter(F.col("vec_id") < half))
    rest = emb.filter(F.col("vec_id") >= half)
    ann_index_ingest(spark, path, rest.filter(F.col("vec_id") % 2 == 0))
    ann_index_ingest(spark, path, rest.filter(F.col("vec_id") % 2 == 1))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_index_topk(spark, path, queries, nprobe=2, k=5)


@defquery(
    "bm25_index_deleted",
    _bm25_sql(where="NOT (doc_id % 7 = 3)"),
    "serve-after-takedown for the retrieval store (the claim "
    "operators/retrieval.py's header makes, promoted to a hash "
    "proof): the full corpus is indexed in three batches, every "
    "doc_id % 7 == 3 document is removed via delete_from_"
    "incremental_store's crash-safe rewrite over (doclen, postings), "
    "and the top-k is served from the reduced store. The oracle is a "
    "FROM-SCRATCH index over the corpus minus the deleted docs — so "
    "the match proves deletion removed the docs' postings AND their "
    "contribution to every corpus statistic (N, total length, per-"
    "term df), not merely their ids: a store that kept ghost rows in "
    "doclen would shift each BM25 idf/length normalizer and miss the "
    "hash. Mirrors dedup_incremental_minhash_deleted's shape for the "
    "serving side of the house.",
)
def bm25_index_deleted_q(spark, sf_dir):
    from .operators.dedup import delete_from_incremental_store
    from .operators.retrieval import bm25_index_ingest, bm25_index_topk
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("bm25_index_deleted", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    bm25_index_ingest(spark, path, d.filter(src_num < 10))
    bm25_index_ingest(spark, path, d.filter((src_num >= 10) & (src_num < 15)))
    bm25_index_ingest(spark, path, d.filter(src_num >= 15))
    victims = d.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    delete_from_incremental_store(
        spark, path, victims, id_col="doc_id", tables=("doclen", "postings")
    )
    qt = local_df(spark, _BM25_QUERIES, "query_id int, token string")
    return bm25_index_topk(spark, path, qt, k=_BM25_K)


@defquery(
    "ann_index_deleted",
    _ann_index_sql(exclude_where="a.vec_id % 7 = 3"),
    "serve-after-takedown for the vector store: after the standard "
    "bootstrap + 2 ingests, every vec_id % 7 == 3 vector is removed "
    "from the cells table via delete_from_incremental_store's "
    "crash-safe rewrite, then kNN is served from the reduced store. "
    "The quantizer stays FROZEN through a delete (removing vectors "
    "never re-trains — the FAISS remove_ids contract), so the oracle "
    "is the standard bootstrap-trained replay with the deleted ids "
    "dropped from the candidate set only: probes are unchanged, "
    "candidates shrink, ranks close up. A hash match proves the "
    "store retains no signature bytes for the deleted vectors while "
    "every survivor's distance and rank is untouched.",
)
def ann_index_deleted_q(spark, sf_dir):
    from .operators.dedup import delete_from_incremental_store
    from .operators.retrieval import ann_index_ingest, ann_index_topk
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("ann_index_deleted", sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("bigint").alias("b")).first()[0]
    ann_index_ingest(spark, path, emb.filter(F.col("vec_id") < half))
    rest = emb.filter(F.col("vec_id") >= half)
    ann_index_ingest(spark, path, rest.filter(F.col("vec_id") % 2 == 0))
    ann_index_ingest(spark, path, rest.filter(F.col("vec_id") % 2 == 1))
    victims = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    delete_from_incremental_store(
        spark, path, victims, id_col="vec_id", tables=("cells",)
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_index_topk(spark, path, queries, nprobe=2, k=5)


def _ann_drift_sql(
    k_cells: int = 8, rounds: int = 2, dim: int = 64,
) -> str:
    """DuckDB replay of the drift monitor: frozen bootstrap centroids
    (sum s_f, count n_f) vs the CURRENT per-cell member statistics
    (sum s_now, count n_now) — squared displacement of the two means
    as the exact integer ratio Σ_p (s_now·n_f − s_f·n_now)² /
    (n_now·n_f)², one double division per cell."""
    ctes = _kmeans_ctes(
        k=k_cells, rounds=rounds, dim=dim,
        train_where="vec_id < (SELECT max(vec_id) // 2 FROM q)",
    )
    cent = f"c{rounds}"
    ctes += [
        _kmeans_assign_cte("afull", cent, "q"),
        "nnow AS (SELECT cid, count(*) AS n FROM afull GROUP BY cid)",
        f"""snow AS (
  SELECT a.cid, t.dim, SUM(a.v[t.dim]) AS s
  FROM afull a CROSS JOIN range(1, {dim + 1}) t(dim) GROUP BY a.cid, t.dim)""",
        f"""num AS (
  SELECT snow.cid,
         SUM((CAST(snow.s AS HUGEINT) * c.n - CAST(c.s[snow.dim] AS HUGEINT) * nnow.n)
             * (CAST(snow.s AS HUGEINT) * c.n - CAST(c.s[snow.dim] AS HUGEINT) * nnow.n)) AS nm
  FROM snow JOIN {cent} c ON c.cid = snow.cid JOIN nnow ON nnow.cid = snow.cid
  GROUP BY snow.cid)""",
        "tot AS (SELECT SUM(n) AS t FROM nnow)",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT num.cid AS cid,
       CAST(nnow.n AS BIGINT) AS n_members,
       round(CAST(nnow.n AS DOUBLE) / CAST(t.t AS DOUBLE), 6) AS occupancy_frac,
       round(CAST(num.nm AS DOUBLE)
             / CAST(CAST(nnow.n AS HUGEINT) * c.n * nnow.n * c.n AS DOUBLE), 6) AS drift2
FROM num
JOIN nnow ON nnow.cid = num.cid
JOIN {cent} c ON c.cid = num.cid
CROSS JOIN tot t"""
    )


@defquery(
    "ann_drift_monitor",
    _ann_drift_sql(),
    "the signal that SCHEDULES ann_index_retrain (SURVEY round-9 #4): "
    "per cell of the frozen quantizer, the live member count, its "
    "share of the index (occupancy — lopsided cells mean the frozen "
    "partition no longer fits the data), and the squared displacement "
    "between the frozen centroid mean and the CURRENT member mean — "
    "kept EXACT as the integer ratio Σ_p (s_now·n_f − s_f·n_now)² / "
    "(n_now·n_f)², integer-only until one IEEE division per cell "
    "(the (sum, count)-never-divided discipline of kmeans_exact "
    "applied to monitoring). Spark shape: one pass over the store's "
    "cells table — a count and a posexplode/(cid,pos) DECIMAL sum, "
    "both map-side combinable — joined against the k-row frozen "
    "centroid table and a 1-row total; cost is the cheapest scan in "
    "the serving stack, runnable per ingest batch. At 100 TB this "
    "row set IS the retrain dashboard: drift2 spikes or occupancy "
    "skew cross a threshold → schedule the rewrite.",
)
def ann_drift_monitor_q(spark, sf_dir):
    from .operators.retrieval import ann_drift_stats, ann_index_ingest
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("ann_drift", sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("bigint").alias("b")).first()[0]
    ann_index_ingest(spark, path, emb.filter(F.col("vec_id") < half))
    ann_index_ingest(spark, path, emb.filter(F.col("vec_id") >= half))
    return ann_drift_stats(spark, path)


@defquery(
    "streaming_drift_retrain",
    _ann_index_sql(train_where=None),
    "the AUTONOMOUS maintenance loop, end-to-end: embedding batches "
    "arrive as a file stream; each foreachBatch ingests into the ANN "
    "store and reads ann_drift_stats — and when any cell shows "
    "drift2 > 0 (members moved off the frozen means; the bootstrap "
    "batch alone shows exactly 0, because the frozen stats ARE its "
    "final Lloyd stats), the batch triggers ann_index_retrain. The "
    "final state is DETERMINISTIC despite the conditional: the last "
    "qualifying batch's retrain re-runs Lloyd over every stored "
    "vector and re-assigns everything, superseding all earlier "
    "quantizer epochs — so the oracle is the from-scratch index "
    "trained on the full vector set (ann_index_retrained's oracle), "
    "and the hash proves the monitor→retrain→serve loop converges to "
    "the same index a batch rebuild would. At 100 TB this is the "
    "operating mode: drift thresholds gate the (expensive) rewrite, "
    "serving continues off the manifest snapshot throughout, and the "
    "swap is the same atomic centroids+cells publish the crash-sim "
    "pins.",
)
def streaming_drift_retrain_q(spark, sf_dir):
    from .operators.retrieval import (
        ann_drift_stats,
        ann_index_ingest,
        ann_index_retrain,
        ann_index_topk,
    )
    from .queries_ext import _fresh_sink_dir, _sink_dir

    srcdir = _sink_dir("drift_retrain_in", sf_dir)
    store = _fresh_sink_dir("drift_retrain_store", sf_dir)

    emb = _t(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("bigint").alias("b")).first()[0]
    rest = emb.filter(F.col("vec_id") >= half)
    chunks = [
        emb.filter(F.col("vec_id") < half),  # bootstrap
        rest.filter(F.col("vec_id") % 2 == 0),
        rest.filter(F.col("vec_id") % 2 == 1),
    ]

    def apply_batch(bdf, batch_id):
        s = bdf.sparkSession
        ann_index_ingest(s, store, bdf)
        drift = ann_drift_stats(s, store).agg(F.max("drift2").alias("m")).first()[0]
        if drift and drift > 0:
            ann_index_retrain(s, store)

    sdf = replay_chunks(spark, srcdir, chunks, "vec_id bigint, embedding array<double>")
    drain(sdf, apply_batch)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_index_topk(spark, store, queries, nprobe=2, k=5)


@defquery(
    "ann_index_retrained",
    _ann_index_sql(train_where=None),
    "quantizer re-training as a store REWRITE — the assignment-"
    "migration proof ann_index_incremental's docstring promises: the "
    "store is built normally (bootstrap-frozen centroids, two more "
    "ingests), then ann_index_retrain re-runs exact Lloyd over EVERY "
    "stored quantized vector (the cells table keeps v — no corpus "
    "re-read), re-assigns all cells, and publishes the new centroids "
    "file and the re-assigned cells in ONE atomic manifest swap "
    "(params gain centroids_file; a crash anywhere leaves old-cells+"
    "old-centroids or new-cells+new-centroids, never a mix — pinned "
    "in test_ann_index_retrain_crash_consistency). The oracle is the "
    "from-scratch index whose kmeans trains on the FULL vector set "
    "(train_where=None): a hash match proves the migration produced "
    "exactly the index a fresh build under the new quantizer would — "
    "serving, probing and ranking all see the retrained geometry.",
)
def ann_index_retrained_q(spark, sf_dir):
    from .operators.retrieval import (
        ann_index_ingest,
        ann_index_retrain,
        ann_index_topk,
    )
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("ann_index_retrained", sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("bigint").alias("b")).first()[0]
    ann_index_ingest(spark, path, emb.filter(F.col("vec_id") < half))
    rest = emb.filter(F.col("vec_id") >= half)
    ann_index_ingest(spark, path, rest.filter(F.col("vec_id") % 2 == 0))
    ann_index_ingest(spark, path, rest.filter(F.col("vec_id") % 2 == 1))
    ann_index_retrain(spark, path)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_index_topk(spark, path, queries, nprobe=2, k=5)


# ------------------------------------------------------------------
# 19. Hybrid retrieval: lexical shortlist -> semantic rerank
# ------------------------------------------------------------------

_RERANK_SHORTLIST = 50
_RERANK_K = 10


def _bm25_rerank_sql() -> str:
    return f"""
    WITH short AS ({_bm25_sql(k=_RERANK_SHORTLIST)}),
    scored AS (
      SELECT s.query_id, s.doc_id, s.rank AS bm25_rank,
             round(list_cosine_similarity(d.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 6) AS cos
      FROM short s
      JOIN embeddings d ON d.vec_id = s.doc_id
      JOIN embeddings qe ON qe.vec_id = s.query_id)
    SELECT query_id, CAST(rank AS INT) AS rank, doc_id, cos,
           CAST(bm25_rank AS INT) AS bm25_rank
    FROM (SELECT query_id, doc_id, cos, bm25_rank,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS rank
          FROM scored) t
    WHERE rank <= {_RERANK_K}
    """


@defquery(
    "bm25_cosine_rerank",
    _bm25_rerank_sql(),
    "the two-stage retrieval pipeline RAG serving actually runs: a "
    "cheap lexical BM25 shortlist (top-50, posting-list-bounded) "
    "feeds an exact-cosine semantic rerank against the query "
    "embedding, and only the shortlist — never the corpus — pays the "
    "vector math. Cross-engine exactness composes from two proven "
    "pairings: the BM25 stage's washed-ln/DECIMAL-sum contract, and "
    "the round(cosine, 6) == round(list_cosine_similarity, 6) "
    "equivalence semantic_dedup_kmeans pins. Shortlist doc vectors "
    "and the 3 query vectors join by id (queries broadcast); "
    "(cos DESC, doc_id) is a total order. At 100 TB this is the "
    "canonical cost ladder — O(postings) lexical, O(shortlist·dim) "
    "semantic, O(k) returned — and each stage is independently "
    "servable from its persisted store (bm25_index_incremental, "
    "ann_index_incremental).",
)
def bm25_cosine_rerank_q(spark, sf_dir):
    from .functions.vector import cosine_similarity
    from .operators.retrieval import bm25_rank, tokenize_ws

    d = _t(spark, sf_dir, "documents")
    tf = tokenize_ws(d).groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    qt = local_df(spark, _BM25_QUERIES, "query_id int, token string")
    short = bm25_rank(tf, dl, qt, k=_RERANK_SHORTLIST).select(
        "query_id", F.col("rank").alias("bm25_rank"), "doc_id"
    )
    emb = _t(spark, sf_dir, "embeddings")
    dvec = emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("dvec"))
    # bound the broadcast side BEFORE hinting: the query-vector table is
    # the corpus-sized embeddings table until the semi-join pins it to
    # the |query batch| rows actually queried — broadcasting the full
    # table was the 100 TB hazard ADVICE r7 flagged
    qvec = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    ).join(F.broadcast(qt.select("query_id").distinct()), "query_id", "left_semi")
    scored = (
        short.join(dvec, "doc_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn("cos", F.round(cosine_similarity(F.col("dvec"), F.col("qvec")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _RERANK_K)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "cos",
            F.col("bm25_rank").cast("int").alias("bm25_rank"),
        )
    )


@defquery(
    "crossencoder_rerank",
    f"""
    WITH short AS ({_bm25_sql(k=_RERANK_SHORTLIST)}),
    prefixes AS (
      SELECT doc_id,
             substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), 1, 64) AS prefix
      FROM documents),
    scored AS (
      SELECT s.query_id, s.doc_id,
             (CAST(concat('0x', substr(md5(concat('ce:', CAST(s.query_id AS VARCHAR),
                    ':', CAST(s.doc_id AS VARCHAR), ':', p.prefix)), 1, 12))
                   AS BIGINT) + 1) / {16 ** 12}.0 AS ce_score
      FROM short s JOIN prefixes p USING (doc_id))
    SELECT query_id, CAST(rank AS INT) AS rank, doc_id, ce_score
    FROM (SELECT query_id, doc_id, ce_score,
                 row_number() OVER (PARTITION BY query_id ORDER BY ce_score DESC, doc_id ASC) AS rank
          FROM scored) t
    WHERE rank <= {_RERANK_K}
    """,
    "the third rung of the retrieval cost ladder — cross-encoder "
    "reranking over the BM25 shortlist, with the REAL batch-inference "
    "plumbing (Arrow mapInPandas, pairs-in/scores-out, per-batch row "
    "bound) and a STUB model: the container ships no inference libs, "
    "so the scorer is a deterministic content-hash pseudo-logit "
    "(u = (hex12(md5)+1)/16^12, one IEEE division on exact ints, "
    "emitted raw — no rounding wash needed), which puts the ENTIRE "
    "cascade under the value-hash oracle while the production model "
    "is one function swap behind the documented seam in "
    "operators/retrieval.py::crossencoder_score. Only the shortlist "
    "ever reaches the scorer — 50 pairs per query regardless of "
    "corpus size — which is exactly why cross-encoders (quadratic "
    "attention per pair, unusable corpus-wide) deploy behind a "
    "cheap lexical stage. At 100 TB the Arrow batch bound is the "
    "activation-memory knob and the scorer runs once per executor, "
    "never per row.",
)
def crossencoder_rerank_q(spark, sf_dir):
    from .operators.retrieval import bm25_rank, crossencoder_score, tokenize_ws

    d = _t(spark, sf_dir, "documents")
    tf = tokenize_ws(d).groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    qt = local_df(spark, _BM25_QUERIES, "query_id int, token string")
    short = bm25_rank(tf, dl, qt, k=_RERANK_SHORTLIST).select("query_id", "doc_id")
    prefix = F.substring(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 1, 64
    )
    pairs = short.join(d.select("doc_id", prefix.alias("prefix")), "doc_id").select(
        "query_id", "doc_id", "prefix"
    )
    scored = crossencoder_score(pairs)
    w = Window.partitionBy("query_id").orderBy(
        F.col("ce_score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _RERANK_K)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "doc_id", "ce_score")
    )


# ------------------------------------------------------------------
# 20. PMI collocations (phrase mining for tokenizer/vocab prep)
# ------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOPK = 40


def _pmi_sql(where: str | None = None) -> str:
    """The PMI top-k oracle; ``where`` restricts the corpus (the
    incremental store's retraction oracle: counts over documents minus
    the CDC-deleted docs)."""
    wsql = f" WHERE {where}" if where else ""
    return f"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w <> '') AS ws
      FROM documents{wsql}),
    uni AS (
      SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY w),
    bi AS (
      SELECT a, b, count(*) AS c FROM (
        SELECT ws[CAST(i AS INT)] AS a, ws[CAST(i AS INT)+1] AS b
        FROM toks, unnest(range(1, greatest(len(ws)-1, 0)+1)) u(i))
      GROUP BY a, b),
    tot AS (SELECT (SELECT SUM(c) FROM uni) AS t, (SELECT SUM(c) FROM bi) AS bt)
    SELECT bi.a AS a, bi.b AS b, CAST(bi.c AS BIGINT) AS n,
           round(ln(CAST(bi.c * t * t AS DOUBLE) / CAST(bt * ca.c * cb.c AS DOUBLE)), 6) AS pmi
    FROM (SELECT * FROM bi WHERE c >= {_PMI_MIN_COUNT}) bi
    JOIN uni ca ON ca.w = bi.a
    JOIN uni cb ON cb.w = bi.b
    CROSS JOIN tot
    ORDER BY pmi DESC, a ASC, b ASC
    LIMIT {_PMI_TOPK}
    """


@defquery(
    "collocation_pmi_top",
    _pmi_sql(),
    "pointwise-mutual-information collocation mining (Church & Hanks "
    "1990) — the phrase-extraction pass a tokenizer/vocab pipeline "
    "runs to promote multi-word units: PMI = ln(c_ab·T² / (B·c_a·c_b)) "
    "stays an INTEGER ratio until one double division feeds the single "
    "washed ln — both engines see bit-identical operands, so the "
    "ranking is exact despite the transcendental. Min-support c_ab >= "
    "5 prunes the noise PMI famously amplifies; (pmi DESC, a, b) is a "
    "total order. Spark shape: one tokenize pass feeds the unigram "
    "and bigram hash aggregates (map-side combinable), corpus totals "
    "ride a 1-row broadcast, unigram counts join onto the supported "
    "bigrams UNHINTED — AQE broadcasts them while they fit and falls "
    "back to a shuffle join past the Heaps bound (a 100M-term "
    "vocabulary outgrows executor memory) — at 100 TB both tables are "
    "vocabulary artifacts, built once and reused by the BPE/packing "
    "stages.",
)
def collocation_pmi_top_q(spark, sf_dir):
    uni, bi_all = _pmi_counts(_t(spark, sf_dir, "documents"))
    return _pmi_topk_from_counts(uni, bi_all)


def _pmi_counts(d, sign_col=None):
    """One tokenize pass → the unigram and bigram hash aggregates.
    With ``sign_col``, counts are SIGNED sums (the CDC/retraction form
    the incremental vocab store appends: inserts +1, deletes -1)."""
    sgn = F.col(sign_col) if sign_col else F.lit(1)
    ws = d.select(
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda w: w != ""
        ).alias("ws"),
        sgn.cast("bigint").alias("sgn"),
    )
    uni = ws.select(F.explode("ws").alias("w"), "sgn").groupBy("w").agg(
        F.sum("sgn").alias("c")
    )
    bi_all = (
        ws.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - 1),
                    lambda i: F.struct(
                        F.element_at("ws", i).alias("a"),
                        F.element_at("ws", i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
            "sgn",
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("sgn").alias("c"))
    )
    return uni, bi_all


def _pmi_topk_from_counts(uni, bi_all):
    bi = bi_all.filter(F.col("c") >= _PMI_MIN_COUNT)
    # normalizers over the UNFILTERED distributions (min-support prunes
    # candidates, not probability mass)
    tot = uni.agg(F.sum("c").alias("t")).crossJoin(
        bi_all.agg(F.sum("c").alias("bt"))
    )
    ca = uni.select(F.col("w").alias("a"), F.col("c").alias("ca"))
    cb = uni.select(F.col("w").alias("b"), F.col("c").alias("cb"))
    # c*t*t in BIGINT wraps silently past ~1e19 while DuckDB's
    # SUM(BIGINT) promotes to HUGEINT and stays exact — multiply in
    # decimal(38,0) (the same 38-digit headroom as HUGEINT) so both
    # engines feed bit-identical operands to the one double division
    # at any corpus size up to 1e38 total tokens.
    def _dec(col):
        return col.cast("decimal(38,0)")

    pmi = F.round(
        F.log(
            (_dec(F.col("c")) * _dec(F.col("t")) * _dec(F.col("t"))).cast("double")
            / (_dec(F.col("bt")) * _dec(F.col("ca")) * _dec(F.col("cb"))).cast("double")
        ),
        6,
    )
    # no broadcast hint on the unigram tables: they are Heaps-bounded
    # but can outgrow executor memory at a 100M-term vocabulary — let
    # AQE pick broadcast when the stats say it fits (ADVICE r7); only
    # the 1-row normalizer keeps its hint.
    scored = (
        bi.join(ca, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(tot))
        .select("a", "b", F.col("c").cast("bigint").alias("n"), pmi.alias("pmi"))
    )
    return top_k(scored, [F.col("pmi").desc(), F.col("a").asc(), F.col("b").asc()], _PMI_TOPK)


# ------------------------------------------------------------------
# 21. Hybrid retrieval: reciprocal-rank fusion of the three legs
# ------------------------------------------------------------------

_RRF_C = 60  # the standard RRF constant (Cormack, Clarke & Buettcher 2009)


def _rrf_fusion_sql(where: str | None = None) -> str:
    """DuckDB replay of the three-leg RRF fusion: the BM25 shortlist
    CTE, a cosine ranking and a cross-encoder ranking over that same
    shortlist, then rrf = sum of 1/(C + rank) over the legs — each
    term one IEEE division of exact small integers and the three-term
    sum written in the identical left-to-right order as the Spark
    expression, so the fused doubles are bit-identical cross-engine
    (no rounding wash needed, same argument as crossencoder_rerank's
    raw pseudo-logit). ``where`` restricts the lexical corpus — the
    hybrid-store takedown oracle (victims leave the shortlist AND
    every BM25 corpus statistic; the cosine/prefix joins then never
    see them because the shortlist drives both legs)."""
    return f"""
    WITH short AS ({_bm25_sql(k=_RERANK_SHORTLIST, where=where)}),
    cosleg AS (
      SELECT s.query_id, s.doc_id,
             row_number() OVER (PARTITION BY s.query_id
               ORDER BY round(list_cosine_similarity(d.embedding::DOUBLE[], qe.embedding::DOUBLE[]), 6) DESC,
                        s.doc_id ASC) AS rc
      FROM short s
      JOIN embeddings d ON d.vec_id = s.doc_id
      JOIN embeddings qe ON qe.vec_id = s.query_id),
    prefixes AS (
      SELECT doc_id,
             substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), 1, 64) AS prefix
      FROM documents),
    celeg AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id ORDER BY ce DESC, doc_id ASC) AS rce
      FROM (
        SELECT s.query_id, s.doc_id,
               (CAST(concat('0x', substr(md5(concat('ce:', CAST(s.query_id AS VARCHAR),
                      ':', CAST(s.doc_id AS VARCHAR), ':', p.prefix)), 1, 12))
                     AS BIGINT) + 1) / {16 ** 12}.0 AS ce
        FROM short s JOIN prefixes p USING (doc_id)) t),
    fused AS (
      SELECT s.query_id, s.doc_id,
             s.rank AS rb, c.rc AS rc, e.rce AS rce,
             1.0 / ({_RRF_C}.0 + CAST(s.rank AS DOUBLE))
               + 1.0 / ({_RRF_C}.0 + CAST(c.rc AS DOUBLE))
               + 1.0 / ({_RRF_C}.0 + CAST(e.rce AS DOUBLE)) AS rrf
      FROM short s
      JOIN cosleg c ON c.query_id = s.query_id AND c.doc_id = s.doc_id
      JOIN celeg e ON e.query_id = s.query_id AND e.doc_id = s.doc_id)
    SELECT query_id, CAST(rank AS INT) AS rank, doc_id, rrf AS rrf_score,
           CAST(rb AS INT) AS bm25_rank, CAST(rc AS INT) AS cos_rank,
           CAST(rce AS INT) AS ce_rank
    FROM (SELECT query_id, doc_id, rrf, rb, rc, rce,
                 row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rank
          FROM fused) t
    WHERE rank <= {_RERANK_K}
    """


@defquery(
    "hybrid_rrf_fusion",
    _rrf_fusion_sql(),
    "reciprocal-rank fusion (Cormack et al. 2009) of the THREE "
    "retrieval legs the repo already serves — BM25 lexical rank, "
    "exact-cosine semantic rank, cross-encoder rank — into the single "
    "hybrid ranking a multi-retriever deployment actually returns: "
    f"rrf(d) = sum over legs of 1/({_RRF_C} + rank_leg(d)), ranks "
    "computed over the SAME BM25 shortlist so every doc carries all "
    "three (fusion of full rankings, no missing-leg convention "
    "needed). Each term is one IEEE division of exact small ints and "
    "the 3-term sum is written in the identical left-to-right order "
    "in both engines, so the fused doubles are bit-identical and the "
    "whole cascade hashes without a rounding wash; (rrf DESC, doc_id) "
    "is a total order. Spark shape: the shortlist is computed ONCE "
    "(localCheckpoint — 7 queries x 50 rows, bounded by contract) and "
    "fans out to the three leg rankings, each a per-query window over "
    "shortlist-sized input; query vectors broadcast; the corpus pays "
    "only the lexical stage. At 100 TB this is why hybrid serving "
    "costs no more than its cheapest leg plus O(shortlist) per query "
    "— RRF needs only ranks, never comparable scores, which is "
    "exactly why it is the standard fusion for heterogeneous "
    "retrievers (lexical idf-sums vs cosines vs logits).",
)
def hybrid_rrf_fusion_q(spark, sf_dir):
    from .operators.retrieval import rrf_fusion, tokenize_ws

    d = _t(spark, sf_dir, "documents")
    tf = tokenize_ws(d).groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    qt = local_df(spark, _BM25_QUERIES, "query_id int, token string")
    emb = _t(spark, sf_dir, "embeddings")
    dvec = emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("dvec"))
    # semi-join pins the broadcast side to the |query batch| rows
    # actually queried (the bm25_cosine_rerank discipline)
    qvec = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    ).join(F.broadcast(qt.select("query_id").distinct()), "query_id", "left_semi")
    prefix = F.substring(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 1, 64
    )
    prefixes = d.select("doc_id", prefix.alias("prefix"))
    return rrf_fusion(
        tf, dl, qt, dvec, qvec, prefixes,
        shortlist=_RERANK_SHORTLIST, k=_RERANK_K, c=_RRF_C,
    )


# ------------------------------------------------------------------
# 22. Streaming cluster maintenance (the continuous-ingest cluster loop)
# ------------------------------------------------------------------


@defquery(
    "streaming_dedup_clusters",
    _SHINGLE_SQL.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + """,
ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle FROM sh),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
  HAVING count(*) / (a.sz + b.sz - count(*)) >= 0.6
),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT doc_id AS v, doc_id AS r FROM documents
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
)
SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY v
    """,
    "the continuous-ingest CLUSTER loop end-to-end through Structured "
    "Streaming (SURVEY round-9 #2 — the cluster analog of "
    "streaming_incremental_dedup): the corpus arrives as four "
    "id-ordered parquet chunks (mtimes ascending, maxFilesPerTrigger="
    "1) and every micro-batch drains through foreachBatch into "
    "dedup_incremental_clusters — frontier-only large-star/small-star "
    "per batch, merge-forest hops for cross-batch merges, commits "
    "through the atomic manifest so a crashed micro-batch is "
    "invisible and replay admits nothing twice. After the stream "
    "drains, serving path-compresses the forest and the result must "
    "hash-match the from-scratch recursive-CTE closure over ALL "
    "documents: the frontier-contraction math is batch-size-agnostic "
    "by construction, so micro-batch slicing provably cannot change "
    "the final partition — merges included. This is the shape a "
    "100 TB dedup deployment actually runs: stream in, contract the "
    "frontier, compact the forest on cadence, serve cluster labels "
    "forever.",
)
def streaming_dedup_clusters_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir, _sink_dir

    srcdir = _sink_dir("stream_cc_in", sf_dir)
    store = _fresh_sink_dir("stream_cc_store", sf_dir)

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    max_id = d.agg(F.max("doc_id")).first()[0]  # 1-row driver scalar
    span = (max_id + 4) // 4
    chunks = [
        d.filter((F.col("doc_id") >= k * span) & (F.col("doc_id") < (k + 1) * span))
        for k in range(4)
    ]

    def apply_batch(bdf, batch_id):
        DD.dedup_incremental_clusters(bdf.sparkSession, store, bdf)

    drain(replay_chunks(spark, srcdir, chunks, "doc_id bigint, text string"), apply_batch)
    return DD.read_incremental_clusters(spark, store)


# ------------------------------------------------------------------
# 23. Store-wide ops dashboard (the single pane across store kinds)
# ------------------------------------------------------------------


@defquery(
    "store_ops_dashboard",
    """
    SELECT 'ann' AS store_kind, 'cells' AS table_name,
           2 AS n_batches, 2 AS n_dirs,
           (SELECT count(*) FROM embeddings) AS n_rows
    UNION ALL
    SELECT 'bm25', 'doclen', 2, 2, (SELECT count(*) FROM documents)
    UNION ALL
    SELECT 'bm25', 'postings', 2, 2,
           (SELECT count(*) FROM (
              SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id,
                       unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
                FROM documents)))
    UNION ALL
    SELECT 'exact', 'fps', 2, 2,
           (SELECT count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
            FROM documents)
    """,
    "the store-wide ops dashboard (SURVEY round-9 #3) — ONE query an "
    "operator reads across every store kind: an exact-fingerprint "
    "dedup store, a BM25 inverted index and a frozen-quantizer ANN "
    "index are each built in two committed batches, then "
    "store_ops_dashboard unions incremental_store_stats over the "
    "fleet into (store_kind, table, n_batches, n_dirs, n_rows) rows — "
    "the compaction-scheduling / growth-audit signal (n_dirs past the "
    "read-amplification budget cues compact_incremental_store; n_rows "
    "deltas audit admission). The oracle recomputes every row count "
    "from the corpus — distinct fingerprints for fps, docs for "
    "doclen, distinct (doc, token) for postings, all vectors for "
    "cells — so a hash match proves the stores' contents are exactly "
    "their contracts (admission lost nothing, double-admitted "
    "nothing) while batch/dir counts pin the manifest metadata the "
    "lifecycle policies key off. Bytes are reported by the operator "
    "but excluded here (parquet encoding is not part of the "
    "correctness contract). Driver-side cost is manifest metadata "
    "plus one count per table — the monitoring read, not a serving "
    "path; at 100 TB it runs on cadence against stores whose row "
    "counts are themselves O(metadata) once parquet footer stats are "
    "trusted.",
)
def store_ops_dashboard_q(spark, sf_dir):
    from .operators import dedup as DD
    from .operators.retrieval import ann_index_ingest, bm25_index_ingest
    from .queries_ext import _fresh_sink_dir

    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")

    exact = _fresh_sink_dir("dash_exact", sf_dir)
    DD.dedup_incremental_exact(spark, exact, d.filter(src_num < 10))
    DD.dedup_incremental_exact(spark, exact, d.filter(src_num >= 10))

    bm25 = _fresh_sink_dir("dash_bm25", sf_dir)
    bm25_index_ingest(spark, bm25, d.filter(src_num < 10))
    bm25_index_ingest(spark, bm25, d.filter(src_num >= 10))

    ann = _fresh_sink_dir("dash_ann", sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("bigint").alias("b")).first()[0]
    ann_index_ingest(spark, ann, emb.filter(F.col("vec_id") < half))
    ann_index_ingest(spark, ann, emb.filter(F.col("vec_id") >= half))

    return DD.store_ops_dashboard(
        spark, [("exact", exact), ("bm25", bm25), ("ann", ann)]
    ).select("store_kind", "table_name", "n_batches", "n_dirs", "n_rows")


# ------------------------------------------------------------------
# 24. int8 serving twin for the ANN store (SURVEY round-9 #4)
# ------------------------------------------------------------------


@defquery(
    "ann_index_int8",
    _ann_index_sql(scale=100.0),
    "the int8 serving twin of ann_index_incremental — the "
    "dedup_incremental_embedding_int8 treatment applied to the IVF "
    "serving path (SURVEY round-9 #4): the same bootstrap-frozen "
    "quantizer / atomic-manifest / anti-join-admission store, but the "
    "cells table keeps each vector as array<tinyint> codes at the "
    "GLOBAL scale 10^2 (per-vector scales would break L2 "
    "comparability, so this is FAISS's SQ8 contract, not the dedup "
    "payload's per-vector symmetric quantization) — 8x smaller codes "
    "than the bigint store, and the ANSI tinyint cast throws on the "
    "first out-of-range component so a mis-sized scale fails at "
    "ingest instead of wrapping. Serving widens the codes back to "
    "long before the integer distance math, so probe selection, "
    "candidate distances and ranks replay EXACTLY in the oracle at "
    "scale=100 — the full-value-hash discipline the long store gets, "
    "at the coarser quantization a serving fleet actually deploys. "
    "Parity with a bigint store at the same quant_digits is pinned by "
    "test_ann_index_int8_parity. At 100 TB the cells table is the "
    "dominant artifact and int8 codes cut its scan bytes ~8x (dim-64 "
    "tinyint vs bigint), which is the difference between a probe "
    "reading one file group and four.",
)
def ann_index_int8_q(spark, sf_dir):
    from .operators.retrieval import ann_index_ingest, ann_index_topk
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("ann_index_int8", sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("bigint").alias("b")).first()[0]
    ann_index_ingest(
        spark, path, emb.filter(F.col("vec_id") < half),
        quant_digits=2, store_int8=True,
    )
    rest = emb.filter(F.col("vec_id") >= half)
    ann_index_ingest(
        spark, path, rest.filter(F.col("vec_id") % 2 == 0),
        quant_digits=2, store_int8=True,
    )
    ann_index_ingest(
        spark, path, rest.filter(F.col("vec_id") % 2 == 1),
        quant_digits=2, store_int8=True,
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_index_topk(spark, path, queries, nprobe=2, k=5, quant_digits=2)


# ------------------------------------------------------------------
# 25. Hybrid store: one atomic manifest across the lexical AND vector
#     tables (snapshot-isolated multi-table commit) + serve-after-
#     takedown for the whole cascade
# ------------------------------------------------------------------


def _hybrid_store_build(spark, sf_dir, path):
    """Three multi-table commits: documents JOIN embeddings arrive as
    (doc_id, text, embedding) rows — the doc and its vector in ONE
    transaction per batch."""
    import shutil

    from .operators.retrieval import hybrid_index_ingest

    shutil.rmtree(path, ignore_errors=True)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    de = d.join(e, "doc_id")
    src = F.col("doc_id") % 3
    hybrid_index_ingest(spark, path, de.filter(src == 0))
    hybrid_index_ingest(spark, path, de.filter(src == 1))
    hybrid_index_ingest(spark, path, de.filter(src == 2))


def _hybrid_queries(spark, sf_dir):
    qt = local_df(spark, _BM25_QUERIES, "query_id int, token string")
    qv = (
        _t(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .join(F.broadcast(qt.select("query_id").distinct()), "query_id", "left_semi")
    )
    return qt, qv


@defquery(
    "hybrid_store_rrf",
    _rrf_fusion_sql(),
    "the SNAPSHOT-ISOLATED MULTI-TABLE transaction the independent "
    "BM25/ANN stores cannot express (SURVEY round-9 #1): each ingest "
    "batch commits a document's postings, length, embedding and "
    "rerank prefix — FOUR tables — under ONE _BATCHES manifest swap, "
    "so a doc and its vector appear together or not at all, and a "
    "hybrid query can never see a doc whose lexical leg exists but "
    "whose vector leg doesn't (the torn-read hybrid serving suffers "
    "when its legs live in separately-committed stores; crash-"
    "consistency pinned by test_hybrid_store_atomicity). Serving "
    "reads one manifest snapshot and runs the ENTIRE three-leg RRF "
    "cascade store-resident: postings/doclen drive the BM25 "
    "shortlist, vectors the cosine leg, prefixes the cross-encoder "
    "leg. Oracle = the from-scratch hybrid_rrf_fusion SQL — a hash "
    "match proves batch slicing is invisible across ALL FOUR tables "
    "at once. At 100 TB this is one manifest read instead of four "
    "store opens with four independent commit clocks — snapshot "
    "isolation for hybrid serving at the cost of a tag list.",
)
def hybrid_store_rrf_q(spark, sf_dir):
    from .operators.retrieval import hybrid_index_rrf
    from .queries_ext import _sink_dir

    path = _sink_dir("hybrid_store", sf_dir)
    _hybrid_store_build(spark, sf_dir, path)
    qt, qv = _hybrid_queries(spark, sf_dir)
    return hybrid_index_rrf(spark, path, qt, qv, shortlist=_RERANK_SHORTLIST, k=_RERANK_K)


@defquery(
    "hybrid_store_deleted",
    _rrf_fusion_sql(where="NOT (doc_id % 7 = 3)"),
    "takedown across the WHOLE hybrid cascade in one crash-safe "
    "rewrite: after three multi-table commits, every doc_id % 7 == 3 "
    "document leaves postings, doclen, vectors AND prefixes together "
    "(delete_from_incremental_store over the four manifest-listed "
    "tables — the same store.rewrite protocol as every other store, "
    "now spanning the tables of two retrieval modalities atomically). "
    "The oracle is the from-scratch fusion over the corpus minus the "
    "victims, so the hash proves the deletion shifted every BM25 "
    "corpus statistic, removed the vectors and prefixes (no ghost "
    "rows for the cosine/CE legs to join), and the fused ranks closed "
    "up — the right-to-be-forgotten contract for a serving stack "
    "whose legs would otherwise need four separately-audited deletes.",
)
def hybrid_store_deleted_q(spark, sf_dir):
    from .operators.dedup import delete_from_incremental_store
    from .operators.retrieval import HYBRID_TABLES, hybrid_index_rrf
    from .queries_ext import _sink_dir

    path = _sink_dir("hybrid_store_deleted", sf_dir)
    _hybrid_store_build(spark, sf_dir, path)
    d = _t(spark, sf_dir, "documents")
    victims = d.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    delete_from_incremental_store(
        spark, path, victims, id_col="doc_id", tables=HYBRID_TABLES
    )
    qt, qv = _hybrid_queries(spark, sf_dir)
    return hybrid_index_rrf(spark, path, qt, qv, shortlist=_RERANK_SHORTLIST, k=_RERANK_K)


# ------------------------------------------------------------------
# 26. MMR diversity re-ranking over the retrieval shortlist
# ------------------------------------------------------------------

_MMR_K = 10        # picks per query
_MMR_LAMBDA = 0.7  # relevance weight; 1-lambda penalizes redundancy


def _mmr_sql(k: int = _MMR_K) -> str:
    """DuckDB replay of greedy MMR, unrolled one CTE block per pick
    (the kmeans/BPE technique applied to selection): ``rel`` = the
    query-doc cosines over the BM25 shortlist, ``sims`` = the
    candidate-candidate cosines, then for each step i the redundancy
    of a remaining candidate is max(sim to the selected set), the MMR
    score is ``0.7 * rel - 0.3 * red`` (identical literal order in
    Spark), and the argmax (mmr DESC, doc_id ASC) joins the selected
    set. Pick 1 is the pure-relevance argmax (empty selected set)."""
    ctes = [
        f"short AS MATERIALIZED ({_bm25_sql(k=_RERANK_SHORTLIST)})",
        """rel AS MATERIALIZED (
  SELECT s.query_id, s.doc_id,
         round(list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS rel
  FROM short s
  JOIN embeddings d ON d.vec_id = s.doc_id
  JOIN embeddings q ON q.vec_id = s.query_id)""",
        """sims AS MATERIALIZED (
  SELECT r1.query_id, r1.doc_id AS a, r2.doc_id AS b,
         round(list_cosine_similarity(da.embedding::DOUBLE[], db.embedding::DOUBLE[]), 6) AS sim
  FROM rel r1
  JOIN rel r2 ON r2.query_id = r1.query_id AND r2.doc_id <> r1.doc_id
  JOIN embeddings da ON da.vec_id = r1.doc_id
  JOIN embeddings db ON db.vec_id = r2.doc_id)""",
        """sall1 AS MATERIALIZED (
  SELECT query_id, doc_id, 1 AS pick, rel AS mmr FROM (
    SELECT query_id, doc_id, rel,
           row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) AS rn
    FROM rel) t WHERE rn = 1)""",
    ]
    for i in range(2, k + 1):
        p = i - 1
        ctes += [
            f"""red{i} AS MATERIALIZED (
  SELECT m.query_id, m.a AS doc_id, max(m.sim) AS red
  FROM sims m JOIN sall{p} sel ON sel.query_id = m.query_id AND sel.doc_id = m.b
  GROUP BY m.query_id, m.a)""",
            f"""cand{i} AS (
  SELECT r.query_id, r.doc_id, {_MMR_LAMBDA} * r.rel - {round(1 - _MMR_LAMBDA, 6)} * red{i}.red AS mmr
  FROM rel r
  JOIN red{i} ON red{i}.query_id = r.query_id AND red{i}.doc_id = r.doc_id
  WHERE NOT EXISTS (SELECT 1 FROM sall{p} sel
                    WHERE sel.query_id = r.query_id AND sel.doc_id = r.doc_id))""",
            f"""sall{i} AS MATERIALIZED (
  SELECT * FROM sall{p}
  UNION ALL
  SELECT query_id, doc_id, {i} AS pick, mmr FROM (
    SELECT query_id, doc_id, mmr,
           row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, doc_id ASC) AS rn
    FROM cand{i}) t WHERE rn = 1)""",
        ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, CAST(pick AS INT) AS rank, doc_id, mmr AS mmr_score
FROM sall{k}"""
    )


@defquery(
    "mmr_diversity_rerank",
    _mmr_sql(),
    "maximal-marginal-relevance re-ranking (Carbonell & Goldstein "
    "1998) over the BM25 shortlist — the standard de-dup of served "
    "results (SURVEY round-9 #2): greedily pick "
    f"{_MMR_K} of {_RERANK_SHORTLIST} candidates, each step's score "
    f"= {_MMR_LAMBDA}·cos(query, doc) − {round(1 - _MMR_LAMBDA, 6)}·"
    "max cos(doc, already-picked) — retrieve lexically, diversify "
    "semantically. Greedy selection is inherently sequential, so both "
    "engines UNROLL the ten picks (the kmeans/BPE oracle technique "
    "applied to selection): each step is a per-query redundancy "
    "aggregate over (candidate × selected) pairs, an anti-join "
    "against the selected set, and a (mmr DESC, doc_id) argmax "
    "window — all JVM-side on shortlist-bounded frames (≤50 rows per "
    "query; the candidate-pair table is ≤50·49). Cross-engine "
    "exactness: rel and redundancy are the proven round(cosine, 6) "
    "pairing, the MMR expression is written in the identical literal "
    "order in both engines, and every pick is a total order. At "
    "100 TB this shape is per-query embarrassingly parallel — ten "
    "windows partitioned by query_id over candidate-sized input, "
    "never corpus-touching after the shortlist stage.",
)
def mmr_diversity_rerank_q(spark, sf_dir):
    from .operators.retrieval import tokenize_ws

    d = _t(spark, sf_dir, "documents")
    tf = tokenize_ws(d).groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    qt = local_df(spark, _BM25_QUERIES, "query_id int, token string")
    emb = _t(spark, sf_dir, "embeddings")
    dvec = emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("dvec"))
    qvec = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    ).join(F.broadcast(qt.select("query_id").distinct()), "query_id", "left_semi")
    return _mmr_from_index(tf, dl, qt, dvec, qvec)


def _mmr_from_index(tf, dl, qt, dvec, qvec):
    """Greedy MMR from index tables (tf/dl for the lexical shortlist,
    dvec/qvec for relevance and redundancy) — shared by the corpus
    query and the hybrid-store-served variant."""
    from .functions.vector import cosine_similarity
    from .operators.retrieval import bm25_rank

    short = bm25_rank(tf, dl, qt, k=_RERANK_SHORTLIST).select("query_id", "doc_id")
    # rel and the candidate-pair sims are computed ONCE (shortlist-
    # bounded: <=50 and <=50*49 rows per query) and reused by all picks
    rel = freeze(
        short.join(dvec, "doc_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "doc_id",
            F.round(cosine_similarity(F.col("dvec"), F.col("qvec")), 6).alias("rel"),
            "dvec",
        )
    )
    r1 = rel.select("query_id", F.col("doc_id").alias("a"), F.col("dvec").alias("va"))
    r2 = rel.select("query_id", F.col("doc_id").alias("b"), F.col("dvec").alias("vb"))
    sims = freeze(
        r1.join(r2, "query_id")
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id", "a", "b",
            F.round(cosine_similarity(F.col("va"), F.col("vb")), 6).alias("sim"),
        )
    )
    rel = rel.drop("dvec")

    lam = F.lit(_MMR_LAMBDA)
    mu = F.lit(round(1 - _MMR_LAMBDA, 6))
    w1 = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), F.col("doc_id").asc())
    sel = freeze(
        rel.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("query_id", "doc_id", F.lit(1).alias("pick"), F.col("rel").alias("mmr"))
    )
    for i in range(2, _MMR_K + 1):
        red = (
            sims.join(
                sel.select("query_id", F.col("doc_id").alias("b")),
                ["query_id", "b"],
            )
            .groupBy("query_id", F.col("a").alias("doc_id"))
            .agg(F.max("sim").alias("red"))
        )
        cand = (
            rel.join(sel.select("query_id", "doc_id"), ["query_id", "doc_id"], "left_anti")
            .join(red, ["query_id", "doc_id"])
            .select(
                "query_id", "doc_id",
                (lam * F.col("rel") - mu * F.col("red")).alias("mmr"),
            )
        )
        wi = Window.partitionBy("query_id").orderBy(
            F.col("mmr").desc(), F.col("doc_id").asc()
        )
        picked = (
            cand.withColumn("rn", F.row_number().over(wi))
            .filter(F.col("rn") == 1)
            .select("query_id", "doc_id", F.lit(i).alias("pick"), "mmr")
        )
        # flatten lineage per pick: selected-set frames stay tiny
        # (|queries| x i rows) and the next step's plan stays O(1)
        sel = freeze(sel.unionByName(picked))
    return sel.select(
        "query_id", F.col("pick").cast("int").alias("rank"), "doc_id",
        F.col("mmr").alias("mmr_score"),
    )


# ------------------------------------------------------------------
# 27. Incremental PMI / vocab store (signed-delta counts, served PMI)
# ------------------------------------------------------------------


def _pmi_store_build(spark, sf_dir, path, with_delete=False):
    """Three CDC insert batches (+ a replay that must admit nothing);
    optionally a fourth batch DELETING every doc_id % 9 == 4 doc (the
    CDC delete carries the old row, so its counts subtract exactly)."""
    import shutil

    from .operators.vocab import pmi_store_ingest

    shutil.rmtree(path, ignore_errors=True)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = F.col("doc_id") % 3
    ins = d.withColumn("sign", F.lit(1))
    pmi_store_ingest(spark, path, ins.filter(src == 0))
    pmi_store_ingest(spark, path, ins.filter(src == 1))
    pmi_store_ingest(spark, path, ins.filter(src == 2))
    # duplicated delivery: the docs-log net-sign admission absorbs it
    pmi_store_ingest(spark, path, ins.filter(src == 0))
    if with_delete:
        dele = d.filter(F.col("doc_id") % 9 == 4).withColumn("sign", F.lit(-1))
        pmi_store_ingest(spark, path, dele)


@defquery(
    "collocation_pmi_incremental",
    _pmi_sql(),
    "the PMI/vocab artifact as a maintained STORE (SURVEY round-9 "
    "#4): unigram and bigram counts live as SIGNED deltas under the "
    "atomic _BATCHES manifest — counts are additive, so each CDC "
    "batch appends its token-level deltas (one tokenize pass, "
    "O(batch tokens)) and serving nets them with one vocab-bounded "
    "groupBy-SUM per table before the identical integer-ratio PMI "
    "ranking. The docs event log makes admission idempotent at doc "
    "granularity (insert admits only at net sign <= 0, delete only "
    "at net 1), which this query exercises by REPLAYING its first "
    "batch — the duplicated delivery must admit nothing, or the "
    "counts (and the hash) shift. Oracle = the from-scratch "
    "collocation_pmi_top SQL: a match proves batch slicing and "
    "replay are invisible in every count, total and the washed-ln "
    "ranking. At 100 TB the delta tables are Heaps-bounded vocab "
    "artifacts; compaction folds them to net counts with the "
    "standard store rewrite.",
)
def collocation_pmi_incremental_q(spark, sf_dir):
    from .operators.vocab import pmi_store_topk
    from .queries_ext import _sink_dir

    path = _sink_dir("pmi_store", sf_dir)
    _pmi_store_build(spark, sf_dir, path)
    return pmi_store_topk(spark, path)


@defquery(
    "collocation_pmi_retracted",
    _pmi_sql(where="NOT (doc_id % 9 = 4)"),
    "RETRACTION for the vocab store — the signed-delta contract doing "
    "the work additive stores cannot: a CDC delete batch (old rows, "
    "sign -1) subtracts exactly the unigram/bigram counts each "
    "victim's insertion added, so the served PMI equals the "
    "from-scratch ranking over the SURVIVING corpus — totals, "
    "min-support boundary decisions and the single washed ln all "
    "shift together (a store that kept ghost counts would misrank "
    "and miss the hash). Deletes for never-counted docs are no-ops "
    "by the docs-log net-sign rule. This closes the takedown story "
    "for the vocabulary artifacts: fingerprints, signatures, "
    "postings, cells, spans, clusters and now token statistics all "
    "honor right-to-be-forgotten under one manifest protocol.",
)
def collocation_pmi_retracted_q(spark, sf_dir):
    from .operators.vocab import pmi_store_topk
    from .queries_ext import _sink_dir

    path = _sink_dir("pmi_store_del", sf_dir)
    _pmi_store_build(spark, sf_dir, path, with_delete=True)
    return pmi_store_topk(spark, path)


# ------------------------------------------------------------------
# 28. Per-domain quota sampling with CLUSTERS as the sampling unit
# ------------------------------------------------------------------


@defquery(
    "cluster_quota_sample",
    _SHINGLE_SQL.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + """,
ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle FROM sh),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
  HAVING count(*) / (a.sz + b.sz - count(*)) >= 0.6
),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT doc_id AS v, doc_id AS r FROM documents
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
),
labels AS (SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY v),
cl AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY cluster_id),
canon AS (
  SELECT c.cluster_id, d.source, c.cluster_size
  FROM cl c JOIN documents d ON d.doc_id = c.cluster_id),
cnt AS (SELECT source, count(*) AS nc FROM canon GROUP BY source),
ranked AS (
  SELECT canon.*,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('17:' || CAST(cluster_id AS VARCHAR)) ASC, cluster_id ASC) AS rk
  FROM canon)
SELECT r.source, r.cluster_id, CAST(r.cluster_size AS BIGINT) AS cluster_size
FROM ranked r JOIN cnt ON cnt.source = r.source
WHERE r.rk <= CAST(floor(cnt.nc / 2.0) AS BIGINT)
    """,
    "per-domain quota sampling with DEDUP CLUSTERS as the sampling "
    "unit (SURVEY round-9 #3) — the fix for the standard mixture-"
    "sampling bias: sampling raw docs lets big near-duplicate "
    "families grab a domain's whole quota, so the unit becomes the "
    "maintained cluster label from the incremental cluster store "
    "(three manifest commits, frontier-contraction ingest), each "
    "cluster represented by its canonical min-id member and weighted "
    "once regardless of family size. Per source, half the clusters "
    "(floor(n/2) — integer boundary) are kept by deterministic "
    "md5('17:'||cluster_id) rank, the same content-hash-rank contract "
    "as domain_mixture_resample, so the kept set survives re-runs, "
    "repartitioning and AQE. Oracle = the from-scratch recursive-CTE "
    "closure + the identical ranked quota — a hash match proves the "
    "STORE's labels (merges included) are what the sampler consumed. "
    "PRECONDITION (revenue_share_window class): the rank window "
    "partitions by source over CLUSTER-level rows (post-aggregate, "
    "|clusters| per source, never the doc table); the 100 TB "
    "production swap is the documented threshold-sampling variant.",
)
def cluster_quota_sample_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("cc_quota_store", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    DD.dedup_incremental_clusters(spark, path, d.filter(src_num < 7))
    DD.dedup_incremental_clusters(
        spark, path, d.filter((src_num >= 7) & (src_num < 14))
    )
    DD.dedup_incremental_clusters(spark, path, d.filter(src_num >= 14))
    labels = DD.read_incremental_clusters(spark, path)
    return _quota_sampled_clusters(labels, d)


def _quota_sampled_clusters(labels, d):
    """md5-rank half-quota per source over cluster-level rows: the
    canonical min-id member carries the cluster's source; shared by
    cluster_quota_sample and the end-to-end export."""
    cl = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    canon = cl.join(
        d.select(F.col("doc_id").alias("cluster_id"), "source"), "cluster_id"
    )
    cnt = canon.groupBy("source").agg(F.count(F.lit(1)).alias("nc"))
    rk_w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("17:"), F.col("cluster_id").cast("string"))).asc(),
        F.col("cluster_id").asc(),
    )
    ranked = canon.withColumn("rk", F.row_number().over(rk_w))
    return (
        ranked.join(F.broadcast(cnt), "source")
        .filter(F.col("rk") <= F.floor(F.col("nc") / F.lit(2.0)).cast("bigint"))
        .select("source", "cluster_id", F.col("cluster_size").cast("bigint").alias("cluster_size"))
    )


# ------------------------------------------------------------------
# 29. Round-8 fourth tranche: streaming hybrid ingest, store-resident
#     MMR, vocab-store delta-fold compaction
# ------------------------------------------------------------------


@defquery(
    "streaming_hybrid_index",
    _rrf_fusion_sql(),
    "continuous HYBRID indexing: (doc_id, text, embedding) rows "
    "arrive as a file stream (4 chunks, maxFilesPerTrigger=1) and "
    "every micro-batch runs hybrid_index_ingest inside foreachBatch — "
    "each micro-batch is one four-table transaction (postings, "
    "doclen, vectors, prefixes under ONE manifest swap), so a crashed "
    "micro-batch is invisible in every table at once and Structured "
    "Streaming's replay re-admits identically through the doc_id "
    "anti-join. After the stream drains, the ENTIRE three-leg RRF "
    "cascade serves from the store and must hash-match the "
    "from-scratch fusion oracle: micro-batch slicing provably cannot "
    "change any of the four tables' contents. This is the "
    "streaming_bm25_index argument extended to the multi-modal case — "
    "the loop a 100 TB hybrid deployment actually runs (stream in, "
    "commit all legs transactionally, serve one snapshot forever).",
)
def streaming_hybrid_index_q(spark, sf_dir):
    from .operators.retrieval import hybrid_index_ingest, hybrid_index_rrf
    from .queries_ext import _fresh_sink_dir, _sink_dir

    srcdir = _sink_dir("stream_hybrid_in", sf_dir)
    store = _fresh_sink_dir("stream_hybrid_store", sf_dir)

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    de = d.join(e, "doc_id")
    max_id = d.agg(F.max("doc_id")).first()[0]  # 1-row driver scalar
    span = (max_id + 4) // 4
    chunks = [
        de.filter((F.col("doc_id") >= k * span) & (F.col("doc_id") < (k + 1) * span))
        for k in range(4)
    ]

    def apply_batch(bdf, batch_id):
        hybrid_index_ingest(bdf.sparkSession, store, bdf)

    sdf = replay_chunks(spark, srcdir, chunks, "doc_id bigint, text string, embedding array<float>")
    drain(sdf, apply_batch)
    qt, qv = _hybrid_queries(spark, sf_dir)
    return hybrid_index_rrf(spark, store, qt, qv, shortlist=_RERANK_SHORTLIST, k=_RERANK_K)


@defquery(
    "hybrid_store_mmr",
    _mmr_sql(),
    "the retrieval endgame STORE-RESIDENT: greedy MMR diversification "
    "served entirely from one hybrid-store snapshot — postings/doclen "
    "drive the lexical shortlist, the vectors table supplies BOTH the "
    "relevance cosines and the candidate-pair redundancy cosines, and "
    "the ten-pick unroll runs on shortlist-bounded frames exactly as "
    "in mmr_diversity_rerank (whose oracle this query shares "
    "verbatim: the store's four-table union provably equals the "
    "corpus for any slicing, so served MMR == from-scratch MMR). "
    "Composing the two proofs ends the serving story: index "
    "transactionally once, then every rung of the ladder — BM25, "
    "fusion, diversification — reads one manifest snapshot and never "
    "touches the corpus.",
)
def hybrid_store_mmr_q(spark, sf_dir):
    from .core import store
    from .operators.retrieval import _HYBRID_PARAMS
    from .queries_ext import _sink_dir

    path = _sink_dir("hybrid_store_mmr", sf_dir)
    _hybrid_store_build(spark, sf_dir, path)
    tags = store.tags(path, _HYBRID_PARAMS)
    t = {
        name: store.read_batches(spark, path, name, tags)
        for name in ("postings", "doclen", "vectors")
    }
    qt, qv = _hybrid_queries(spark, sf_dir)
    dvec = t["vectors"].select("doc_id", F.col("embedding").alias("dvec"))
    qvec = qv.select("query_id", F.col("embedding").alias("qvec"))
    return _mmr_from_index(t["postings"], t["doclen"], qt, dvec, qvec)


@defquery(
    "collocation_pmi_compacted",
    _pmi_sql(where="NOT (doc_id % 9 = 4)"),
    "the vocab store's DELTA-FOLD compaction proved hash-invariant "
    "through a full CDC lifecycle: insert three batches, FOLD "
    "(compact_vocab_store nets the signed deltas to one row per key "
    "through the crash-safe rewrite — zero-net rows vanish, the docs "
    "log folds to net signs), replay an already-counted batch "
    "(admission still no-ops against the folded log), CDC-delete the "
    "doc_id % 9 == 4 docs, fold AGAIN (post-retraction: the victims' "
    "keys now net to their surviving counts, fully-retracted keys "
    "disappear), and serve. Oracle = from-scratch PMI over the "
    "survivors — the same hash as the uncompacted retracted store, "
    "so both folds are provably pure representation changes while "
    "state actually SHRINKS (the compaction benefit the union-rewrite "
    "stores don't get). At 100 TB this fold is what keeps the delta "
    "log from growing with ingest count instead of vocabulary size.",
)
def collocation_pmi_compacted_q(spark, sf_dir):
    from .operators.vocab import compact_vocab_store, pmi_store_ingest, pmi_store_topk
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("pmi_store_compact", sf_dir)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = F.col("doc_id") % 3
    ins = d.withColumn("sign", F.lit(1))
    pmi_store_ingest(spark, path, ins.filter(src == 0))
    pmi_store_ingest(spark, path, ins.filter(src == 1))
    pmi_store_ingest(spark, path, ins.filter(src == 2))
    compact_vocab_store(spark, path)
    # replay against the FOLDED docs log still admits nothing
    pmi_store_ingest(spark, path, ins.filter(src == 0))
    dele = d.filter(F.col("doc_id") % 9 == 4).withColumn("sign", F.lit(-1))
    pmi_store_ingest(spark, path, dele)
    compact_vocab_store(spark, path)
    return pmi_store_topk(spark, path)


@defquery(
    "quota_sampled_export",
    _SHINGLE_SQL.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + f""",
ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle FROM sh),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
  HAVING count(*) / (a.sz + b.sz - count(*)) >= 0.6
),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT doc_id AS v, doc_id AS r FROM documents
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.v
),
labels AS (SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY v),
cl AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY cluster_id),
canon AS (
  SELECT c.cluster_id, d.source, c.cluster_size
  FROM cl c JOIN documents d ON d.doc_id = c.cluster_id),
cnt AS (SELECT source, count(*) AS nc FROM canon GROUP BY source),
sampled AS (
  SELECT r.source, r.cluster_id, r.cluster_size
  FROM (SELECT canon.*,
               row_number() OVER (
                 PARTITION BY source
                 ORDER BY md5('17:' || CAST(cluster_id AS VARCHAR)) ASC, cluster_id ASC) AS rk
        FROM canon) r
  JOIN cnt ON cnt.source = r.source
  WHERE r.rk <= CAST(floor(cnt.nc / 2.0) AS BIGINT)),
export AS (
  SELECT s.source, s.cluster_id AS doc_id, s.cluster_size,
         CAST(len(string_split_regex(trim(d.text), '\\s+')) AS INT) AS n
  FROM sampled s JOIN documents d ON d.doc_id = s.cluster_id),
c2 AS (
  SELECT source, doc_id, cluster_size, n,
         SUM(n) OVER (ORDER BY source, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM export)
SELECT source, doc_id, CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(n AS BIGINT) AS n_tokens, CAST(cum AS BIGINT) AS cum_tokens,
       CAST((cum - n) // {_FILE_TOKEN_BUDGET} AS BIGINT) AS file_idx
FROM c2
    """,
    "the curated-training-export pipeline END-TO-END as one gated "
    "query (SURVEY round-9 #3): maintain dedup clusters in the store "
    "(three manifest commits, frontier-contraction ingest), sample "
    "half of each domain's CLUSTERS by deterministic md5 rank (the "
    "family-level unit — one representative per near-dup family, no "
    "quota-grab by big families), export each sampled cluster's "
    "canonical min-id document, count its whitespace tokens, and "
    "assign every exported doc its output shard by global running "
    "token total in (source, doc_id) order — computed with the "
    "two-pass distributed prefix sum (range partition + P-row driver "
    "offsets, operators/prefix.py), NEVER a single-task global "
    "window. This is the handoff artifact a tokenizer/packing stage "
    "consumes: which docs survive curation, in what order, in which "
    "~4096-token file. The oracle replays the entire chain — "
    "closure, quota, token counts, sequential cumsum — so one hash "
    "gates four composed operators. At 100 TB each stage keeps its "
    "proven bound: O(frontier) cluster maintenance, |clusters|-"
    "bounded quota windows, one range exchange for the shard "
    "assignment.",
)
def quota_sampled_export_q(spark, sf_dir):
    return _quota_export_frame(spark, sf_dir, "cc_export_store")


def _quota_export_frame(spark, sf_dir, store_dirname):
    """The curated-export chain (cluster store → quota sample → token
    counts → prefix-sum shard assignment), shared by
    quota_sampled_export and the export-manifest query."""

    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir(store_dirname, sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    DD.dedup_incremental_clusters(spark, path, d.filter(src_num < 7))
    DD.dedup_incremental_clusters(
        spark, path, d.filter((src_num >= 7) & (src_num < 14))
    )
    DD.dedup_incremental_clusters(spark, path, d.filter(src_num >= 14))
    labels = DD.read_incremental_clusters(spark, path)
    return _export_frame_from_labels(labels, d)


def _export_frame_from_labels(labels, d):
    """Quota sample → canonical docs → token counts → distributed
    prefix sum → shard index: the export chain below the cluster
    labels, shared by the export/manifest/update queries."""
    from .functions.text import token_count
    from .operators.prefix import prefix_sum

    sampled = _quota_sampled_clusters(labels, d)
    export = sampled.join(
        d.select(F.col("doc_id").alias("cluster_id"), "text"), "cluster_id"
    ).select(
        "source",
        F.col("cluster_id").alias("doc_id"),
        "cluster_size",
        token_count(F.col("text")).alias("n_tokens"),
    )
    c = prefix_sum(export, ["source", "doc_id"], "n_tokens", out_col="cum_tokens")
    return c.select(
        "source",
        "doc_id",
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "cum_tokens",
        F.expr(f"(cum_tokens - n_tokens) div {_FILE_TOKEN_BUDGET}").alias("file_idx"),
    )


@defquery(
    "ops_dashboard_drift",
    f"""
    WITH dr AS MATERIALIZED (SELECT * FROM ({_ann_drift_sql()}) t)
    SELECT 'ann' AS store_kind, 'cells' AS item, 'n_rows' AS metric,
           CAST((SELECT count(*) FROM embeddings) AS DOUBLE) AS value
    UNION ALL
    SELECT 'bm25', 'doclen', 'n_rows', CAST((SELECT count(*) FROM documents) AS DOUBLE)
    UNION ALL
    SELECT 'bm25', 'postings', 'n_rows',
           CAST((SELECT count(*) FROM (
              SELECT DISTINCT doc_id, token FROM (
                SELECT doc_id,
                       unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
                FROM documents))) AS DOUBLE)
    UNION ALL
    SELECT 'exact', 'fps', 'n_rows',
           CAST((SELECT count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
            FROM documents) AS DOUBLE)
    UNION ALL
    SELECT 'ann', 'cell:' || CAST(cid AS VARCHAR), 'n_members',
           CAST(n_members AS DOUBLE) FROM dr
    UNION ALL
    SELECT 'ann', 'cell:' || CAST(cid AS VARCHAR), 'occupancy_frac',
           occupancy_frac FROM dr
    UNION ALL
    SELECT 'ann', 'cell:' || CAST(cid AS VARCHAR), 'drift2', drift2 FROM dr
    """,
    "the drift-EXTENDED ops pane (the last round-9 candidate): "
    "store_ops_dashboard's table row counts reshaped to the generic "
    "long-format metric schema (store_kind, item, metric, value) and "
    "UNIONed with the per-cell ANN drift rows — member count, "
    "occupancy share, and the exact integer-ratio squared mean "
    "displacement vs the frozen quantizer — so ONE frame carries "
    "both the growth/compaction signals and the retrain trigger, "
    "keyed the way an alerting policy table actually matches rules. "
    "The ANN store here ingests bootstrap-half then the rest, so "
    "drift2 is genuinely nonzero (the frozen quantizer never saw the "
    "second half). Oracle = the corpus-derived counts UNION the "
    "ann_drift_monitor replay reshaped — one hash over heterogeneous "
    "store families. Cost at 100 TB: metadata reads + one map-side-"
    "combinable cells pass per monitored ANN store.",
)
def ops_dashboard_drift_q(spark, sf_dir):
    from .operators import dedup as DD
    from .operators.retrieval import ann_index_ingest, bm25_index_ingest
    from .queries_ext import _fresh_sink_dir

    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")

    exact = _fresh_sink_dir("dash2_exact", sf_dir)
    DD.dedup_incremental_exact(spark, exact, d.filter(src_num < 10))
    DD.dedup_incremental_exact(spark, exact, d.filter(src_num >= 10))

    bm25 = _fresh_sink_dir("dash2_bm25", sf_dir)
    bm25_index_ingest(spark, bm25, d.filter(src_num < 10))
    bm25_index_ingest(spark, bm25, d.filter(src_num >= 10))

    ann = _fresh_sink_dir("dash2_ann", sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("bigint").alias("b")).first()[0]
    ann_index_ingest(spark, ann, emb.filter(F.col("vec_id") < half))
    ann_index_ingest(spark, ann, emb.filter(F.col("vec_id") >= half))

    return DD.store_ops_metrics(
        spark,
        [("exact", exact), ("bm25", bm25), ("ann", ann)],
        ann_stores=[("ann", ann)],
    )


# ------------------------------------------------------------------
# 30. Round 9: fleet-level takedown under the driver hash, the
#     streaming ops feed, and the export manifest (dataset card).
# ------------------------------------------------------------------

_TDE_VICTIM = "doc_id % 9 = 4"


@defquery(
    "takedown_everywhere_audit",
    f"""
WITH RECURSIVE
fp AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         min(doc_id) AS doc_id
  FROM documents GROUP BY 1),
ctoks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE NOT ({_TDE_VICTIM})),
csh AS (
  SELECT doc_id,
         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              ELSE list_distinct(list_transform(range(1, len(t) - 1),
                     i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END AS shingles
  FROM ctoks),
cex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle FROM csh),
cpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM cex a JOIN cex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
  HAVING count(*) / (a.sz + b.sz - count(*)) >= 0.6),
cedges AS (SELECT id_a AS u, id_b AS v FROM cpairs UNION SELECT id_b, id_a FROM cpairs),
creach AS (
  SELECT doc_id AS v, doc_id AS r FROM documents WHERE NOT ({_TDE_VICTIM})
  UNION
  SELECT e.v, creach.r FROM creach JOIN cedges e ON e.u = creach.v),
clabels AS (SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id FROM creach GROUP BY v),
snorm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents WHERE NOT ({_TDE_VICTIM})),
swin AS (
  SELECT doc_id, CAST(i AS INT) AS i, substr(t, CAST(i AS INT), {_SPAN_W}) AS w
  FROM snorm,
       unnest(range(1, greatest(len(t) - {_SPAN_W} + 1, 1) + 1, {_SPAN_S})) u(i)),
sshared AS (SELECT w FROM swin GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
sdup AS (SELECT doc_id, i FROM swin JOIN sshared USING (w)),
sisl AS (
  SELECT doc_id, i,
         i - {_SPAN_S} * row_number() OVER (PARTITION BY doc_id ORDER BY i ASC) AS grp
  FROM sdup),
spans AS (
  SELECT doc_id, CAST(min(i) AS INT) AS span_start,
         CAST(max(i) + {_SPAN_W - 1} AS INT) AS span_end,
         CAST(max(i) + {_SPAN_W - 1} - min(i) + 1 AS BIGINT) AS span_chars,
         CAST(count(*) AS BIGINT) AS n_windows
  FROM sisl GROUP BY doc_id, grp),
vtoks AS (
  SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w <> '') AS ws
  FROM documents WHERE NOT ({_TDE_VICTIM})),
vuni AS (SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM vtoks) GROUP BY w),
vbi AS (
  SELECT a, b, count(*) AS c FROM (
    SELECT ws[CAST(i AS INT)] AS a, ws[CAST(i AS INT)+1] AS b
    FROM vtoks, unnest(range(1, greatest(len(ws)-1, 0)+1)) u(i))
  GROUP BY a, b)
SELECT 'audit:cluster' AS store_kind, 'deleted' AS key,
       CAST((SELECT count(*) FROM documents WHERE {_TDE_VICTIM}) AS BIGINT) AS val
UNION ALL SELECT 'audit:exact', 'deleted',
       (SELECT count(*) FROM fp WHERE {_TDE_VICTIM})
UNION ALL SELECT 'audit:span', 'deleted',
       (SELECT count(*) FROM documents WHERE {_TDE_VICTIM})
UNION ALL SELECT 'audit:vocab', 'deleted',
       (SELECT count(*) FROM documents WHERE {_TDE_VICTIM})
UNION ALL SELECT 'exact', fp, doc_id FROM fp WHERE NOT ({_TDE_VICTIM})
UNION ALL SELECT 'cluster', CAST(doc_id AS VARCHAR), cluster_id FROM clabels
UNION ALL SELECT 'span',
       concat_ws(':', CAST(doc_id AS VARCHAR), CAST(span_start AS VARCHAR),
                 CAST(span_end AS VARCHAR), CAST(span_chars AS VARCHAR)),
       n_windows
  FROM spans
UNION ALL SELECT 'vocab:uni', w, CAST(c AS BIGINT) FROM vuni
UNION ALL SELECT 'vocab:bi', a || ' ' || b, CAST(c AS BIGINT) FROM vbi
    """,
    "fleet-level right-to-be-forgotten under ONE driver hash (SURVEY "
    "round-9 #3): takedown_everywhere routes a single victim set to "
    "every store family's proven delete — table-style fingerprint "
    "rewrite, cluster scoped-CC recompute (deletes split components), "
    "span cut-list recompute (survivors' spans SHRINK), vocab CDC "
    "count subtraction — and this query unions the per-store audit "
    "counts WITH each family's served post-takedown state: surviving "
    "fingerprints, cluster labels, span rows, net uni/bigram counts. "
    "Oracle = from-scratch rebuilds over the corpus minus victims "
    "per family, so one hash proves (a) every family deleted exactly "
    "the victim rows, (b) every family's decremental semantics "
    "(splits, un-sharing, subtraction) re-served correctly, and (c) "
    "the audit counts the compliance log records are the true "
    "deletion counts. At 100 TB each family keeps its own proven "
    "bound; the victim set stays a DataFrame sized by the takedown "
    "batch (the family deletes broadcast-anti-join it — request-"
    "bounded, never corpus-bounded).",
)
def takedown_everywhere_audit_q(spark, sf_dir):
    import shutil

    from .operators import dedup as DD
    from .operators.takedown import takedown_everywhere
    from .operators.vocab import pmi_store_ingest, vocab_net_counts
    from .queries_ext import _sink_dir

    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    stores = {k: _sink_dir(f"tde_{k}", sf_dir) for k in ("exact", "cluster", "span", "vocab")}
    for p in stores.values():
        shutil.rmtree(p, ignore_errors=True)

    DD.dedup_incremental_exact(spark, stores["exact"], d)
    DD.dedup_incremental_clusters(spark, stores["cluster"], d.filter(src_num < 10))
    DD.dedup_incremental_clusters(spark, stores["cluster"], d.filter(src_num >= 10))
    DD.dedup_incremental_spans(spark, stores["span"], d.filter(src_num < 10))
    DD.dedup_incremental_spans(spark, stores["span"], d.filter(src_num >= 10))
    pmi_store_ingest(
        spark, stores["vocab"], d.select("doc_id", "text").withColumn("sign", F.lit(1))
    )

    victims = d.filter(F.col("doc_id") % 9 == 4).select("doc_id", "text")
    audit = takedown_everywhere(
        spark,
        victims,
        table_stores={"exact": (stores["exact"], ("fps",))},
        cluster_stores=[("cluster", stores["cluster"])],
        span_stores=[("span", stores["span"])],
        vocab_stores=[("vocab", stores["vocab"])],
    )

    out = local_df(
        spark,
        [(f"audit:{k}", "deleted", int(v)) for k, v in sorted(audit.items())],
        "store_kind string, key string, val bigint",
    )
    exact_served = DD.read_incremental_store_asof(spark, stores["exact"], "fps").select(
        F.lit("exact").alias("store_kind"),
        F.col("fp").alias("key"),
        F.col("doc_id").cast("bigint").alias("val"),
    )
    cluster_served = DD.read_incremental_clusters(spark, stores["cluster"]).select(
        F.lit("cluster").alias("store_kind"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("cluster_id").cast("bigint").alias("val"),
    )
    span_served = DD.read_incremental_spans(spark, stores["span"]).select(
        F.lit("span").alias("store_kind"),
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.col("span_start").cast("string"),
            F.col("span_end").cast("string"),
            F.col("span_chars").cast("string"),
        ).alias("key"),
        F.col("n_windows").cast("bigint").alias("val"),
    )
    uni, bi = vocab_net_counts(spark, stores["vocab"])
    vocab_served = uni.select(
        F.lit("vocab:uni").alias("store_kind"),
        F.col("w").alias("key"),
        F.col("c").cast("bigint").alias("val"),
    ).unionByName(
        bi.select(
            F.lit("vocab:bi").alias("store_kind"),
            F.concat_ws(" ", "a", "b").alias("key"),
            F.col("c").cast("bigint").alias("val"),
        )
    )
    return (
        out.unionByName(exact_served)
        .unionByName(cluster_served)
        .unionByName(span_served)
        .unionByName(vocab_served)
    )


def _ops_prefix_sql(k: int, hi: int) -> str:
    """Corpus-prefix replay of the three maintained metric rows after
    the k-th micro-batch (docs with src < hi committed)."""
    w = f"CAST(substr(source, 4) AS INT) < {hi}"
    return f"""
SELECT {k} AS batch_seq, 'exact' AS store_kind, 'fps' AS item, 'n_rows' AS metric,
       CAST((SELECT count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
             FROM documents WHERE {w}) AS DOUBLE) AS value
UNION ALL
SELECT {k}, 'bm25', 'doclen', 'n_rows',
       CAST((SELECT count(*) FROM documents WHERE {w}) AS DOUBLE)
UNION ALL
SELECT {k}, 'bm25', 'postings', 'n_rows',
       CAST((SELECT count(*) FROM (
          SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
            FROM documents WHERE {w}))) AS DOUBLE)
    """


@defquery(
    "streaming_ops_metrics",
    "\nUNION ALL\n".join(_ops_prefix_sql(k + 1, 5 * (k + 1)) for k in range(4)),
    "the ops dashboard as a continuously-MAINTAINED table, not a "
    "read (SURVEY round-9 #1): documents stream in as four source-"
    "ordered chunks (maxFilesPerTrigger=1), every micro-batch ingests "
    "into the exact-fingerprint store AND the BM25 index store, then "
    "emits store_ops_metrics' long-format rows (store_kind, item, "
    "metric, value) stamped with the store's own committed-batch "
    "count as batch_seq — the manifest IS the clock, so a replayed "
    "micro-batch stamps the same seq and overwrite-by-seq keeps the "
    "feed idempotent. The result is the full metrics HISTORY: what "
    "an alerting system tails to see n_rows growth per commit, not "
    "just the final pane. Oracle = the batch replay at every prefix "
    "(counts over docs with src < 5k for k=1..4), so the hash proves "
    "every intermediate snapshot the feed recorded equals the state "
    "a from-scratch dashboard read would have seen at that commit — "
    "micro-batch boundaries land exactly on the store's commit "
    "points. At 100 TB the per-batch cost is the dashboard's "
    "metadata reads + one count per table; the feed table is "
    "(stores x tables x commits) rows — metadata-sized.",
)
def streaming_ops_metrics_q(spark, sf_dir):
    import os
    import shutil

    from .operators import dedup as DD
    from .operators.retrieval import bm25_index_ingest
    from .queries_ext import _sink_dir

    srcdir = _sink_dir("stream_ops_in", sf_dir)
    exact = _sink_dir("stream_ops_exact", sf_dir)
    bm25 = _sink_dir("stream_ops_bm25", sf_dir)
    feed = _sink_dir("stream_ops_feed", sf_dir)
    for p in (exact, bm25, feed):
        shutil.rmtree(p, ignore_errors=True)

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    src_num = F.substring("source", 4, 10).cast("int")
    chunks = [d.filter((src_num >= 5 * k) & (src_num < 5 * (k + 1))) for k in range(4)]

    def apply_batch(bdf, batch_id):
        s = bdf.sparkSession
        DD.dedup_incremental_exact(s, exact, bdf)
        bm25_index_ingest(s, bm25, bdf)
        # the store's committed-batch count is the feed's clock: a
        # checkpoint-replayed micro-batch re-stamps the same seq, and
        # the per-seq overwrite makes re-emission idempotent
        seq = DD.incremental_store_stats(s, exact)["n_batches"]
        DD.store_ops_metrics(s, [("exact", exact), ("bm25", bm25)]).withColumn(
            "batch_seq", F.lit(seq)
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(feed, f"seq={seq}")
        )

    sdf = replay_chunks(spark, srcdir, chunks, "doc_id bigint, text string, source string")
    drain(sdf, apply_batch)
    return spark.read.parquet(feed).select(
        F.col("batch_seq").cast("int").alias("batch_seq"),
        "store_kind",
        "item",
        "metric",
        "value",
    )


@defquery(
    "quota_export_manifest",
    f"""
SELECT file_idx,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(bit_xor(CAST(('0x' || substr(md5(
           concat_ws('|', CAST(doc_id AS VARCHAR), source,
                     CAST(cluster_size AS VARCHAR), CAST(n_tokens AS VARCHAR),
                     CAST(cum_tokens AS VARCHAR))),
           1, 15)) AS UBIGINT)) AS BIGINT) AS content_hash
FROM ({{EXPORT_SQL}}) exp
GROUP BY file_idx
    """,
    "the export MANIFEST / lineage artifact (SURVEY round-9 #2): the "
    "curated export runs end-to-end (cluster store → md5 half-quota → "
    "canonical docs → token counts → prefix-sum shard assignment), "
    "the exported rows land partitioned by output shard under "
    "files/batch=<tag>, and a per-shard manifest row — doc count, "
    "token total, and an order-free XOR-fold of each row's 60-bit "
    "canonical-string md5 (table_audit_hash's proven formula) — "
    "commits under the SAME _BATCHES protocol every store uses, "
    "manifest last, so the dataset-card artifact and the data it "
    "describes become visible together or not at all. Serving reads "
    "the committed manifest table back from the store (the hash "
    "gates the round-trip, not a driver-side copy). Oracle replays "
    "the whole export chain AND recomputes every shard's content "
    "hash from the corpus — a consumer can re-verify any shard "
    "against its manifest row forever, which is the lineage contract "
    "a training run's data card needs. At 100 TB: one extra "
    "map-side-combinable aggregate over the exported rows; the "
    "manifest is |shards| rows.",
)
def quota_export_manifest_q(spark, sf_dir):
    from .operators.export import export_store_commit, read_export_manifest
    from .queries_ext import _fresh_sink_dir

    store = _fresh_sink_dir("export_manifest_store", sf_dir)
    exp = _quota_export_frame(spark, sf_dir, "cc_export_manifest_cc")
    # one implementation of the hash/commit protocol (operators/export.py)
    # serves both this first-commit query and the update query — the
    # content-hash formula cannot desynchronize between them
    export_store_commit(spark, store, exp)
    return read_export_manifest(spark, store).select(
        "file_idx", "n_docs", "sum_tokens", "content_hash"
    )


# the manifest oracle wraps the registered export oracle verbatim —
# one source of truth for the export chain's SQL
QUERIES["quota_export_manifest"].sql = QUERIES["quota_export_manifest"].sql.replace(
    "{EXPORT_SQL}", QUERIES["quota_sampled_export"].sql
)


@defquery(
    "fleet_snapshot_reads",
    f"""
WITH RECURSIVE
fpdocs AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         CASE WHEN CAST(substr(source, 4) AS INT) < 7 THEN 0 ELSE 1 END AS b
  FROM documents WHERE CAST(substr(source, 4) AS INT) < 14),
fpkeep AS (
  SELECT fp, doc_id FROM (
    SELECT fp, doc_id,
           row_number() OVER (PARTITION BY fp ORDER BY b ASC, doc_id ASC) AS rn
    FROM fpdocs) t WHERE rn = 1),
ctoks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE CAST(substr(source, 4) AS INT) < 14),
csh AS (
  SELECT doc_id,
         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              ELSE list_distinct(list_transform(range(1, len(t) - 1),
                     i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END AS shingles
  FROM ctoks),
cex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle FROM csh),
cpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM cex a JOIN cex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
  HAVING count(*) / (a.sz + b.sz - count(*)) >= 0.6),
cedges AS (SELECT id_a AS u, id_b AS v FROM cpairs UNION SELECT id_b, id_a FROM cpairs),
creach AS (
  SELECT doc_id AS v, doc_id AS r FROM documents
  WHERE CAST(substr(source, 4) AS INT) < 14
  UNION
  SELECT e.v, creach.r FROM creach JOIN cedges e ON e.u = creach.v),
clabels AS (SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id FROM creach GROUP BY v),
snorm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
  FROM documents WHERE CAST(substr(source, 4) AS INT) < 14),
swin AS (
  SELECT doc_id, CAST(i AS INT) AS i, substr(t, CAST(i AS INT), {_SPAN_W}) AS w
  FROM snorm,
       unnest(range(1, greatest(len(t) - {_SPAN_W} + 1, 1) + 1, {_SPAN_S})) u(i)),
sshared AS (SELECT w FROM swin GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
sdup AS (SELECT doc_id, i FROM swin JOIN sshared USING (w)),
sisl AS (
  SELECT doc_id, i,
         i - {_SPAN_S} * row_number() OVER (PARTITION BY doc_id ORDER BY i ASC) AS grp
  FROM sdup),
spans AS (
  SELECT doc_id, CAST(min(i) AS INT) AS span_start,
         CAST(max(i) + {_SPAN_W - 1} AS INT) AS span_end,
         CAST(max(i) + {_SPAN_W - 1} - min(i) + 1 AS BIGINT) AS span_chars,
         CAST(count(*) AS BIGINT) AS n_windows
  FROM sisl GROUP BY doc_id, grp),
vtoks AS (
  SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w <> '') AS ws
  FROM documents WHERE CAST(substr(source, 4) AS INT) < 14),
vuni AS (SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM vtoks) GROUP BY w),
vbi AS (
  SELECT a, b, count(*) AS c FROM (
    SELECT ws[CAST(i AS INT)] AS a, ws[CAST(i AS INT)+1] AS b
    FROM vtoks, unnest(range(1, greatest(len(ws)-1, 0)+1)) u(i))
  GROUP BY a, b)
SELECT 'snapshot:cluster' AS store_kind, 'n_batches' AS key, CAST(2 AS BIGINT) AS val
UNION ALL SELECT 'snapshot:exact', 'n_batches', 2
UNION ALL SELECT 'snapshot:span', 'n_batches', 2
UNION ALL SELECT 'snapshot:vocab', 'n_batches', 2
UNION ALL SELECT 'exact', fp, doc_id FROM fpkeep
UNION ALL SELECT 'cluster', CAST(doc_id AS VARCHAR), cluster_id FROM clabels
UNION ALL SELECT 'span',
       concat_ws(':', CAST(doc_id AS VARCHAR), CAST(span_start AS VARCHAR),
                 CAST(span_end AS VARCHAR), CAST(span_chars AS VARCHAR)),
       n_windows
  FROM spans
UNION ALL SELECT 'vocab:uni', w, CAST(c AS BIGINT) FROM vuni
UNION ALL SELECT 'vocab:bi', a || ' ' || b, CAST(c AS BIGINT) FROM vbi
    """,
    "fleet-level CONSISTENT SNAPSHOT (SURVEY round-10 #1, shipped "
    "early): a training run captures every store's committed-batch "
    "count as ONE descriptor (operators/snapshot.py — per-store "
    "manifest metadata reads, persisted with the same write-temp+"
    "os.replace swap as the manifests themselves), and every family's "
    "as-of read serves pinned to it. Here four stores (exact fps, "
    "clusters, spans, vocab) each take a third commit AFTER the "
    "snapshot is captured and save/load round-tripped; the query "
    "serves all four families AS-OF the descriptor, so the hash "
    "proves post-snapshot commits are invisible across the WHOLE "
    "fleet at once — exact admission replays to the earliest-batch "
    "min-id survivor, cluster labels exclude post-snapshot merges, "
    "span revisions stop at the pinned prefix, vocab counts exclude "
    "the third batch's tokens. Oracle = from-scratch rebuilds over "
    "the snapshot-time corpus (src < 14). The descriptor rows "
    "themselves are in the hash (n_batches=2 per store). At 100 TB "
    "the capture is O(#stores) driver metadata and each pinned read "
    "costs the same as a normal read of that prefix; compaction "
    "collapsing a snapshot's prefix raises out-of-range rather than "
    "serving silently different state (pinned in pytest).",
)
def fleet_snapshot_reads_q(spark, sf_dir):
    import os
    import shutil

    from .operators import dedup as DD
    from .operators.snapshot import (
        fleet_snapshot,
        load_snapshot,
        save_snapshot,
        snapshot_batches,
    )
    from .operators.vocab import pmi_store_ingest, vocab_net_counts
    from .queries_ext import _sink_dir

    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    stores = {k: _sink_dir(f"fsnap_{k}", sf_dir) for k in ("exact", "cluster", "span", "vocab")}
    for p in stores.values():
        shutil.rmtree(p, ignore_errors=True)

    def ingest(batch):
        # the four stores are independent (own dirs/locks): overlap
        # their commit jobs from a small thread pool so one store's
        # driver-side commit tail back-fills with the next store's
        # scan (guide §2.6); per-store semantics unchanged
        import contextvars
        from concurrent.futures import ThreadPoolExecutor

        jobs = [
            lambda: DD.dedup_incremental_exact(spark, stores["exact"], batch),
            lambda: DD.dedup_incremental_clusters(spark, stores["cluster"], batch),
            lambda: DD.dedup_incremental_spans(spark, stores["span"], batch),
            lambda: pmi_store_ingest(
                spark, stores["vocab"],
                batch.select("doc_id", "text").withColumn("sign", F.lit(1)),
            ),
        ]
        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(contextvars.copy_context().run, j) for j in jobs]:
                f.result()

    ingest(d.filter(src_num < 7))
    ingest(d.filter((src_num >= 7) & (src_num < 14)))

    snap_path = os.path.join(stores["exact"], "fleet.snapshot.json")
    save_snapshot(snap_path, fleet_snapshot(stores))
    snap = load_snapshot(snap_path)  # the persisted artifact serves

    ingest(d.filter(src_num >= 14))  # post-snapshot commits: invisible below

    out = local_df(
        spark,
        [
            (f"snapshot:{k}", "n_batches", snapshot_batches(snap, k))
            for k in sorted(stores)
        ],
        "store_kind string, key string, val bigint",
    )
    exact_served = DD.read_incremental_store_asof(
        spark, stores["exact"], "fps", snapshot_batches(snap, "exact")
    ).select(
        F.lit("exact").alias("store_kind"),
        F.col("fp").alias("key"),
        F.col("doc_id").cast("bigint").alias("val"),
    )
    cluster_served = DD.read_incremental_clusters_asof(
        spark, stores["cluster"], snapshot_batches(snap, "cluster")
    ).select(
        F.lit("cluster").alias("store_kind"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("cluster_id").cast("bigint").alias("val"),
    )
    span_served = DD.read_incremental_spans(
        spark, stores["span"], as_of_batches=snapshot_batches(snap, "span")
    ).select(
        F.lit("span").alias("store_kind"),
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.col("span_start").cast("string"),
            F.col("span_end").cast("string"),
            F.col("span_chars").cast("string"),
        ).alias("key"),
        F.col("n_windows").cast("bigint").alias("val"),
    )
    uni, bi = vocab_net_counts(
        spark, stores["vocab"], as_of_batches=snapshot_batches(snap, "vocab")
    )
    vocab_served = uni.select(
        F.lit("vocab:uni").alias("store_kind"),
        F.col("w").alias("key"),
        F.col("c").cast("bigint").alias("val"),
    ).unionByName(
        bi.select(
            F.lit("vocab:bi").alias("store_kind"),
            F.concat_ws(" ", "a", "b").alias("key"),
            F.col("c").cast("bigint").alias("val"),
        )
    )
    return (
        out.unionByName(exact_served)
        .unionByName(cluster_served)
        .unionByName(span_served)
        .unionByName(vocab_served)
    )


@defquery(
    "policy_maintenance_pass",
    f"""
WITH
fpdocs AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         CASE WHEN CAST(substr(source, 4) AS INT) < 7 THEN 0
              WHEN CAST(substr(source, 4) AS INT) < 14 THEN 1
              ELSE 2 END AS b
  FROM documents),
fpkeep AS (
  SELECT fp, doc_id FROM (
    SELECT fp, doc_id,
           row_number() OVER (PARTITION BY fp ORDER BY b ASC, doc_id ASC) AS rn
    FROM fpdocs) t WHERE rn = 1),
dr AS MATERIALIZED (SELECT * FROM ({{DRIFT_SQL}}) t),
trig AS (
  SELECT drift2 FROM dr WHERE drift2 > 0
  ORDER BY 'cell:' || CAST(cid AS VARCHAR) ASC, drift2 ASC LIMIT 1)
SELECT 'audit:compact' AS kind, 'exact:n_dirs' AS key,
       CAST(3 AS BIGINT) AS val, CAST(3 AS DOUBLE) AS dval
UNION ALL
SELECT 'audit:retrain', 'ann:drift2', 8, (SELECT drift2 FROM trig)
UNION ALL
SELECT 'exact', fp, doc_id, NULL FROM fpkeep
UNION ALL
SELECT 'ann', CAST(query_id AS VARCHAR) || ':' || CAST(rank AS VARCHAR),
       vec_id, CAST(dist AS DOUBLE)
FROM ({{ANN_SQL}}) a
    """,
    "POLICY-driven maintenance (SURVEY round-10 #2, shipped early) — "
    "the ops loop closed from metrics to ACTION: a declarative rule "
    "table (metric, op, threshold, action) joins the fleet's "
    "store_ops_metrics feed (layout metrics included: n_dirs is the "
    "read-amplification signal), and apply_maintenance_policy "
    "(operators/policy.py) EXECUTES what fires — here 'n_dirs > 2 -> "
    "compact' catches the 3-commit exact store, 'drift2 > 0 -> "
    "retrain' catches the ANN store whose frozen quantizer never saw "
    "the second ingest. The hash gates three things at once: the "
    "audit rows (which rule fired, on which deterministic trigger "
    "value, with what action result — the oracle recomputes the "
    "triggering drift2 from the corpus), the compacted exact store's "
    "served fingerprints (compaction provably state-preserving), and "
    "the retrained ANN store's served kNN (= the from-scratch index "
    "trained on ALL vectors — ann_index_retrained's oracle). Policy "
    "evaluation is one pass over the metadata-sized metrics frame; "
    "every fired action is individually crash-safe and idempotent, so "
    "the nightly pass is re-runnable — a completed compaction leaves "
    "n_dirs=1 and its rule simply stops matching.",
)
def policy_maintenance_pass_q(spark, sf_dir):
    import shutil

    from .operators import dedup as DD
    from .operators.policy import apply_maintenance_policy
    from .operators.retrieval import ann_index_ingest, ann_index_topk
    from .queries_ext import _sink_dir

    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    exact = _sink_dir("polmx_exact", sf_dir)
    ann = _sink_dir("polmx_ann", sf_dir)
    for p in (exact, ann):
        shutil.rmtree(p, ignore_errors=True)

    DD.dedup_incremental_exact(spark, exact, d.filter(src_num < 7))
    DD.dedup_incremental_exact(spark, exact, d.filter((src_num >= 7) & (src_num < 14)))
    DD.dedup_incremental_exact(spark, exact, d.filter(src_num >= 14))

    emb = _t(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("bigint").alias("b")).first()[0]
    ann_index_ingest(spark, ann, emb.filter(F.col("vec_id") < half))
    ann_index_ingest(spark, ann, emb.filter(F.col("vec_id") >= half))

    audit = apply_maintenance_policy(
        spark,
        policy=[
            {"metric": "n_dirs", "op": ">", "threshold": 2, "action": "compact"},
            {"metric": "drift2", "op": ">", "threshold": 0, "action": "retrain"},
        ],
        stores={"exact": ("table", exact, ("fps",)), "ann": ("ann", ann)},
        ann_stores=("ann",),
    )

    out = audit.select(
        F.concat(F.lit("audit:"), "action").alias("kind"),
        F.concat_ws(":", "store_kind", "fired_metric").alias("key"),
        F.col("result").alias("val"),
        F.col("trigger_value").alias("dval"),
    )
    exact_served = DD.read_incremental_store_asof(spark, exact, "fps").select(
        F.lit("exact").alias("kind"),
        F.col("fp").alias("key"),
        F.col("doc_id").cast("bigint").alias("val"),
        F.lit(None).cast("double").alias("dval"),
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ann_served = ann_index_topk(spark, ann, queries, nprobe=2, k=5).select(
        F.lit("ann").alias("kind"),
        F.concat_ws(":", F.col("query_id").cast("string"), F.col("rank").cast("string")).alias("key"),
        F.col("vec_id").cast("bigint").alias("val"),
        F.col("dist").cast("double").alias("dval"),
    )
    return out.unionByName(exact_served).unionByName(ann_served)


QUERIES["policy_maintenance_pass"].sql = (
    QUERIES["policy_maintenance_pass"].sql
    .replace("{DRIFT_SQL}", _ann_drift_sql())
    .replace("{ANN_SQL}", _ann_index_sql(train_where=None))
)


def _bpe_store_sql() -> str:
    """Oracle for the versioned merge store: the full 5-round training
    replay (continuation-committed 3+2 in the store must equal one
    sitting), PLUS every document re-encoded under the final merge
    list — per-doc symbol count and an md5 over the exact symbol
    sequence."""
    r = _BPE_ROUNDS
    extra = [
        r"""dwords AS (
  SELECT doc_id, ws[CAST(i AS INT)] AS word, CAST(i AS INT) AS i
  FROM (SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> w <> '') AS ws
        FROM documents) t,
       unnest(range(1, len(ws) + 1)) u(i))""",
        f"""dseg AS (
  SELECT d.doc_id, d.i, trim(v.seg) AS wseg,
         len(list_filter(string_split(trim(v.seg), ' '), s -> s <> '')) AS n_syms
  FROM dwords d JOIN v{r} v ON v.word = d.word)""",
    ]
    finals = " UNION ALL ".join(
        f"SELECT 'merge' AS kind, CAST({k} AS VARCHAR) || ':' || l || ':' || r AS key, "
        f"CAST(n AS BIGINT) AS val, CAST(NULL AS VARCHAR) AS h FROM p{k}"
        for k in range(1, r + 1)
    )
    finals += """
UNION ALL
SELECT 'doc', CAST(doc_id AS VARCHAR), CAST(SUM(n_syms) AS BIGINT),
       md5(string_agg(wseg, ' ' ORDER BY i ASC))
FROM dseg GROUP BY doc_id"""
    return _bpe_train_sql(rounds=r, extra_ctes=extra, final_sql=finals)


@defquery(
    "bpe_store_encode_pinned",
    _bpe_store_sql(),
    "the TOKENIZER ARTIFACT store (SURVEY round-10 #3, shipped "
    "early): BPE merges as a versioned, manifest-committed table "
    "(operators/tokenizer_store.py). Training CONTINUES from the "
    "stored list — greedy BPE is sequential, so the store after "
    "train(3 rounds)+train(2 rounds) is bit-identical to one 5-round "
    "sitting, which is exactly what the oracle holds it to — and "
    "encoding serves against the PINNED list: distinct words "
    "segmented once (Heaps-bounded state, AQE decides the join side), "
    "re-joined positionally, each document's full symbol sequence "
    "md5-hashed. One hash gates the merge table (all 5 rounds' "
    "winners and counts), the version-pinned reproducibility "
    "contract, and every document's exact segmentation — the artifact "
    "a 100 TB encode job ships to every executor while the corpus "
    "only ever pays one tokenize pass.",
)
def bpe_store_encode_pinned_q(spark, sf_dir):
    from .operators.tokenizer_store import bpe_store_encode, bpe_store_merges, bpe_store_train
    from .queries_ext import _fresh_sink_dir

    store = _fresh_sink_dir("bpe_store", sf_dir)
    d = _t(spark, sf_dir, "documents")

    bpe_store_train(spark, store, d, rounds=3)
    bpe_store_train(spark, store, d, rounds=_BPE_ROUNDS - 3)

    merges = bpe_store_merges(spark, store)
    merge_rows = local_df(
        spark,
        [("merge", f"{rnd}:{l}:{r}", int(n), None) for rnd, l, r, n in merges],
        "kind string, key string, val bigint, h string",
    )
    enc = bpe_store_encode(spark, store, d).select(
        F.lit("doc").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        F.size("syms").cast("bigint").alias("val"),
        F.md5(F.array_join("syms", " ")).alias("h"),
    )
    return merge_rows.unionByName(enc)


def _quota_cte(p: str, where: str | None) -> str:
    """The closure+quota CTE chain (cluster_quota_sample's oracle)
    with prefixed names, so two corpus snapshots can ride one WITH
    RECURSIVE statement — the export-diff oracle."""
    w = f" WHERE {where}" if where else ""
    return f"""{p}toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents{w}),
{p}sh AS (
  SELECT doc_id,
         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              ELSE list_distinct(list_transform(range(1, len(t) - 1),
                     i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END AS shingles
  FROM {p}toks),
{p}ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle FROM {p}sh),
{p}pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM {p}ex a JOIN {p}ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
  HAVING count(*) / (a.sz + b.sz - count(*)) >= 0.6),
{p}edges AS (SELECT id_a AS u, id_b AS v FROM {p}pairs UNION SELECT id_b, id_a FROM {p}pairs),
{p}reach AS (
  SELECT doc_id AS v, doc_id AS r FROM documents{w}
  UNION
  SELECT e.v, {p}reach.r FROM {p}reach JOIN {p}edges e ON e.u = {p}reach.v),
{p}labels AS (SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id FROM {p}reach GROUP BY v),
{p}cl AS (SELECT cluster_id, count(*) AS cluster_size FROM {p}labels GROUP BY cluster_id),
{p}canon AS (
  SELECT c.cluster_id, d.source, c.cluster_size
  FROM {p}cl c JOIN documents d ON d.doc_id = c.cluster_id),
{p}cnt AS (SELECT source, count(*) AS nc FROM {p}canon GROUP BY source),
{p}q AS (
  SELECT r.source, r.cluster_id, CAST(r.cluster_size AS BIGINT) AS cluster_size
  FROM (SELECT {p}canon.*,
               row_number() OVER (
                 PARTITION BY source
                 ORDER BY md5('17:' || CAST(cluster_id AS VARCHAR)) ASC, cluster_id ASC) AS rk
        FROM {p}canon) r
  JOIN {p}cnt ON {p}cnt.source = r.source
  WHERE r.rk <= CAST(floor({p}cnt.nc / 2.0) AS BIGINT))"""


@defquery(
    "quota_export_diff",
    "WITH RECURSIVE "
    + _quota_cte("a_", "CAST(substr(source, 4) AS INT) < 14")
    + ",\n"
    + _quota_cte("b_", None)
    + """
SELECT 'entered' AS change, source, cluster_id, cluster_size
FROM b_q WHERE cluster_id NOT IN (SELECT cluster_id FROM a_q)
UNION ALL
SELECT 'left', source, cluster_id, cluster_size
FROM a_q WHERE cluster_id NOT IN (SELECT cluster_id FROM b_q)
    """,
    "INCREMENTAL curation hand-off (SURVEY round-10 #4, shipped "
    "early): when the cluster store takes a new commit, which "
    "documents' EXPORT MEMBERSHIP changed? The diff is computed from "
    "the store alone — quota membership as-of the previous commit "
    "(read_incremental_clusters_asof, the commit log as the clock) vs "
    "the current snapshot, anti-joined both ways — so the downstream "
    "tokenizer/packing stage re-processes exactly the entered/left "
    "clusters instead of re-exporting the corpus (the incremental-"
    "materialized-view shape, applied to the curation boundary). "
    "Membership can change for three distinct reasons the hash "
    "proves together: new clusters ranked into the quota, rank "
    "displacement (a new cluster's md5 outranks an old member at a "
    "fixed floor(n/2) budget), and cluster MERGES (a swallowed "
    "cluster's id disappears; the survivor keeps the min id). Oracle "
    "= two from-scratch closures + quotas (prefix and full corpus) "
    "EXCEPTed both ways. At 100 TB the diff costs two |clusters|-"
    "bounded quota windows + one anti-join — never an export replay.",
)
def quota_export_diff_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("cc_diff_store", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    DD.dedup_incremental_clusters(spark, path, d.filter(src_num < 7))
    DD.dedup_incremental_clusters(spark, path, d.filter((src_num >= 7) & (src_num < 14)))
    DD.dedup_incremental_clusters(spark, path, d.filter(src_num >= 14))

    prev = _quota_sampled_clusters(
        DD.read_incremental_clusters_asof(spark, path, 2), d
    )
    curr = _quota_sampled_clusters(DD.read_incremental_clusters(spark, path), d)

    entered = curr.join(prev.select("cluster_id"), "cluster_id", "left_anti").select(
        F.lit("entered").alias("change"), "source", "cluster_id", "cluster_size"
    )
    left = prev.join(curr.select("cluster_id"), "cluster_id", "left_anti").select(
        F.lit("left").alias("change"), "source", "cluster_id", "cluster_size"
    )
    return entered.unionByName(left)


@defquery(
    "ann_index_filtered",
    _ann_index_sql(exclude_where="a.vec_id % 3 <> 0"),
    "metadata-FILTERED vector search — the production ANN feature "
    "every vector store grew (FAISS IDSelector / the filtered-search "
    "benchmark family): serve kNN from the persisted IVF store with a "
    "per-query candidate predicate (here vec_id % 3 = 0, standing in "
    "for any metadata column on the cells table). The filter applies "
    "to the candidate SCAN before distance math — Catalyst pushes it "
    "into the parquet read, so non-matching row groups are pruned and "
    "the quantizer geometry is untouched (post-filter semantics: "
    "probes unchanged, candidates shrink, ranks close up — the same "
    "candidate algebra as takedown, expressed per query instead of "
    "per store). Oracle = the frozen-quantizer replay with the "
    "complement dropped from the candidate set only. Recall trade-off "
    "stated plainly: a highly selective filter can empty probed "
    "cells, so production raises nprobe with selectivity; the "
    "integer-exact arithmetic keeps the whole filtered path under "
    "the value hash.",
)
def ann_index_filtered_q(spark, sf_dir):
    from .operators.retrieval import ann_index_ingest, ann_index_topk
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("ann_index_filtered", sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("bigint").alias("b")).first()[0]
    ann_index_ingest(spark, path, emb.filter(F.col("vec_id") < half))
    rest = emb.filter(F.col("vec_id") >= half)
    ann_index_ingest(spark, path, rest.filter(F.col("vec_id") % 2 == 0))
    ann_index_ingest(spark, path, rest.filter(F.col("vec_id") % 2 == 1))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_index_topk(
        spark, path, queries, nprobe=2, k=5,
        candidate_filter=F.col("vec_id") % 3 == 0,
    )


def _span_cutlist_sql(where: str | None = None) -> str:
    """The from-scratch Lee-et-al cut list (dedup_substring_spans'
    oracle), corpus optionally restricted — shared by the streaming
    span-store twin."""
    w = f" WHERE {where}" if where else ""
    return f"""
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents{w}),
    win AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             substr(t, CAST(i AS INT), {_SPAN_W}) AS w
      FROM norm,
           unnest(range(1, greatest(len(t) - {_SPAN_W} + 1, 1) + 1, {_SPAN_S})) u(i)),
    shared AS (
      SELECT w FROM win GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
    dup AS (SELECT doc_id, i FROM win JOIN shared USING (w)),
    isl AS (
      SELECT doc_id, i,
             i - {_SPAN_S} * row_number() OVER (PARTITION BY doc_id ORDER BY i ASC) AS grp
      FROM dup)
    SELECT doc_id,
           CAST(min(i) AS INT) AS span_start,
           CAST(max(i) + {_SPAN_W - 1} AS INT) AS span_end,
           CAST(max(i) + {_SPAN_W - 1} - min(i) + 1 AS BIGINT) AS span_chars,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM isl GROUP BY doc_id, grp
    """


@defquery(
    "streaming_span_store",
    _span_cutlist_sql(),
    "the span store driven through Structured Streaming — the last "
    "store family to gain its streaming twin (exact, BM25, ANN, "
    "clusters, hybrid and vocab already have one): document chunks "
    "arrive as a file stream (3 chunks, maxFilesPerTrigger=1), every "
    "micro-batch runs dedup_incremental_spans inside foreachBatch — "
    "window postings written once per doc, a fresh span REVISION for "
    "exactly the docs the batch's content made shared — and after the "
    "stream drains, revision-supersession serving must hash-match the "
    "from-scratch cut list over the whole corpus: micro-batch "
    "boundaries provably cannot change which windows are shared at "
    "the end, and the manifest order absorbs them as the revision "
    "clock. The operator's parquet-first lineage (windows written, "
    "then re-read) makes each foreachBatch invocation config-robust — "
    "the same hardening the round-9 regression test pins at mixed "
    "shuffle settings.",
)
def streaming_span_store_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir, _sink_dir

    srcdir = _sink_dir("stream_span_in", sf_dir)
    store = _fresh_sink_dir("stream_span_store", sf_dir)

    dd = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    chunks = [
        dd.filter((src_num >= lo) & (src_num < hi)).select("doc_id", "text")
        for lo, hi in [(0, 7), (7, 14), (14, 99)]
    ]

    def apply_batch(bdf, batch_id):
        DD.dedup_incremental_spans(bdf.sparkSession, store, bdf)

    drain(replay_chunks(spark, srcdir, chunks, "doc_id bigint, text string"), apply_batch)
    return DD.read_incremental_spans(spark, store)


@defquery(
    "streaming_vocab_cdc",
    _pmi_sql(where="NOT (doc_id % 9 = 4)"),
    "the vocab CDC store driven through Structured Streaming: a "
    "change stream of (doc_id, text, sign) events — three insert "
    "chunks, then a RETRACTION chunk deleting every doc_id % 9 == 4 "
    "doc — drains through foreachBatch into pmi_store_ingest, each "
    "micro-batch one signed-delta commit under the docs-log net-sign "
    "admission (a replayed micro-batch admits nothing, so "
    "at-least-once delivery yields exactly-once counts). The served "
    "PMI ranking must hash-match the from-scratch oracle over the "
    "SURVIVING corpus: per-key signed counts form an abelian group, "
    "so micro-batch slicing and the insert/delete interleaving are "
    "provably irrelevant to the final state — the streaming "
    "generalization of collocation_pmi_retracted, and the streaming "
    "twin that completes CDC parity for the vocabulary family.",
)
def streaming_vocab_cdc_q(spark, sf_dir):
    from .operators.vocab import pmi_store_ingest, pmi_store_topk
    from .queries_ext import _fresh_sink_dir, _sink_dir

    srcdir = _sink_dir("stream_vocab_in", sf_dir)
    store = _fresh_sink_dir("stream_vocab_store", sf_dir)

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = F.col("doc_id") % 3
    chunks = [
        d.filter(src == 0).withColumn("sign", F.lit(1)),
        d.filter(src == 1).withColumn("sign", F.lit(1)),
        d.filter(src == 2).withColumn("sign", F.lit(1)),
        d.filter(F.col("doc_id") % 9 == 4).withColumn("sign", F.lit(-1)),
    ]

    def apply_batch(bdf, batch_id):
        pmi_store_ingest(bdf.sparkSession, store, bdf)

    drain(replay_chunks(spark, srcdir, chunks, "doc_id bigint, text string, sign int"), apply_batch)
    return pmi_store_topk(spark, store)


@defquery(
    "hybrid_store_asof",
    _rrf_fusion_sql(where="doc_id % 3 <> 2"),
    "snapshot-pinned HYBRID serving: the four-table store takes three "
    "multi-table commits, and the whole three-leg RRF cascade is "
    "served AS-OF commit 2 — all four tables truncate to the shared "
    "manifest prefix TOGETHER, so the pinned serve can never tear (a "
    "doc's postings without its vector — the failure mode four "
    "independently-clocked stores cannot rule out). Oracle = the "
    "from-scratch fusion over the first two batches' corpus "
    "(doc_id % 3 <> 2): the hash proves the third commit is invisible "
    "to every leg at once — BM25 corpus statistics, cosine "
    "candidates, cross-encoder prefixes. This is the serving-side "
    "payoff of the fleet-snapshot contract (fleet_snapshot_reads "
    "pins the ANALYSIS stores; this pins the SERVING stack), and the "
    "reproducibility primitive an eval harness needs: re-run last "
    "week's retrieval eval against last week's index state, "
    "bit-identically, from the live store.",
)
def hybrid_store_asof_q(spark, sf_dir):
    from .operators.retrieval import hybrid_index_rrf
    from .queries_ext import _sink_dir

    path = _sink_dir("hybrid_store_asof", sf_dir)
    _hybrid_store_build(spark, sf_dir, path)
    qt, qv = _hybrid_queries(spark, sf_dir)
    return hybrid_index_rrf(
        spark, path, qt, qv, shortlist=_RERANK_SHORTLIST, k=_RERANK_K,
        as_of_batches=2,
    )


@defquery(
    "streaming_takedown_feed",
    f"""
WITH
fp AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         min(doc_id) AS doc_id
  FROM documents GROUP BY 1),
victims AS (
  SELECT doc_id FROM documents WHERE doc_id % 11 = 2 OR doc_id % 11 = 7),
vtoks AS (
  SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> w <> '') AS ws
  FROM documents WHERE NOT (doc_id % 11 = 2 OR doc_id % 11 = 7)),
vuni AS (SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM vtoks) GROUP BY w),
vbi AS (
  SELECT a, b, count(*) AS c FROM (
    SELECT ws[CAST(i AS INT)] AS a, ws[CAST(i AS INT)+1] AS b
    FROM vtoks, unnest(range(1, greatest(len(ws)-1, 0)+1)) u(i))
  GROUP BY a, b)
SELECT 'audit:exact' AS store_kind, 'deleted' AS key,
       CAST((SELECT count(*) FROM fp JOIN victims USING (doc_id)) AS BIGINT) AS val
UNION ALL SELECT 'audit:vocab', 'deleted',
       (SELECT count(*) FROM victims)
UNION ALL SELECT 'exact', fp, doc_id
  FROM fp WHERE doc_id NOT IN (SELECT doc_id FROM victims)
UNION ALL SELECT 'vocab:uni', w, CAST(c AS BIGINT) FROM vuni
UNION ALL SELECT 'vocab:bi', a || ' ' || b, CAST(c AS BIGINT) FROM vbi
    """,
    "right-to-be-forgotten as a STREAM — the shape compliance "
    "requests actually arrive in: two micro-batches of victim "
    "(doc_id, text) rows drain through foreachBatch, each routed by "
    "takedown_everywhere to the exact-fingerprint store (crash-safe "
    "anti-join rewrite) and the vocab CDC store (sign=-1 count "
    "subtraction), with per-batch audit counts accumulated into a "
    "compliance feed table. Because every family delete is "
    "IDEMPOTENT, at-least-once micro-batch delivery yields "
    "exactly-once deletion (a replayed batch's exact rewrite drops "
    "nothing new and its vocab deletes are net-sign no-ops), and "
    "batch slicing is invisible: the final state equals one fleet "
    "call with the union victim set — which is the oracle (survivors' "
    "fingerprints + net token counts + the summed audit). The 100 TB "
    "operating mode: takedown SLAs are met by a continuously-running "
    "drain, not by a weekly batch job, and the feed table IS the "
    "regulator-facing deletion log.",
)
def streaming_takedown_feed_q(spark, sf_dir):
    import shutil

    from .operators import dedup as DD
    from .operators.takedown import takedown_everywhere
    from .operators.vocab import pmi_store_ingest, vocab_net_counts
    from .queries_ext import _sink_dir

    srcdir = _sink_dir("stream_td_in", sf_dir)
    exact = _sink_dir("stream_td_exact", sf_dir)
    vocab = _sink_dir("stream_td_vocab", sf_dir)
    feed = _sink_dir("stream_td_feed", sf_dir)
    for p in (exact, vocab, feed):
        shutil.rmtree(p, ignore_errors=True)

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    DD.dedup_incremental_exact(spark, exact, d)
    pmi_store_ingest(spark, vocab, d.withColumn("sign", F.lit(1)))

    chunks = [d.filter(F.col("doc_id") % 11 == residue) for residue in (2, 7)]

    def apply_batch(bdf, batch_id):
        s = bdf.sparkSession
        audit = takedown_everywhere(
            s,
            bdf,
            table_stores={"exact": (exact, ("fps",))},
            vocab_stores=[("vocab", vocab)],
        )
        local_df(
            s, sorted(audit.items()), "store string, n bigint"
        ).coalesce(1).write.mode("append").parquet(feed)

    drain(replay_chunks(spark, srcdir, chunks, "doc_id bigint, text string"), apply_batch)

    audit_rows = (
        spark.read.parquet(feed)
        .groupBy("store")
        .agg(F.sum("n").cast("bigint").alias("val"))
        .select(
            F.concat(F.lit("audit:"), "store").alias("store_kind"),
            F.lit("deleted").alias("key"),
            "val",
        )
    )
    exact_served = DD.read_incremental_store_asof(spark, exact, "fps").select(
        F.lit("exact").alias("store_kind"),
        F.col("fp").alias("key"),
        F.col("doc_id").cast("bigint").alias("val"),
    )
    uni, bi = vocab_net_counts(spark, vocab)
    vocab_served = uni.select(
        F.lit("vocab:uni").alias("store_kind"),
        F.col("w").alias("key"),
        F.col("c").cast("bigint").alias("val"),
    ).unionByName(
        bi.select(
            F.lit("vocab:bi").alias("store_kind"),
            F.concat_ws(" ", "a", "b").alias("key"),
            F.col("c").cast("bigint").alias("val"),
        )
    )
    return audit_rows.unionByName(exact_served).unionByName(vocab_served)


def _export_manifest_cte(p: str, where: str | None) -> str:
    """Extend the prefixed quota chain to the per-shard export
    manifest rows (the update-equivalence oracle's building block)."""
    return (
        _quota_cte(p, where)
        + f""",
{p}export AS (
  SELECT s.source, s.cluster_id AS doc_id, s.cluster_size,
         CAST(len(string_split_regex(trim(d.text), '\\s+')) AS INT) AS n
  FROM {p}q s JOIN documents d ON d.doc_id = s.cluster_id),
{p}c2 AS (
  SELECT source, doc_id, cluster_size, n,
         SUM(n) OVER (ORDER BY source, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM {p}export),
{p}rows AS (
  SELECT source, doc_id, CAST(cluster_size AS BIGINT) AS cluster_size,
         CAST(n AS BIGINT) AS n_tokens, CAST(cum AS BIGINT) AS cum_tokens,
         CAST((cum - n) // {_FILE_TOKEN_BUDGET} AS BIGINT) AS file_idx
  FROM {p}c2),
{p}man AS (
  SELECT file_idx, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         CAST(bit_xor(CAST(('0x' || substr(md5(
             concat_ws('|', CAST(doc_id AS VARCHAR), source,
                       CAST(cluster_size AS VARCHAR), CAST(n_tokens AS VARCHAR),
                       CAST(cum_tokens AS VARCHAR))),
             1, 15)) AS UBIGINT)) AS BIGINT) AS content_hash
  FROM {p}rows GROUP BY file_idx)"""
    )


@defquery(
    "export_manifest_updated",
    "WITH RECURSIVE "
    + _export_manifest_cte("a_", "source NOT IN ('src8', 'src9')")
    + ",\n"
    + _export_manifest_cte("b_", None)
    + """
SELECT m.file_idx, m.n_docs, m.sum_tokens, m.content_hash,
       EXISTS(SELECT 1 FROM a_man p
              WHERE p.file_idx = m.file_idx AND p.n_docs = m.n_docs
                AND p.sum_tokens = m.sum_tokens
                AND p.content_hash = m.content_hash) AS reused
FROM b_man m
    """,
    "WRITE-INCREMENTAL export maintenance (SURVEY round-10 follow-on, "
    "shipped in round 9): the sharded-export store "
    "(operators/export.py) commits the dataset-card artifact like a "
    "lakehouse table with content-addressed shard reuse — each commit "
    "rewrites the tiny |shards|-row manifest whole but only the DATA "
    "of shards whose (n_docs, sum_tokens, content_hash) changed, so "
    "when a new cluster-store commit shifts quota membership, the "
    "byte-identical shard prefix before the first changed position "
    "reuses its existing files (reuse decided by CONTENT — the "
    "XOR-fold hash covers cum_tokens, so any upstream shift forces "
    "exactly the right rewrites; no boundary bookkeeping to get "
    "wrong). Here the store is built from the as-of-2 cluster labels, "
    "then updated from the full labels; the served manifest must "
    "equal the from-scratch full export's AND flag as reused exactly "
    "the shards whose rows exist identically in the prefix export — "
    "both proved by one hash against the two-closure oracle. At "
    "100 TB the data writes (the dominant re-export cost) shrink to "
    "the changed suffix; the manifest rewrite is metadata.",
)
def export_manifest_updated_q(spark, sf_dir):
    import shutil

    from .operators import dedup as DD
    from .operators.export import export_store_commit, read_export_manifest
    from .queries_ext import _sink_dir

    cc = _sink_dir("exp_upd_cc", sf_dir)
    store = _sink_dir("exp_upd_store", sf_dir)
    for p in (cc, store):
        shutil.rmtree(p, ignore_errors=True)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    # the third commit adds the lexicographically-LAST sources (string
    # order ends ... src7, src8, src9), so the update's membership
    # changes concentrate at the END of the (source, doc_id) shard
    # order and the prefix shards genuinely reuse — the operationally
    # common "new crawl appended" shape
    last_two = F.col("source").isin("src8", "src9")
    DD.dedup_incremental_clusters(spark, cc, d.filter(~last_two & (src_num < 7)))
    DD.dedup_incremental_clusters(spark, cc, d.filter(~last_two & (src_num >= 7)))
    DD.dedup_incremental_clusters(spark, cc, d.filter(last_two))

    exp_prev = _export_frame_from_labels(
        DD.read_incremental_clusters_asof(spark, cc, 2), d
    )
    export_store_commit(spark, store, exp_prev)
    exp_now = _export_frame_from_labels(DD.read_incremental_clusters(spark, cc), d)
    export_store_commit(spark, store, exp_now)

    return read_export_manifest(spark, store).select(
        "file_idx", "n_docs", "sum_tokens", "content_hash", "reused"
    )


@defquery(
    "policy_maintenance_log",
    f"""
WITH dr AS MATERIALIZED (SELECT * FROM ({{DRIFT_SQL}}) t),
trig AS (
  SELECT drift2 FROM dr WHERE drift2 > 0
  ORDER BY 'cell:' || CAST(cid AS VARCHAR) ASC, drift2 ASC LIMIT 1)
SELECT CAST(1 AS INT) AS pass_seq, 'ann' AS store_kind, 'retrain' AS action,
       'drift2' AS fired_metric, (SELECT drift2 FROM trig) AS trigger_value,
       CAST(8 AS BIGINT) AS result, TRUE AS executed
UNION ALL
SELECT 1, 'exact', 'compact', 'n_dirs', CAST(3 AS DOUBLE), 3, TRUE
    """,
    "the maintenance SCHEDULE as a durable store (SURVEY round-10 "
    "#3, shipped in round 9): every apply_maintenance_policy pass "
    "commits its audit rows — stamped with pass_seq, the log's own "
    "manifest commit count — under a _BATCHES store of their own, so "
    "the fleet's maintenance history is queryable, time-travelable "
    "and compactable like every other table the engine maintains. "
    "Two passes run here: pass 1 fires compact (3-commit exact "
    "store) and retrain (drifted ANN store); pass 2 re-evaluates the "
    "COMPACT rule after the actions and must fire NOTHING — "
    "compaction left n_dirs=1 — and its empty audit commits too, "
    "because a no-op pass is itself the evidence an auditor wants. "
    "(The retrain rule is deliberately absent from pass 2: at the "
    "store's recorded 2 Lloyd rounds the quantizer has not converged, "
    "so post-retrain drift2 stays > 0 and a zero threshold would "
    "re-fire — in production the threshold, not zero, is the damper; "
    "the monitor loop's determinism never depended on convergence.) "
    "The served log therefore contains exactly pass 1's two rows, "
    "with the oracle recomputing the triggering drift2 from the "
    "corpus: one hash gates the rule evaluation, the action results, "
    "the compact rule's convergence, AND the log store round-trip.",
)
def policy_maintenance_log_q(spark, sf_dir):
    import shutil

    from .operators import dedup as DD
    from .operators.policy import apply_maintenance_policy, read_policy_log
    from .operators.retrieval import ann_index_ingest
    from .queries_ext import _sink_dir

    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    exact = _sink_dir("pollog_exact", sf_dir)
    ann = _sink_dir("pollog_ann", sf_dir)
    log = _sink_dir("pollog_log", sf_dir)
    for p in (exact, ann, log):
        shutil.rmtree(p, ignore_errors=True)

    DD.dedup_incremental_exact(spark, exact, d.filter(src_num < 7))
    DD.dedup_incremental_exact(spark, exact, d.filter((src_num >= 7) & (src_num < 14)))
    DD.dedup_incremental_exact(spark, exact, d.filter(src_num >= 14))
    emb = _t(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("bigint").alias("b")).first()[0]
    ann_index_ingest(spark, ann, emb.filter(F.col("vec_id") < half))
    ann_index_ingest(spark, ann, emb.filter(F.col("vec_id") >= half))

    policy = [
        {"metric": "n_dirs", "op": ">", "threshold": 2, "action": "compact"},
        {"metric": "drift2", "op": ">", "threshold": 0, "action": "retrain"},
    ]
    stores = {"exact": ("table", exact, ("fps",)), "ann": ("ann", ann)}
    apply_maintenance_policy(spark, policy, stores, ann_stores=("ann",), log_store=log)
    # pass 2 after the actions: the compact rule must fire nothing
    # (n_dirs folded to 1), and its empty audit still commits (the
    # no-op evidence); see the docstring for why the retrain rule is
    # not re-evaluated at threshold 0
    apply_maintenance_policy(spark, policy[:1], stores, ann_stores=("ann",), log_store=log)

    return read_policy_log(spark, log).select(
        "pass_seq", "store_kind", "action", "fired_metric",
        "trigger_value", "result", "executed",
    )


QUERIES["policy_maintenance_log"].sql = QUERIES["policy_maintenance_log"].sql.replace(
    "{DRIFT_SQL}", _ann_drift_sql()
)


def _ann_auto_nprobe_sql(base_nprobe: int = 2, keep_where: str = "vec_id % 3 = 0") -> str:
    """The filtered-ANN oracle with a COST-BASED probe cutoff: an
    ``npsel`` CTE computes the filter's exact selectivity over the
    assigned cells and the probe window reads its cutoff from it —
    the same arithmetic (one IEEE division of exact counts, ceil,
    min with k_cells) the Spark operator runs, so the dynamically
    chosen nprobe is engine-identical."""
    npsel = f"""npsel AS (
  SELECT LEAST(8, CAST(ceil({base_nprobe} / sel) AS INT)) AS np FROM (
    SELECT CAST(count(*) FILTER (WHERE {keep_where}) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS sel
    FROM afull)),
"""
    sql = _ann_index_sql(
        nprobe="(SELECT np FROM npsel)",  # type: ignore[arg-type]
        exclude_where=f"NOT (a.{keep_where})",
    )
    sql = sql.replace("qv AS (", npsel + "qv AS (", 1)
    return sql.replace(
        "SELECT query_id, CAST(rank AS INT) AS rank, vec_id, dist FROM (",
        "SELECT query_id, CAST(rank AS INT) AS rank, vec_id, dist,\n"
        "       (SELECT CAST(np AS INT) FROM npsel) AS nprobe FROM (",
        1,
    )


@defquery(
    "ann_index_filtered_auto",
    _ann_auto_nprobe_sql(),
    "COST-BASED nprobe for filtered vector search (SURVEY round-10 "
    "#1, shipped in round 9): ann_index_topk_auto estimates the "
    "candidate filter's selectivity with one count pass over the "
    "cells table and widens the probe set to ceil(base_nprobe / sel) "
    "capped at k_cells — the selectivity↔recall trade-off the fixed-"
    "nprobe query documents, made mechanical (a 1-in-3 filter probes "
    "3x the cells; a filter below base/k_cells selectivity degrades "
    "honestly to exhaustive cell coverage). The chosen nprobe is one "
    "IEEE division of exact integer counts + ceil + min, so both "
    "engines derive the IDENTICAL cutoff, and the oracle's probe "
    "window reads its cutoff from the same selectivity CTE — the "
    "hash gates the cost model AND the widened serving result, with "
    "nprobe itself a gated output column. At 100 TB the count pass "
    "is pruned by the same pushed predicate the serve uses, and a "
    "deployment caches per-predicate selectivities like any "
    "cost-based optimizer caches column stats.",
)
def ann_index_filtered_auto_q(spark, sf_dir):
    from .operators.retrieval import ann_index_ingest, ann_index_topk_auto
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("ann_index_filtered_auto", sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("bigint").alias("b")).first()[0]
    ann_index_ingest(spark, path, emb.filter(F.col("vec_id") < half))
    ann_index_ingest(spark, path, emb.filter(F.col("vec_id") >= half))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out, nprobe = ann_index_topk_auto(
        spark, path, queries, candidate_filter=F.col("vec_id") % 3 == 0,
        base_nprobe=2, k=5,
    )
    return out.withColumn("nprobe", F.lit(nprobe).cast("int"))


# ------------------------------------------------------------------
# 38. Join materialized view store (delta-join IVM, operators/matview.py)
# ------------------------------------------------------------------


def _mv_sql(lfilter="", rfilter="", agg=False):
    body = f"""
WITH l AS (
  SELECT o_orderkey AS orderkey, o_custkey, o_orderstatus
  FROM orders WHERE o_orderpriority = '1-URGENT' {lfilter}
), r AS (
  SELECT l_orderkey AS orderkey, l_linenumber, l_extendedprice, l_discount
  FROM lineitem {rfilter}
)"""
    if agg:
        return body + """
SELECT l.o_custkey,
       CAST(SUM(CAST(r.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(r.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM l JOIN r ON l.orderkey = r.orderkey
GROUP BY l.o_custkey
"""
    return body + """
SELECT l.orderkey, l.o_custkey, l.o_orderstatus,
       r.l_linenumber, r.l_extendedprice, r.l_discount,
       CAST(1 AS BIGINT) AS mult
FROM l JOIN r ON l.orderkey = r.orderkey
"""


def _mv_store_build(spark, sf_dir, path, with_delete=False):
    """Interleaved one-side/both-side commits + a REPLAY that must
    admit nothing; optionally a simultaneous both-side CDC delete
    batch (victim orders AND victim line rows in ONE commit — the
    ΔA⋈ΔB inclusion-exclusion term is exercised, not just stated)."""
    import shutil

    from .operators.matview import matview_ingest

    shutil.rmtree(path, ignore_errors=True)
    left = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            F.col("o_orderkey").alias("orderkey"), "o_custkey", "o_orderstatus"
        )
    )
    right = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        "l_linenumber",
        "l_extendedprice",
        "l_discount",
    )
    ins_l = left.withColumn("m", F.lit(1))
    ins_r = right.withColumn("m", F.lit(1))
    b1_l = ins_l.filter(F.col("orderkey") % 3 == 0)
    matview_ingest(
        spark, path, b1_l, ins_r.filter(F.col("orderkey") % 2 == 0),
        on="orderkey",
    )
    matview_ingest(spark, path, left_delta=ins_l.filter(F.col("orderkey") % 3 != 0), on="orderkey")
    matview_ingest(spark, path, right_delta=ins_r.filter(F.col("orderkey") % 2 == 1), on="orderkey")
    # duplicated delivery: full-row net-sign admission absorbs it
    matview_ingest(spark, path, left_delta=b1_l, on="orderkey")
    if with_delete:
        # victims are drawn from ALL orders (no priority filter): the
        # non-urgent ones were never admitted to the left input, so
        # their deletes must be no-ops under the net-sign rule
        del_l = (
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 15 == 0)
            .select(
                F.col("o_orderkey").alias("orderkey"),
                "o_custkey",
                "o_orderstatus",
            )
            .withColumn("m", F.lit(-1))
        )
        del_r = right.filter(
            (F.col("l_linenumber") >= 5) | (F.col("orderkey") % 15 == 0)
        ).withColumn("m", F.lit(-1))
        matview_ingest(spark, path, del_l, del_r, on="orderkey")
    return path


@defquery(
    "matview_join_incremental",
    _mv_sql(),
    "JOIN materialized view under delta-join IVM (operators/"
    "matview.py) — the incremental-view piece the store family "
    "lacked: incremental_agg_refresh/_retract maintain algebraic "
    "aggregates, this store maintains a JOIN without ever recomputing "
    "it, via the Z-set rule Δ(A⋈B) = ΔA⋈B_pre + A_pre⋈ΔB + ΔA⋈ΔB "
    "(each commit joins only the BATCH against the accumulated other "
    "side — O(Δ⋈state), never O(A⋈B)). The view definition here is a "
    "σ-then-⋈ (urgent orders ⋈ lineitem), exercising that selection "
    "commutes with deltas. Four commits: both-side bootstrap, a "
    "left-only and a right-only delta (the view must pick up NEW "
    "cross-batch join partners each time), then a REPLAY of the "
    "bootstrap's left batch — full-row net-sign admission must admit "
    "nothing or every replayed order's lines double and the hash "
    "breaks. Serving is one groupBy-SUM over the view deltas with "
    "net multiplicity as a GATED output column; oracle = the "
    "from-scratch join. At 100 TB the Δ side stays batch-bounded "
    "(AQE broadcasts it) and compaction folds state to net rows.",
)
def matview_join_incremental_q(spark, sf_dir):
    from .operators.matview import matview_read
    from .queries_ext import _sink_dir

    path = _sink_dir("matview_join", sf_dir)
    _mv_store_build(spark, sf_dir, path)
    return matview_read(spark, path)


@defquery(
    "matview_join_retracted",
    _mv_sql(
        lfilter="AND NOT (o_orderkey % 15 = 0)",
        rfilter="WHERE NOT (l_linenumber >= 5 OR l_orderkey % 15 = 0)",
    ),
    "RETRACTION through the join MV — the hard case of view "
    "maintenance: a single CDC batch deletes victim ORDERS and victim "
    "LINE rows simultaneously, so the naive two-term delta rule "
    "double-subtracts every (victim order, victim line) pair and "
    "only the ΔA⋈ΔB inclusion-exclusion term (sign (−1)·(−1) = +1) "
    "restores exactness — the served hash proves the full three-term "
    "Z-set algebra, not an approximation. Deletes of never-inserted "
    "rows (non-urgent victim orders, which the σ kept out of the "
    "left input) are no-ops by the same net-sign rule that absorbs "
    "replays. Oracle = "
    "the from-scratch join over the SURVIVING rows of both inputs; "
    "ghost joined rows or a missed cancellation shift the hash. This "
    "closes right-to-be-forgotten for derived VIEWS: deleting the "
    "inputs provably deletes every joined row they contributed.",
)
def matview_join_retracted_q(spark, sf_dir):
    from .operators.matview import matview_read
    from .queries_ext import _sink_dir

    path = _sink_dir("matview_join_del", sf_dir)
    _mv_store_build(spark, sf_dir, path, with_delete=True)
    return matview_read(spark, path)


@defquery(
    "matview_agg_join",
    _mv_sql(
        lfilter="AND NOT (o_orderkey % 15 = 0)",
        rfilter="WHERE NOT (l_linenumber >= 5 OR l_orderkey % 15 = 0)",
        agg=True,
    ),
    "Linear aggregate SERVED STRAIGHT FROM THE JOIN MV's raw deltas "
    "(matview_agg): because SUM distributes over signed deltas, "
    "revenue-per-customer is ONE pass over the view delta log — "
    "sum(value·mult) — with no net-fold and no second shuffle; "
    "deleted rows cancel in exact DECIMAL(18,2) arithmetic and "
    "groups whose net row count reached zero are dropped, matching "
    "the from-scratch aggregate that never saw them. This is the "
    "composition of join-IVM with the incremental_agg_retract "
    "contract: a maintained revenue dashboard over orders⋈lineitem "
    "that a 100 TB deployment updates per CDC batch without ever "
    "touching the full fact tables.",
)
def matview_agg_join_q(spark, sf_dir):
    from .operators.matview import matview_agg
    from .queries import _DEC
    from .queries_ext import _sink_dir

    path = _sink_dir("matview_agg", sf_dir)
    _mv_store_build(spark, sf_dir, path, with_delete=True)
    value = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC)
    )
    out = matview_agg(spark, path, ["o_custkey"], value, alias="revenue")
    return out.withColumn("revenue", F.col("revenue").cast("double"))


@defquery(
    "matview_compacted",
    _mv_sql(
        lfilter="AND NOT (o_orderkey % 15 = 0)",
        rfilter="WHERE NOT (l_linenumber >= 5 OR l_orderkey % 15 = 0)",
    ),
    "Compaction invariance for the join MV: fold all five commits "
    "(bootstrap, two one-sided deltas, replay, both-side delete) to "
    "ONE net batch per table through the crash-safe store.rewrite "
    "protocol, then serve — the hash must equal the uncompacted "
    "retracted serve because zero-net rows vanish from a fold "
    "without changing any sum. This is the maintenance operation the "
    "delta log needs at 100 TB: ingest cost is O(Δ⋈state) where "
    "state is the netted side tables, and compaction keeps that scan "
    "one directory per table instead of one per commit.",
)
def matview_compacted_q(spark, sf_dir):
    from .operators.matview import compact_matview_store, matview_read
    from .queries_ext import _sink_dir

    path = _sink_dir("matview_compact", sf_dir)
    _mv_store_build(spark, sf_dir, path, with_delete=True)
    compact_matview_store(spark, path)
    return matview_read(spark, path)


@defquery(
    "streaming_matview_join",
    _mv_sql(
        lfilter="AND NOT (o_orderkey % 15 = 0)",
        rfilter="WHERE NOT (l_linenumber >= 5 OR l_orderkey % 15 = 0)",
    ),
    "the join MV maintained CONTINUOUSLY: a file stream of CDC chunks "
    "(both-side bootstrap, a left-only delta, a right-only delta, a "
    "REPLAYED copy of the bootstrap chunk, then a simultaneous "
    "both-side DELETE chunk) drains through foreachBatch into "
    "matview_ingest "
    "— one store commit per micro-batch, sides routed by a "
    "discriminator column. The full-row net-sign admission makes the "
    "at-least-once replay admit nothing, so the final served view is "
    "EXACTLY the batch build's: the streaming twin contract every "
    "store family carries, now including incremental view "
    "maintenance. Oracle = the from-scratch join over survivors — "
    "the same SQL that gates the batch retraction query, proving "
    "batch/streaming equivalence under one hash. At 100 TB this is "
    "the standing pipeline shape: CDC from the fact tables' change "
    "feed, per-micro-batch O(Δ⋈state) maintenance, serving always "
    "one groupBy-SUM behind the freshest commit.",
)
def streaming_matview_join_q(spark, sf_dir):
    from .operators.matview import matview_ingest, matview_read
    from .queries_ext import _fresh_sink_dir, _sink_dir

    srcdir = _sink_dir("stream_mv_in", sf_dir)
    store = _fresh_sink_dir("stream_mv_store", sf_dir)

    left = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            F.col("o_orderkey").alias("orderkey"), "o_custkey", "o_orderstatus"
        )
    )
    right = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        "l_linenumber",
        "l_extendedprice",
        "l_discount",
    )

    def _wide(df, side, m):
        # unified CDC-event schema; the absent side's columns are null
        cols = {
            "o_custkey": F.col("o_custkey") if side == "L" else F.lit(None),
            "o_orderstatus": F.col("o_orderstatus") if side == "L" else F.lit(None),
            "l_linenumber": F.col("l_linenumber") if side == "R" else F.lit(None),
            "l_extendedprice": F.col("l_extendedprice") if side == "R" else F.lit(None),
            "l_discount": F.col("l_discount") if side == "R" else F.lit(None),
        }
        return df.select(
            F.lit(side).alias("side"),
            F.col("orderkey"),
            cols["o_custkey"].cast("bigint").alias("o_custkey"),
            cols["o_orderstatus"].cast("string").alias("o_orderstatus"),
            cols["l_linenumber"].cast("int").alias("l_linenumber"),
            cols["l_extendedprice"].cast("double").alias("l_extendedprice"),
            cols["l_discount"].cast("double").alias("l_discount"),
            F.lit(m).alias("m"),
        )

    boot = _wide(left.filter(F.col("orderkey") % 3 == 0), "L", 1).unionByName(
        _wide(right.filter(F.col("orderkey") % 2 == 0), "R", 1)
    )
    chunks = [
        boot,
        _wide(left.filter(F.col("orderkey") % 3 != 0), "L", 1),
        _wide(right.filter(F.col("orderkey") % 2 == 1), "R", 1),
        # at-least-once redelivery BEFORE the delete: must admit
        # nothing (a replay AFTER a delete would legitimately
        # re-insert under Z-set semantics — that's a new insert, not
        # a duplicate — so the duplicate-delivery scenario is the
        # pre-delete one)
        boot,
        _wide(
            _t(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 15 == 0)
            .select(
                F.col("o_orderkey").alias("orderkey"),
                "o_custkey",
                "o_orderstatus",
            ),
            "L",
            -1,
        ).unionByName(
            _wide(
                right.filter(
                    (F.col("l_linenumber") >= 5) | (F.col("orderkey") % 15 == 0)
                ),
                "R",
                -1,
            )
        ),
    ]

    lcols = ["orderkey", "o_custkey", "o_orderstatus", "m"]
    rcols = ["orderkey", "l_linenumber", "l_extendedprice", "l_discount", "m"]

    def apply_batch(bdf, batch_id):
        ld = bdf.filter(F.col("side") == "L").select(*lcols)
        rd = bdf.filter(F.col("side") == "R").select(*rcols)
        matview_ingest(
            bdf.sparkSession,
            store,
            left_delta=ld if not ld.isEmpty() else None,
            right_delta=rd if not rd.isEmpty() else None,
            on="orderkey",
        )

    schema = (
        "side string, orderkey bigint, o_custkey bigint, "
        "o_orderstatus string, l_linenumber int, "
        "l_extendedprice double, l_discount double, m int"
    )
    drain(replay_chunks(spark, srcdir, chunks, schema), apply_batch)
    return matview_read(spark, store)


@defquery(
    "matview_cascade",
    """
WITH l AS (
  SELECT o_orderkey AS orderkey, o_custkey, o_orderstatus
  FROM orders
  WHERE o_orderpriority = '1-URGENT' AND NOT (o_orderkey % 15 = 0)
), r AS (
  SELECT l_orderkey AS orderkey, l_linenumber, l_extendedprice, l_discount
  FROM lineitem WHERE NOT (l_linenumber >= 5 OR l_orderkey % 15 = 0)
), c AS (
  SELECT c_custkey AS o_custkey, c_mktsegment FROM customer
)
SELECT c.o_custkey, c.c_mktsegment,
       l.orderkey, l.o_orderstatus,
       r.l_linenumber, r.l_extendedprice, r.l_discount,
       CAST(1 AS BIGINT) AS mult
FROM c JOIN l ON c.o_custkey = l.o_custkey
       JOIN r ON l.orderkey = r.orderkey
""",
    "IVM COMPOSES: a cascade of two join MVs where store 1's view "
    "deltas ARE the CDC stream for store 2. Store 1 maintains urgent "
    "orders ⋈ lineitem through five commits (bootstrap, two one-sided "
    "deltas, a replay, a both-side delete); each committed view-delta "
    "batch is then fed IN COMMIT ORDER as the right-side CDC input of "
    "store 2 (customer ⋈ V1 on o_custkey) — inserts stay inserts, "
    "the delete commit's mult=-1 rows carry the old joined rows "
    "exactly as a change stream's deletes do, and the replay commit's "
    "EMPTY delta is an empty commit downstream. The served cascade "
    "equals the from-scratch THREE-way join over survivors under one "
    "hash — the differential-dataflow composition property, proved "
    "end-to-end on stores rather than stated. At 100 TB this is how "
    "derived views stack without ever touching base tables twice: "
    "O(Δ) flows through each layer, and every layer keeps its own "
    "manifest clock, compaction and takedown.",
)
def matview_cascade_q(spark, sf_dir):
    from .core import store
    from .operators.matview import matview_ingest, matview_read
    from .queries_ext import _sink_dir

    p1 = _sink_dir("matview_casc1", sf_dir)
    p2 = _sink_dir("matview_casc2", sf_dir)
    _mv_store_build(spark, sf_dir, p1, with_delete=True)
    import shutil

    shutil.rmtree(p2, ignore_errors=True)
    cust = (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
        .withColumn("m", F.lit(1))
    )
    tags = store.tags(p1)
    for i, tag in enumerate(tags):
        dv = store.read_batches(spark, p1, "view", [tag]).withColumnRenamed(
            "mult", "m"
        )
        matview_ingest(
            spark,
            p2,
            left_delta=cust if i == 0 else None,
            right_delta=dv,
            on="o_custkey",
        )
    return matview_read(spark, p2)


@defquery(
    "matview_integrity_audit",
    """
WITH l AS (
  SELECT o_orderkey AS orderkey, o_custkey, o_orderstatus
  FROM orders
  WHERE o_orderpriority = '1-URGENT' AND NOT (o_orderkey % 15 = 0)
), r AS (
  SELECT l_orderkey AS orderkey, l_linenumber, l_extendedprice, l_discount
  FROM lineitem WHERE NOT (l_linenumber >= 5 OR l_orderkey % 15 = 0)
), j AS (
  SELECT l.orderkey FROM l JOIN r ON l.orderkey = r.orderkey
)
SELECT CAST((SELECT count(*) FROM l) AS BIGINT) AS left_net_rows,
       CAST((SELECT count(*) FROM r) AS BIGINT) AS right_net_rows,
       CAST((SELECT count(*) FROM j) AS BIGINT) AS view_rows,
       CAST((SELECT count(*) FROM j) AS BIGINT) AS recomputed_rows,
       CAST(0 AS BIGINT) AS mismatch_rows
""",
    "store FSCK for the join MV: after the full five-commit lifecycle "
    "(bootstrap, one-sided deltas, replay, both-side delete), "
    "matview_integrity RE-DERIVES the view from the committed side "
    "tables (net(L) ⋈ net(R), multiplicities multiplied) and diffs it "
    "against the served view — the maintenance invariant paid for "
    "honestly with the O(A⋈B) join the incremental path avoids. The "
    "gated row is five exact counters; the oracle derives the same "
    "counters from the BASE tables, so a hash match proves (a) the "
    "side tables net to exactly the surviving inputs, (b) the "
    "maintained view equals the recompute row-for-row (symmetric "
    "difference 0, multiplicity included), and (c) both equal the "
    "from-scratch truth. This is the audit a 100 TB deployment runs "
    "on cadence against sampled stores — the consistency checker the "
    "fleet dashboard's n_rows counters key off.",
)
def matview_integrity_audit_q(spark, sf_dir):
    from .operators.matview import matview_integrity
    from .queries_ext import _sink_dir

    path = _sink_dir("matview_fsck", sf_dir)
    _mv_store_build(spark, sf_dir, path, with_delete=True)
    return matview_integrity(spark, path)


@defquery(
    "matview_outer_serve",
    """
WITH l AS (
  SELECT o_orderkey AS orderkey, o_custkey, o_orderstatus
  FROM orders
  WHERE o_orderpriority = '1-URGENT' AND NOT (o_orderkey % 15 = 0)
), r AS (
  SELECT l_orderkey AS orderkey, l_linenumber, l_extendedprice, l_discount
  FROM lineitem WHERE NOT (l_linenumber >= 5 OR l_orderkey % 15 = 0)
)
SELECT l.orderkey, l.o_custkey, l.o_orderstatus,
       r.l_linenumber, r.l_extendedprice, r.l_discount,
       CAST(1 AS BIGINT) AS mult
FROM l LEFT JOIN r ON l.orderkey = r.orderkey
""",
    "LEFT OUTER join served from the SAME join-MV store with zero "
    "extra maintenance state — the standing difficulty of outer-join "
    "IVM (null-extended rows flip in and out as a key's match count "
    "crosses zero) dissolves because the store keeps the net left "
    "input as a first-class table: outer = inner view ∪ (net left "
    "rows anti-joined on the inner view's keys, null-extended). "
    "Served on the RETRACTED store, where the both-side delete batch "
    "removed every line of some surviving orders — exactly the rows "
    "that must now surface null-extended, on the same commit clock "
    "as the deletes. Oracle = the from-scratch LEFT JOIN over "
    "survivors; a store that kept ghost matches (or dropped a "
    "match-count-zero order) misses the hash. The anti-join keys on "
    "the join key — two scans and one shuffle, never a join "
    "recompute.",
)
def matview_outer_serve_q(spark, sf_dir):
    from .operators.matview import matview_read_outer
    from .queries_ext import _sink_dir

    path = _sink_dir("matview_outer", sf_dir)
    _mv_store_build(spark, sf_dir, path, with_delete=True)
    return matview_read_outer(spark, path)


@defquery(
    "matview_change_feed",
    """
WITH l2 AS (
  SELECT o_orderkey AS orderkey, o_custkey, o_orderstatus
  FROM orders WHERE o_orderpriority = '1-URGENT'
), r2 AS (
  SELECT l_orderkey AS orderkey, l_linenumber, l_extendedprice, l_discount
  FROM lineitem WHERE l_orderkey % 2 = 0
), l5 AS (
  SELECT * FROM l2 WHERE NOT (orderkey % 15 = 0)
), r5 AS (
  SELECT l_orderkey AS orderkey, l_linenumber, l_extendedprice, l_discount
  FROM lineitem WHERE NOT (l_linenumber >= 5 OR l_orderkey % 15 = 0)
), s2 AS (
  SELECT l2.orderkey, l2.o_custkey, l2.o_orderstatus,
         r2.l_linenumber, r2.l_extendedprice, r2.l_discount,
         1 AS m
  FROM l2 JOIN r2 ON l2.orderkey = r2.orderkey
), s5 AS (
  SELECT l5.orderkey, l5.o_custkey, l5.o_orderstatus,
         r5.l_linenumber, r5.l_extendedprice, r5.l_discount,
         1 AS m
  FROM l5 JOIN r5 ON l5.orderkey = r5.orderkey
)
SELECT COALESCE(s5.orderkey, s2.orderkey) AS orderkey,
       COALESCE(s5.o_custkey, s2.o_custkey) AS o_custkey,
       COALESCE(s5.o_orderstatus, s2.o_orderstatus) AS o_orderstatus,
       COALESCE(s5.l_linenumber, s2.l_linenumber) AS l_linenumber,
       COALESCE(s5.l_extendedprice, s2.l_extendedprice) AS l_extendedprice,
       COALESCE(s5.l_discount, s2.l_discount) AS l_discount,
       CAST(COALESCE(s5.m, 0) - COALESCE(s2.m, 0) AS BIGINT) AS mult_delta
FROM s5 FULL OUTER JOIN s2
  ON s5.orderkey = s2.orderkey AND s5.l_linenumber = s2.l_linenumber
WHERE COALESCE(s5.m, 0) - COALESCE(s2.m, 0) <> 0
""",
    "CHANGE FEED for the join MV (the Delta-CDF / SUBSCRIBE surface): "
    "the deltas BETWEEN two commits served as one manifest-slice "
    "net — because state(k) is by construction the sum of the first "
    "k delta batches, state(5) − state(2) is exactly the net of "
    "batches 3..5, with zero joins and zero snapshot reconstruction. "
    "Here the slice spans a right-side insert wave, the empty replay "
    "commit and the both-side delete commit, so the feed contains "
    "BOTH polarities: +1 rows (odd-orderkey lines joining their "
    "orders) and −1 rows (retracted pairs that existed at commit 2). "
    "Oracle = the two states reconstructed from base tables and "
    "FULL-OUTER diffed — a hash match proves the slice-net IS the "
    "state difference, which is what makes the cascade (and any "
    "downstream subscriber) correct without ever reading snapshots. "
    "At 100 TB the feed is a directory-slice scan, pruned by the "
    "manifest — never a diff of two materialized states.",
)
def matview_change_feed_q(spark, sf_dir):
    from .operators.matview import matview_changes
    from .queries_ext import _sink_dir

    path = _sink_dir("matview_cdf", sf_dir)
    _mv_store_build(spark, sf_dir, path, with_delete=True)
    return matview_changes(spark, path, from_batches=2, to_batches=5)


@defquery(
    "matview_full_outer",
    """
WITH l AS (
  SELECT o_orderkey AS orderkey, o_custkey, o_orderstatus
  FROM orders
  WHERE o_orderpriority = '1-URGENT' AND NOT (o_orderkey % 15 = 0)
), r AS (
  SELECT l_orderkey AS orderkey, l_linenumber, l_extendedprice, l_discount
  FROM lineitem WHERE NOT (l_linenumber >= 5 OR l_orderkey % 15 = 0)
)
SELECT COALESCE(l.orderkey, r.orderkey) AS orderkey,
       l.o_custkey, l.o_orderstatus,
       r.l_linenumber, r.l_extendedprice, r.l_discount,
       CAST(1 AS BIGINT) AS mult
FROM l FULL OUTER JOIN r ON l.orderkey = r.orderkey
""",
    "FULL OUTER serving from the join-MV store: both anti-join legs, "
    "free because BOTH net inputs are store tables — unmatched "
    "surviving orders surface null-extended on the right (their "
    "lines were all retracted), unmatched lines null-extended on the "
    "left (their orders are non-urgent or deleted — the σ'd-out and "
    "retracted populations meet in one serve). Oracle = the "
    "from-scratch FULL OUTER JOIN over survivors. Together with "
    "matview_outer_serve this closes the outer-join IVM family "
    "without ONE byte of maintenance state beyond the inner store.",
)
def matview_full_outer_q(spark, sf_dir):
    from .operators.matview import matview_read_full_outer
    from .queries_ext import _sink_dir

    path = _sink_dir("matview_fouter", sf_dir)
    _mv_store_build(spark, sf_dir, path, with_delete=True)
    return matview_read_full_outer(spark, path)


@defquery(
    "matview_schema_evolution",
    """
WITH l AS (
  SELECT o_orderkey AS orderkey, o_custkey,
         CASE WHEN o_orderkey % 3 = 0 THEN NULL
              ELSE o_orderstatus END AS o_orderstatus
  FROM orders
  WHERE o_orderpriority = '1-URGENT' AND NOT (o_orderkey % 15 = 0)
), r AS (
  SELECT l_orderkey AS orderkey, l_linenumber, l_extendedprice, l_discount
  FROM lineitem
)
SELECT l.orderkey, l.o_custkey, l.o_orderstatus,
       r.l_linenumber, r.l_extendedprice, r.l_discount,
       CAST(1 AS BIGINT) AS mult
FROM l JOIN r ON l.orderkey = r.orderkey
""",
    "SCHEMA EVOLUTION through the join-MV store: the bootstrap's left "
    "batches carry (orderkey, custkey) only; a later commit "
    "introduces o_orderstatus — the store reads its history under "
    "the lakehouse union schema (pre-evolution rows null-filled), "
    "new cross-batch join partners carry the column forward, and a "
    "takedown batch written with the ORIGINAL schema (the CDC old "
    "row as first committed) still retracts its store row because "
    "row identity is NULL-SAFE equality. Oracle = the from-scratch "
    "join with a CASE expressing exactly which cohort pre-dates the "
    "column — the hash proves the null semantics end-to-end (a "
    "join-equality admission would silently never match the "
    "null-filled rows and ghost every old-schema delete). At 100 TB "
    "this is the add-column migration every long-lived store faces; "
    "no rewrite of history, old batches stay bytes-identical.",
)
def matview_schema_evolution_q(spark, sf_dir):
    from .operators.matview import matview_ingest, matview_read
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("matview_evo", sf_dir)
    old_left = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("orderkey"), "o_custkey")
    )
    new_left = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            F.col("o_orderkey").alias("orderkey"), "o_custkey", "o_orderstatus"
        )
    )
    right = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        "l_linenumber",
        "l_extendedprice",
        "l_discount",
    )
    matview_ingest(
        spark,
        path,
        old_left.filter(F.col("orderkey") % 3 == 0).withColumn("m", F.lit(1)),
        right.filter(F.col("orderkey") % 2 == 0).withColumn("m", F.lit(1)),
        on="orderkey",
    )
    # the evolved commit introduces o_orderstatus
    matview_ingest(
        spark,
        path,
        left_delta=new_left.filter(F.col("orderkey") % 3 != 0).withColumn(
            "m", F.lit(1)
        ),
        on="orderkey",
    )
    matview_ingest(
        spark,
        path,
        right_delta=right.filter(F.col("orderkey") % 2 == 1).withColumn(
            "m", F.lit(1)
        ),
        on="orderkey",
    )
    # takedown written with the ORIGINAL schema (null-safe retract;
    # %15==0 implies %3==0, so every victim is a pre-evolution row)
    matview_ingest(
        spark,
        path,
        left_delta=old_left.filter(F.col("orderkey") % 15 == 0).withColumn(
            "m", F.lit(-1)
        ),
        on="orderkey",
    )
    return matview_read(spark, path)


@defquery(
    "decontamination_store",
    """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) < 13 THEN [array_to_string(t, ' ')]
              ELSE list_distinct(list_transform(range(1, len(t) - 11),
                     i -> array_to_string(t[i:i+12], ' '))) END AS shingles
  FROM toks),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
ev AS (SELECT DISTINCT s FROM ex WHERE doc_id % 11 = 3),
tr AS (SELECT doc_id, s FROM ex WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 3)
SELECT tr.doc_id, CAST(count(DISTINCT tr.s) AS BIGINT) AS n_shared_13grams
FROM tr JOIN ev ON tr.s = ev.s
GROUP BY tr.doc_id
""",
    "INCREMENTAL DECONTAMINATION — the join-MV machinery powering the "
    "curation workflow benchmarks actually have: suites ARRIVE and "
    "get RETIRED over time, and each change must re-flag the corpus "
    "in O(Δ) without rescanning train shingles against every old "
    "suite. Left input = per-suite benchmark 13-gram hashes (CDC at "
    "suite granularity), right = the train corpus's shingle "
    "postings (bootstrapped once), view = contamination matches. "
    "Four commits: bootstrap with suite A, suite B added (only B's "
    "shingles join the corpus state), suite A REPLAYED (admits "
    "nothing), suite A RETIRED (its matches retract; docs still hit "
    "by B stay flagged — the per-suite row identity is what makes "
    "partial retirement exact). Serving counts DISTINCT shared "
    "shingles per doc over the net view; oracle = the from-scratch "
    "join against the SURVIVING suite's shingles, string-shingled "
    "where the store joins xxhash64 longs (identity-by-hash, the "
    "decontaminate_ngram_overlap contract). At 100 TB the suite "
    "side stays benchmark-sized and broadcasts; the corpus postings "
    "net-fold amortizes through standard compaction.",
)
def decontamination_store_q(spark, sf_dir):
    from .operators.matview import matview_ingest, matview_read
    from .queries import TX
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("decontam_store", sf_dir)
    d = _t(spark, sf_dir, "documents")
    ex = d.withColumn("__th__", TX.token_hashes(F.col("text"))).select(
        "doc_id",
        F.explode(
            F.array_distinct(TX.shingle_hashes_from_tokens(F.col("__th__"), 13))
        ).alias("s"),
    )
    suite_a = (
        ex.filter(F.col("doc_id") % 7 == 0)
        .select("s")
        .distinct()
        .withColumn("suite", F.lit("a"))
    )
    suite_b = (
        ex.filter(F.col("doc_id") % 11 == 3)
        .select("s")
        .distinct()
        .withColumn("suite", F.lit("b"))
    )
    train = ex.filter((F.col("doc_id") % 7 != 0) & (F.col("doc_id") % 11 != 3))
    matview_ingest(
        spark,
        path,
        suite_a.withColumn("m", F.lit(1)),
        train.withColumn("m", F.lit(1)),
        on="s",
    )
    matview_ingest(
        spark, path, left_delta=suite_b.withColumn("m", F.lit(1)), on="s"
    )
    # duplicated suite delivery: admits nothing
    matview_ingest(
        spark, path, left_delta=suite_a.withColumn("m", F.lit(1)), on="s"
    )
    # suite A retired: its matches retract, B's survive
    matview_ingest(
        spark, path, left_delta=suite_a.withColumn("m", F.lit(-1)), on="s"
    )
    v = matview_read(spark, path)
    return v.groupBy("doc_id").agg(
        F.count_distinct("s").alias("n_shared_13grams")
    )


@defquery(
    "matview_backfill_subscriber",
    """
WITH l AS (
  SELECT o_orderkey AS orderkey, o_custkey, o_orderstatus
  FROM orders
  WHERE o_orderpriority = '1-URGENT' AND NOT (o_orderkey % 15 = 0)
), r AS (
  SELECT l_orderkey AS orderkey, l_linenumber, l_extendedprice, l_discount
  FROM lineitem WHERE NOT (l_linenumber >= 5 OR l_orderkey % 15 = 0)
), c AS (
  SELECT c_custkey AS o_custkey, c_mktsegment FROM customer
)
SELECT c.o_custkey, c.c_mktsegment,
       l.orderkey, l.o_orderstatus,
       r.l_linenumber, r.l_extendedprice, r.l_discount,
       CAST(1 AS BIGINT) AS mult
FROM c JOIN l ON c.o_custkey = l.o_custkey
       JOIN r ON l.orderkey = r.orderkey
""",
    "SNAPSHOT+STREAM BACKFILL — how a LATE subscriber joins a live "
    "view without replaying history from genesis: bootstrap from the "
    "upstream MV's pinned state AS-OF commit 3 (one insert batch — "
    "the snapshot), then subscribe to the change feed from there "
    "(the per-commit deltas of batches 4..5, including the empty "
    "replay commit and the both-side delete wave). The identity that "
    "makes this exact is the store's own construction: state(3) + "
    "deltas(4..5) ≡ state(5), so the late subscriber converges to "
    "EXACTLY the in-order cascade's result — same oracle, one hash. "
    "Deletes arriving through the feed retract rows the subscriber "
    "only ever saw via the snapshot (net-sign admission neither "
    "knows nor cares how a row arrived). This is the standard "
    "bootstrap pattern of every CDC ecosystem, proved end-to-end on "
    "the store protocol. At 100 TB: a new consumer costs one "
    "snapshot scan + the tail of the feed, never a historical "
    "replay.",
)
def matview_backfill_subscriber_q(spark, sf_dir):
    import shutil

    from .core import store
    from .operators.matview import matview_changes, matview_ingest, matview_read
    from .queries_ext import _sink_dir

    p1 = _sink_dir("matview_bf1", sf_dir)
    p2 = _sink_dir("matview_bf2", sf_dir)
    _mv_store_build(spark, sf_dir, p1, with_delete=True)
    shutil.rmtree(p2, ignore_errors=True)
    cust = (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
        .withColumn("m", F.lit(1))
    )
    # bootstrap: the upstream's PINNED state at commit 3 as one batch
    snapshot = matview_read(spark, p1, as_of_batches=3).withColumnRenamed(
        "mult", "m"
    )
    matview_ingest(spark, p2, cust, snapshot, on="o_custkey")
    # subscribe: per-commit deltas AFTER the snapshot point
    tags = store.tags(p1)
    for k in range(3, len(tags)):
        dv = matview_changes(
            spark, p1, from_batches=k, to_batches=k + 1
        ).withColumnRenamed("mult_delta", "m")
        matview_ingest(spark, p2, right_delta=dv, on="o_custkey")
    return matview_read(spark, p2)


@defquery(
    "matview_zonemap_lookup",
    _mv_sql(
        lfilter="AND NOT (o_orderkey % 15 = 0)",
        rfilter="WHERE NOT (l_linenumber >= 5 OR l_orderkey % 15 = 0)",
    ).replace(
        "FROM l JOIN r ON l.orderkey = r.orderkey",
        "FROM l JOIN r ON l.orderkey = r.orderkey\n"
        "WHERE l.orderkey BETWEEN 1000 AND 3000",
    ),
    "ZONE-MAPPED point serving — the layout lever the store family's "
    "docs promised: compaction range-partitions + sorts the view fold "
    "by the probe column and records per-FILE min/max from the "
    "parquet footers (_ZONES.json, written after the manifest publish "
    "so a crash degrades to unpruned, never to wrong); "
    "matview_lookup then opens ONLY the files whose zone intersects "
    "the probe range, with the predicate additionally pushed into the "
    "opened files for row-group pruning. The hash gates exactness of "
    "the PRUNED path over the retracted store (a zone map that "
    "dropped a covering file, or resurfaced a deleted row, shifts "
    "it); file-level pruning itself is pinned structurally in pytest "
    "via inputFiles(). At 100 TB this turns a point/range serve from "
    "a table scan into O(files covering the range) — the standard "
    "data-skipping contract, built on footer stats the files already "
    "carry.",
)
def matview_zonemap_lookup_q(spark, sf_dir):
    from .operators.matview import compact_matview_store, matview_lookup
    from .queries_ext import _sink_dir

    path = _sink_dir("matview_zone", sf_dir)
    _mv_store_build(spark, sf_dir, path, with_delete=True)
    compact_matview_store(spark, path, zone_by="orderkey", n_files=8)
    return matview_lookup(spark, path, "orderkey", 1000, 3000)


@defquery(
    "kanon_stats_release",
    """
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(*) AS BIGINT) AS n,
         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total
  FROM customer GROUP BY c_nationkey, c_mktsegment
), ok AS (SELECT * FROM g WHERE n >= 10),
small AS (SELECT * FROM g WHERE n < 10),
rolled AS (
  SELECT c_nationkey, '__suppressed__' AS c_mktsegment,
         CAST(SUM(n) AS BIGINT) AS n, SUM(total) AS total
  FROM small GROUP BY c_nationkey
), rolled_ok AS (SELECT * FROM rolled WHERE n >= 10),
leftover AS (SELECT * FROM rolled WHERE n < 10),
terminal AS (
  SELECT CAST(NULL AS INTEGER) AS c_nationkey,
         '__suppressed__' AS c_mktsegment,
         CAST(SUM(n) AS BIGINT) AS n,
         CASE WHEN SUM(n) >= 10 THEN SUM(total) END AS total
  FROM leftover HAVING SUM(n) > 0
)
SELECT c_nationkey, c_mktsegment, n,
       CAST(total AS DOUBLE) AS total
FROM (SELECT * FROM ok UNION ALL SELECT * FROM rolled_ok
      UNION ALL SELECT * FROM terminal)
""",
    "K-ANONYMOUS stats release (operators/sampling.py::kanon_release) "
    "— the privacy gate a curated corpus's published statistics pass "
    "through: every released (nation, segment) group carries >= k=10 "
    "members; smaller groups are NOT dropped (absence leaks 'this "
    "group exists and is small') but roll up to a per-nation "
    "__suppressed__ remainder, and remainders still below k roll into "
    "ONE global terminal bucket — there is no further level to hide "
    "in, so its COUNT is always released (conservation), but a "
    "sub-k terminal bucket's SUM is released as NULL: in the limit "
    "that sum is one individual's exact value, which the k guarantee "
    "forbids. Every decision is an exact integer "
    "comparison and every sum exact DECIMAL, so the release is "
    "deterministic, auditable, and oracle-provable (this hash IS the "
    "audit). At 100 TB this is one aggregation tree — the rollup "
    "levels are group-cardinality-bounded, never data-bounded.",
)
def kanon_stats_release_q(spark, sf_dir):
    from .operators.sampling import kanon_release

    c = _t(spark, sf_dir, "customer")
    out = kanon_release(
        c, ["c_nationkey", "c_mktsegment"], k=10, value_col="c_acctbal"
    )
    return out.withColumn("total", F.col("total").cast("double"))


@defquery(
    "matview_multi_view",
    """
WITH l AS (
  SELECT o_orderkey AS orderkey, o_custkey, o_orderstatus
  FROM orders
  WHERE o_orderpriority = '1-URGENT' AND NOT (o_orderkey % 15 = 0)
), r AS (
  SELECT l_orderkey AS orderkey, l_linenumber, l_extendedprice, l_discount
  FROM lineitem WHERE NOT (l_linenumber >= 5 OR l_orderkey % 15 = 0)
), j AS (
  SELECT l.orderkey, l.o_custkey, l.o_orderstatus,
         r.l_linenumber, r.l_extendedprice, r.l_discount
  FROM l JOIN r ON l.orderkey = r.orderkey
)
SELECT 'v_flagged' AS view, orderkey, o_custkey, o_orderstatus,
       l_linenumber, l_extendedprice, l_discount,
       CAST(1 AS BIGINT) AS mult
FROM j WHERE o_orderstatus = 'F'
UNION ALL
SELECT 'v_lines' AS view, CAST(NULL AS BIGINT) AS orderkey, o_custkey,
       CAST(NULL AS VARCHAR) AS o_orderstatus, l_linenumber,
       CAST(NULL AS DOUBLE) AS l_extendedprice,
       CAST(NULL AS DOUBLE) AS l_discount,
       CAST(count(*) AS BIGINT) AS mult
FROM j GROUP BY o_custkey, l_linenumber
""",
    "MULTI-VIEW shared maintenance (matview_multi_ingest) — the "
    "multi-query-optimization shape on the store protocol: TWO views "
    "over the same input pair (a σ keeping only status-F joined rows, "
    "and a row-merging π onto (custkey, linenumber) whose merged "
    "multiplicities must SUM) are maintained from ONE delta "
    "computation per commit — the three delta joins run once, each "
    "view's linear transform applies to the shared join delta, and "
    "both tables commit under the same tag (shared commit clock, no "
    "torn multi-view state). The full five-commit lifecycle runs "
    "through both views — bootstrap, one-sided deltas, replay, "
    "both-side delete — and the gate serves BOTH under a "
    "discriminator column: one hash proves σ and π both commuted "
    "with every delta, including the π's multiplicity algebra "
    "(merged rows carry mult > 1 — the Z-set projection, not "
    "DISTINCT). At 100 TB this halves (or better) maintenance cost "
    "for view families over hot fact pairs — the delta joins "
    "dominate, and they are shared.",
)
def matview_multi_view_q(spark, sf_dir):
    from .operators.matview import matview_multi_ingest, matview_read
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("matview_multi", sf_dir)
    views = {
        "v_flagged": lambda dv: dv.filter(F.col("o_orderstatus") == "F"),
        "v_lines": lambda dv: dv.select("o_custkey", "l_linenumber", "mult"),
    }
    left = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            F.col("o_orderkey").alias("orderkey"), "o_custkey", "o_orderstatus"
        )
    )
    right = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        "l_linenumber",
        "l_extendedprice",
        "l_discount",
    )
    ins_l = left.withColumn("m", F.lit(1))
    ins_r = right.withColumn("m", F.lit(1))
    b1_l = ins_l.filter(F.col("orderkey") % 3 == 0)
    matview_multi_ingest(
        spark, path, views, b1_l, ins_r.filter(F.col("orderkey") % 2 == 0),
        on="orderkey",
    )
    matview_multi_ingest(
        spark, path, views,
        left_delta=ins_l.filter(F.col("orderkey") % 3 != 0), on="orderkey",
    )
    matview_multi_ingest(
        spark, path, views,
        right_delta=ins_r.filter(F.col("orderkey") % 2 == 1), on="orderkey",
    )
    matview_multi_ingest(spark, path, views, left_delta=b1_l, on="orderkey")
    del_l = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 15 == 0)
        .select(
            F.col("o_orderkey").alias("orderkey"), "o_custkey", "o_orderstatus"
        )
        .withColumn("m", F.lit(-1))
    )
    del_r = right.filter(
        (F.col("l_linenumber") >= 5) | (F.col("orderkey") % 15 == 0)
    ).withColumn("m", F.lit(-1))
    matview_multi_ingest(spark, path, views, del_l, del_r, on="orderkey")

    a = matview_read(spark, path, view_table="v_flagged").select(
        F.lit("v_flagged").alias("view"),
        "orderkey",
        "o_custkey",
        "o_orderstatus",
        "l_linenumber",
        "l_extendedprice",
        "l_discount",
        "mult",
    )
    b = matview_read(spark, path, view_table="v_lines").select(
        F.lit("v_lines").alias("view"),
        F.lit(None).cast("bigint").alias("orderkey"),
        "o_custkey",
        F.lit(None).cast("string").alias("o_orderstatus"),
        "l_linenumber",
        F.lit(None).cast("double").alias("l_extendedprice"),
        F.lit(None).cast("double").alias("l_discount"),
        "mult",
    )
    return a.unionByName(b)


@defquery(
    "subword_min_segmentation",
    r"""
WITH RECURSIVE
toks AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
words AS (SELECT DISTINCT unnest(t) AS word FROM toks),
w AS (SELECT word, len(word) AS wlen FROM words WHERE len(word) > 0),
cand AS (
  SELECT piece, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece
    FROM w, unnest(range(2, 5)) AS t1(l), unnest(range(1, wlen - l + 2)) AS t2(i)
    WHERE wlen >= l
  ) GROUP BY piece
),
topk AS (SELECT piece FROM cand ORDER BY c DESC, piece ASC LIMIT 20),
chars AS (
  SELECT DISTINCT substr(word, CAST(i AS INT), 1) AS piece
  FROM w, unnest(range(1, wlen + 1)) AS t(i)
),
vocab AS (SELECT piece FROM chars UNION SELECT piece FROM topk),
reach AS (
  SELECT word, wlen, 0 AS pos, 0 AS k FROM w
  UNION
  SELECT r.word, r.wlen, r.pos + len(v.piece), r.k + 1
  FROM reach r JOIN vocab v
    ON substr(r.word, r.pos + 1, len(v.piece)) = v.piece
  WHERE r.pos < r.wlen AND r.k < 32
),
best AS (SELECT word, wlen, min(k) AS n_pieces FROM reach WHERE pos = wlen GROUP BY word, wlen)
SELECT n_pieces, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(wlen) AS BIGINT) AS total_chars
FROM best GROUP BY n_pieces
""",
    "MINIMAL-PIECE subword segmentation (operators/tokenizer_store.py"
    "::min_piece_segmentation) — the DP at the core of the WordPiece/"
    "SentencePiece family, run as BFS over character positions: the "
    "vocabulary is every corpus character (totality by construction) "
    "plus the top-20 length-2..4 substrings by occurrence count over "
    "DISTINCT words (count DESC, piece ASC — a total order, so both "
    "engines derive the IDENTICAL vocab), and a word's minimal piece "
    "count is the first BFS round that reaches its end. Only the "
    "COUNT is emitted — minimality needs no tie-break over equal-cost "
    "segmentations, which is what makes the whole DP exactly provable "
    "against a recursive-CTE shortest-path oracle. Complements the "
    "BPE loop (greedy merge TRAINING) with the optimal-segmentation "
    "ENCODING side of the tokenizer family. Scale shape: state space "
    "is distinct-words-bounded (positions x rounds), the vocab is a "
    "Heaps-bounded broadcast, O(max word length) rounds — the "
    "bpe_store_train envelope.",
)
def subword_min_segmentation_q(spark, sf_dir):
    from .operators.tokenizer_store import min_piece_segmentation

    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("word")
        )
        .filter(F.length("word") > 0)
        .distinct()
    )
    w = words.select("word", F.length("word").alias("wlen"))
    cands = None
    for l in (2, 3, 4):
        c = (
            w.filter(F.col("wlen") >= l)
            .select(
                "word",
                F.explode(
                    F.sequence(F.lit(1), F.col("wlen") - l + 1)
                ).alias("i"),
            )
            .select(F.expr(f"substring(word, i, {l})").alias("piece"))
        )
        cands = c if cands is None else cands.unionByName(c)
    topk = (
        cands.groupBy("piece")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("piece").asc())
        .limit(20)
        .select("piece")
    )
    chars = (
        w.select(
            "word",
            F.explode(F.sequence(F.lit(1), F.col("wlen"))).alias("i"),
        )
        .select(F.expr("substring(word, i, 1)").alias("piece"))
        .distinct()
    )
    vocab = chars.unionByName(topk).distinct()
    seg = min_piece_segmentation(spark, words, vocab)
    return (
        seg.join(w, "word")
        .groupBy("n_pieces")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("wlen").cast("long").alias("total_chars"),
        )
    )


def _unigram_dp_cte(probs: str, out: str, rounds: int = 16) -> str:
    """Unrolled Viterbi relaxation for the unigram-LM oracle: ``rounds``
    min-per-(word, pos) stages over (cost, path) keys encoded as one
    sortable string ``lpad(cost_u, 12, '0') || TAB || path`` — integer
    micro-nat costs, so additions are exact and MIN(key) is the same
    (cost, lexicographic-path) order the Spark E-step's python DP uses
    (tokens carry no whitespace, so TAB/space separators are safe and
    the space-vs-letter first difference makes path order
    prefix-compatible).  16 rounds >= the 16-char word cap, which by
    the Bellman induction settles every optimal prefix."""
    ctes = [
        f"{out}_s0 AS MATERIALIZED (SELECT word, freq, wlen, 0 AS pos, "
        "lpad('0', 12, '0') || chr(9) AS key FROM w)"
    ]
    for k in range(1, rounds + 1):
        ctes.append(f"""{out}_e{k} AS (
  SELECT s.word, s.freq, s.wlen, s.pos + len(v.piece) AS pos,
         lpad(CAST(CAST(split_part(s.key, chr(9), 1) AS BIGINT) + v.cu AS VARCHAR), 12, '0')
           || chr(9)
           || CASE WHEN split_part(s.key, chr(9), 2) = '' THEN v.piece
                   ELSE split_part(s.key, chr(9), 2) || ' ' || v.piece END AS key
  FROM {out}_s{k - 1} s JOIN {probs} v
    ON substr(s.word, s.pos + 1, len(v.piece)) = v.piece
  WHERE s.pos < s.wlen
)""")
        ctes.append(f"""{out}_s{k} AS MATERIALIZED (
  SELECT word, freq, wlen, pos, MIN(key) AS key
  FROM (SELECT * FROM {out}_s{k - 1} UNION ALL SELECT * FROM {out}_e{k})
  GROUP BY word, freq, wlen, pos
)""")
    ctes.append(
        f"{out} AS (SELECT word, freq, split_part(key, chr(9), 2) AS path "
        f"FROM {out}_s{rounds} WHERE pos = wlen)"
    )
    return ",\n".join(ctes)


_UNIGRAM_EM_SQL = r"""
WITH toks AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
allw AS (SELECT unnest(t) AS word FROM toks),
w AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq, len(word) AS wlen
  FROM allw WHERE len(word) BETWEEN 1 AND 16 GROUP BY word
),
cand AS (
  SELECT piece, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece
    FROM w, unnest(range(2, 5)) AS t1(l), unnest(range(1, wlen - l + 2)) AS t2(i)
    WHERE wlen >= l
  ) GROUP BY piece
),
topk AS (SELECT piece FROM cand ORDER BY c DESC, piece ASC LIMIT 20),
chars AS (
  SELECT DISTINCT substr(word, CAST(i AS INT), 1) AS piece
  FROM w, unnest(range(1, wlen + 1)) AS t(i)
),
vocab AS (SELECT piece FROM chars UNION SELECT piece FROM topk),
c0 AS MATERIALIZED (
  SELECT piece,
         CAST(SUM(freq * CAST((len(word) - len(replace(word, piece, ''))) / len(piece) AS BIGINT)) AS BIGINT) AS cnt
  FROM w JOIN vocab ON instr(word, piece) > 0
  GROUP BY piece
),
p0 AS MATERIALIZED (
  SELECT piece,
         CAST(ROUND(-LN(CAST(cnt AS DOUBLE) / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM c0)) * 1000000, 0) AS BIGINT) AS cu
  FROM c0
),
""" + _unigram_dp_cte("p0", "best1") + r""",
m1 AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM best1, unnest(string_split(path, ' ')) AS t(piece)
  GROUP BY piece
),
p1 AS MATERIALIZED (
  SELECT piece,
         CAST(ROUND(-LN(CAST(cnt AS DOUBLE) / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM m1)) * 1000000, 0) AS BIGINT) AS cu
  FROM m1
),
""" + _unigram_dp_cte("p1", "best2") + r""",
m2 AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM best2, unnest(string_split(path, ' ')) AS t(piece)
  GROUP BY piece
)
SELECT piece, cnt AS n_uses,
       CAST(ROUND(-LN(CAST(cnt AS DOUBLE) / (SELECT CAST(SUM(cnt) AS DOUBLE) FROM m2)) * 1000000, 0) AS BIGINT) AS cost_u
FROM m2
"""


@defquery(
    "unigram_lm_em",
    _UNIGRAM_EM_SQL,
    "UNIGRAM-LM tokenizer training (operators/tokenizer_store.py::"
    "unigram_em_train) — the SentencePiece-style hard-EM loop that "
    "completes the tokenizer family's training side (BPE = greedy "
    "merge training; this = probabilistic optimal-segmentation "
    "training, with min_piece_segmentation as its unit-cost special "
    "case). Seed counts are non-overlapping occurrence counts of the "
    "shared char+top-20-substring vocabulary over DISTINCT words; two "
    "EM rounds each Viterbi-segment every word under integer "
    "micro-nat costs round(-ln(cnt/total)*1e6) — the washed-libm "
    "determinism recipe, with all path costs BIGINT-exact — and "
    "re-count pieces from the winning paths (unused pieces prune, "
    "coverage survives because winning paths use only surviving "
    "pieces). Ties break on the lexicographically smallest path, a "
    "true DP order because segmentations of one word first differ at "
    "a space-vs-letter boundary. The oracle replays the identical EM "
    "on an UNROLLED 16-stage min-relaxation per E-step, so the hash "
    "gates the full loop: seeding, both Viterbi passes, pruning and "
    "the final probabilities. Scale shape: corpus pays one word-count "
    "pass; E-steps are one Arrow-batched mapInPandas over distinct "
    "words (Heaps-bounded) with a vocabulary-bounded broadcast "
    "cost table — the bpe_store_train envelope.",
)
def unigram_lm_em_q(spark, sf_dir):
    from .operators.tokenizer_store import unigram_em_train

    d = _t(spark, sf_dir, "documents")
    w = (
        d.select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("word")
        )
        .filter((F.length("word") >= 1) & (F.length("word") <= 16))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("wlen", F.length("word"))
    )
    cands = None
    for l in (2, 3, 4):
        c = (
            w.filter(F.col("wlen") >= l)
            .select(
                "word",
                F.explode(
                    F.sequence(F.lit(1), F.col("wlen") - l + 1)
                ).alias("i"),
            )
            .select(F.expr(f"substring(word, i, {l})").alias("piece"))
        )
        cands = c if cands is None else cands.unionByName(c)
    topk = (
        cands.groupBy("piece")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("piece").asc())
        .limit(20)
        .select("piece")
    )
    chars = (
        w.select(
            "word",
            F.explode(F.sequence(F.lit(1), F.col("wlen"))).alias("i"),
        )
        .select(F.expr("substring(word, i, 1)").alias("piece"))
        .distinct()
    )
    vocab = chars.unionByName(topk).distinct()
    return unigram_em_train(
        spark, w.select("word", "freq"), vocab, em_rounds=2
    )


@defquery(
    "dedup_store_schema_evolution",
    r"""
WITH norm AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         CAST(substr(source, 4) AS INT) AS src_num, source
  FROM documents
),
b1 AS (SELECT fp, min(doc_id) AS doc_id FROM norm WHERE src_num < 10 GROUP BY fp),
b2c AS (
  SELECT fp, min(doc_id) AS doc_id, arg_min(source, doc_id) AS src_tag
  FROM norm WHERE src_num >= 10 GROUP BY fp
),
b2 AS (SELECT * FROM b2c WHERE fp NOT IN (SELECT fp FROM b1)),
stored AS (
  SELECT fp, doc_id, CAST(NULL AS VARCHAR) AS src_tag FROM b1
  UNION ALL
  SELECT fp, doc_id, src_tag FROM b2
)
SELECT fp, doc_id, src_tag FROM stored WHERE doc_id % 7 <> 3
""",
    "SCHEMA EVOLUTION for the exact-dedup signature store — the "
    "long-lived-store migration the matview family pinned "
    "(matview_schema_evolution), applied to the id-keyed families: a "
    "later pipeline version starts attaching a payload column "
    "(src_tag) to its admitted batches, so the store's history spans "
    "two schemas. Admission stays fp/id-based — old batches are "
    "bytes-identical and a replayed old-schema batch still admits "
    "nothing — while the read path serves the UNION schema "
    "(pre-evolution rows null-filled, read_incremental_store_asof "
    "with merge_schema) and both rewrite paths (compaction, then an "
    "id-keyed takedown spanning the two cohorts) fold under "
    "mergeSchema so the evolved column survives the rewrite instead "
    "of being nondeterministically dropped by footer-sampled schema "
    "inference. The oracle's CASE-free union expresses exactly which "
    "cohort pre-dates the column. At 100 TB the evolution is "
    "zero-rewrite: old data is never touched, only rewrites pay the "
    "all-footers union-schema read.",
)
def dedup_store_schema_evolution_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("exact_evo", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    DD.dedup_incremental_exact(
        spark, path, d.filter(src_num < 10).select("doc_id", "text")
    )
    DD.dedup_incremental_exact(
        spark,
        path,
        d.filter(src_num >= 10).select(
            "doc_id", "text", F.col("source").alias("src_tag")
        ),
        payload_cols=["src_tag"],
    )
    DD.compact_incremental_store(spark, path, tables=("fps",))
    victims = d.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    DD.delete_from_incremental_store(spark, path, victims, tables=("fps",))
    return DD.read_incremental_store_asof(
        spark, path, "fps", merge_schema=True
    ).select("fp", "doc_id", "src_tag")


@defquery(
    "exact_store_zonemap_lookup",
    r"""
WITH norm AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         CAST(substr(source, 4) AS INT) AS src_num
  FROM documents
),
b1 AS (SELECT fp, min(doc_id) AS doc_id FROM norm WHERE src_num < 10 GROUP BY fp),
kept1 AS (SELECT * FROM b1 WHERE doc_id % 11 <> 5),
b2 AS (
  SELECT fp, min(doc_id) AS doc_id FROM norm WHERE src_num >= 10 GROUP BY fp
),
stored AS (
  SELECT * FROM kept1
  UNION ALL
  SELECT * FROM b2 WHERE fp NOT IN (SELECT fp FROM kept1)
)
SELECT fp, doc_id FROM stored WHERE doc_id BETWEEN 100 AND 299
""",
    "ZONE-MAPPED point serving for the signature stores — the "
    "matview family's data-skipping contract (matview_zonemap_lookup) "
    "applied to the id-keyed families through the SHARED zone layer "
    "(operators/zones.py): compaction range-partitions + sorts the "
    "exact-fp table by doc_id and writes per-file min/max zones from "
    "the parquet footers AFTER the manifest publish (crash degrades "
    "to unpruned, never wrong); the range serve "
    "(read_incremental_store_zoned) opens only covering files — "
    "null/absent zone entries and zoneless dirs serve unconditionally, "
    "so pruning only ever removes files PROVEN empty. The lifecycle "
    "runs two ingests, an id-keyed takedown, then the zoned "
    "compaction, and the gate serves a doc-id range; file-level "
    "pruning is pinned structurally via inputFiles() in pytest. At "
    "100 TB this is the audit/point-read path over a corpus-sized "
    "fingerprint history: one footer-read pass at (rare, "
    "policy-cadenced) compaction buys every subsequent range probe a "
    "scan bounded by the probe's selectivity.",
)
def exact_store_zonemap_lookup_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("exact_zone", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    DD.dedup_incremental_exact(
        spark, path, d.filter(src_num < 10).select("doc_id", "text")
    )
    victims = d.filter(F.col("doc_id") % 11 == 5).select("doc_id")
    DD.delete_from_incremental_store(spark, path, victims, tables=("fps",))
    DD.dedup_incremental_exact(
        spark, path, d.filter(src_num >= 10).select("doc_id", "text")
    )
    # the delete folded history to one rewrite batch; the second
    # ingest appended — the zoned compaction below therefore rewrites
    # (>= 2 batches) and writes the range layout + zones the serve
    # prunes against
    assert DD.compact_incremental_store(
        spark, path, tables=("fps",), zone_by={"fps": "doc_id"}, n_files=8
    ) >= 2
    return DD.read_incremental_store_zoned(
        spark, path, "fps", "doc_id", 100, 299
    ).select("fp", "doc_id")


@defquery(
    "dp_count_release",
    r"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
r AS (
  SELECT c_nationkey, c_mktsegment, n,
         CAST(('0x' || substr(md5('42:' || CAST(c_nationkey AS VARCHAR)
                || ':' || c_mktsegment), 1, 8)) AS BIGINT) AS h
  FROM g
),
t AS (
  SELECT c_nationkey, c_mktsegment, n,
         (2 * h + 1) / 8589934592.0 - 0.5 AS t
  FROM r
)
SELECT c_nationkey, c_mktsegment,
       CAST(n + CAST(ROUND(-2.0 * SIGN(t) * ROUND(LN(1 - 2 * ABS(t)), 6), 0)
                AS BIGINT) AS BIGINT) AS n_noisy
FROM t
""",
    "SEEDED-GEOMETRIC DP counter release "
    "(operators/sampling.py::dp_geometric_release) — the "
    "differential-privacy counterpart of kanon_stats_release: every "
    "(nation, segment) group PRESENT in the data is released with its "
    "count perturbed by integer noise from the "
    "two-sided-geometric/rounded-Laplace mechanism (epsilon=0.5), so "
    "no exact count is ever published. KNOWN-DOMAIN CAVEAT: emitting "
    "only present groups releases group membership exactly, so the "
    "epsilon-DP guarantee holds over a fixed public set of group keys "
    "— the dp_count_release_domain gate covers the public-domain "
    "frame that extends the guarantee to membership. DERANDOMIZED "
    "via the PMI determinism recipe: "
    "the noise is a pure function of (seed, group key) — md5-prefix "
    "uniform u=(2h+1)/2^33 (exact in a double, never hits the CDF's "
    "poles), washed-ln inverse CDF round(ln(1-2|t|),6), one final "
    "rounding to the integer lattice — so the release is "
    "deterministic, auditable, and sits under the driver hash; the "
    "epsilon-DP guarantee holds against observers without the seed "
    "(production rotates a secret seed; the plan is unchanged). True "
    "counts are deliberately not emitted. One aggregation tree + "
    "per-group scalar expressions — group-cardinality-bounded at any "
    "corpus scale.",
)
def dp_count_release_q(spark, sf_dir):
    from .operators.sampling import dp_geometric_release

    c = _t(spark, sf_dir, "customer")
    return dp_geometric_release(
        c, ["c_nationkey", "c_mktsegment"], epsilon=0.5, seed="42"
    )


@defquery(
    "dp_sum_release",
    r"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         ROUND(SUM(LEAST(GREATEST(CAST(c_acctbal AS DOUBLE), 0.0), 5000.0)), 2) AS s
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
r AS (
  SELECT c_nationkey, c_mktsegment, s,
         CAST(('0x' || substr(md5('42:sum:' || CAST(c_nationkey AS VARCHAR)
                || ':' || c_mktsegment), 1, 8)) AS BIGINT) AS h
  FROM g
),
t AS (
  SELECT c_nationkey, c_mktsegment, s,
         (2 * h + 1) / 8589934592.0 - 0.5 AS t
  FROM r
)
SELECT c_nationkey, c_mktsegment,
       ROUND(s + CAST(ROUND(-10000.0 * SIGN(t) * ROUND(LN(1 - 2 * ABS(t)), 6), 0)
                 AS BIGINT), 2) AS sum_noisy
FROM t
""",
    "SEEDED-GEOMETRIC DP SUM release "
    "(operators/sampling.py::dp_sum_release) — the value-perturbation "
    "counterpart of dp_count_release: per-(nation, segment) account "
    "balances CLAMPED to the public bounds [0, 5000] (clamping bounds "
    "one individual's contribution, so the add/remove-one sensitivity "
    "is S=5000) and perturbed by integer rounded-Laplace(S/epsilon) "
    "noise, epsilon=0.5, from the same derandomized md5-uniform/"
    "washed-ln inverse CDF — deterministic, auditable, under the "
    "driver hash. The per-group uniform is keyed 'seed:sum:key', "
    "disjoint from the count release's stream, so jointly publishing "
    "counts and sums composes two independent mechanisms. True sums "
    "never emitted. One aggregation tree + scalar expressions — "
    "group-cardinality-bounded at any corpus scale.",
)
def dp_sum_release_q(spark, sf_dir):
    from .operators.sampling import dp_sum_release

    c = _t(spark, sf_dir, "customer")
    return dp_sum_release(
        c, ["c_nationkey", "c_mktsegment"], "c_acctbal",
        lo=0.0, hi=5000.0, epsilon=0.5, seed="42",
    )


@defquery(
    "kanon_dp_release",
    r"""
WITH g AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
         SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
r AS (
  SELECT *, CAST(('0x' || substr(md5('42:kanon:' || CAST(c_nationkey AS VARCHAR)
             || ':' || c_mktsegment), 1, 8)) AS BIGINT) AS h
  FROM g
),
t AS (SELECT *, (2 * h + 1) / 8589934592.0 - 0.5 AS t FROM r)
SELECT c_nationkey, c_mktsegment,
       CAST(CASE WHEN n >= 10 THEN n
            ELSE GREATEST(0, n + CAST(ROUND(-2.0 * SIGN(t)
                 * ROUND(LN(1 - 2 * ABS(t)), 6), 0) AS BIGINT))
       END AS BIGINT) AS n_released,
       CAST(CASE WHEN n >= 10 THEN total END AS DOUBLE) AS total
FROM t
""",
    "K-ANONYMITY composed with the DP mechanism "
    "(operators/sampling.py::kanon_dp_release) — the release the two "
    "standalone gates build toward: groups with >= k=10 members "
    "publish exact (count, sum); smaller groups publish a DP-noisy "
    "count (seeded-geometric, epsilon=0.5, clamped at 0 — DP-safe "
    "post-processing) and a NULL sum, INSTEAD of rolling up. Every "
    "group present in the data appears (the known-domain caveat of "
    "the DP family applies — pass a public domain frame to also cover "
    "membership), no exact sub-k statistic "
    "is ever published, and the noise stream is keyed "
    "'seed:kanon:key' — disjoint from the standalone count/sum "
    "releases, so a fleet publishing all three composes independent "
    "mechanisms. Deterministic, auditable, and the hash IS the audit. "
    "One aggregation tree + scalar expressions — "
    "group-cardinality-bounded at any corpus scale.",
)
def kanon_dp_release_q(spark, sf_dir):
    from .operators.sampling import kanon_dp_release

    c = _t(spark, sf_dir, "customer")
    out = kanon_dp_release(
        c, ["c_nationkey", "c_mktsegment"], k=10,
        value_col="c_acctbal", epsilon=0.5, seed="42",
    )
    return out.withColumn("total", F.col("total").cast("double"))


@defquery(
    "vocab_store_payload_evolution",
    r"""
SELECT doc_id, CAST(1 AS INT) AS sign,
       CASE WHEN CAST(substr(source, 4) AS INT) >= 10 THEN source END AS src_tag
FROM documents
WHERE doc_id % 7 <> 3
""",
    "PAYLOAD-COLUMN SCHEMA EVOLUTION for the vocab store's docs CDC "
    "log — the payload_cols/mergeSchema contract the exact-fp store "
    "pins (dedup_store_schema_evolution) applied to the one store "
    "family it had not reached (VERDICT r10 missing #1): a later "
    "pipeline version starts stamping an audit column (src_tag "
    "provenance) onto its admitted doc events. The lifecycle ingests "
    "an old-schema batch, then an OVERLAPPING new-schema batch "
    "(src5-src9 re-inserts are rejected by net-sign admission, so "
    "their pre-evolution NULL stamp survives — admission stays purely "
    "(id, sign)-based and old batches are bytes-identical), then an "
    "old-schema DELETE batch (doc_id % 7 == 3; mixed schemas keep "
    "interleaving after the evolution), then compacts under "
    "mergeSchema so the fold sees the union schema instead of a "
    "footer-sampled one that could drop the stamp. The serve "
    "(vocab_docs_net) nets the signed events with per-column-MIN "
    "payload survival — provably fold-invariant, so the same hash "
    "comes back whether or not compaction ran. At 100 TB the "
    "evolution is zero-rewrite: old log batches are never touched; "
    "only the (rare, policy-cadenced) rewrite pays the all-footers "
    "union-schema read.",
)
def vocab_store_payload_evolution_q(spark, sf_dir):
    from .operators.vocab import (
        compact_vocab_store,
        pmi_store_ingest,
        vocab_docs_net,
    )
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("vocab_payload_evo", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    # pre-evolution ingest: no payload columns
    pmi_store_ingest(
        spark, path,
        d.filter(src_num < 10)
        .select("doc_id", "text")
        .withColumn("sign", F.lit(1)),
    )
    # post-evolution ingest: audit stamp attached; overlaps src5-src9
    # to prove admission rejects re-inserts (their NULL stamp survives)
    pmi_store_ingest(
        spark, path,
        d.filter(src_num >= 5)
        .select("doc_id", "text", F.col("source").alias("src_tag"))
        .withColumn("sign", F.lit(1)),
        payload_cols=["src_tag"],
    )
    # old-schema CDC delete batch (carries the old row's text so the
    # uni/bi deltas subtract exactly what insertion added)
    pmi_store_ingest(
        spark, path,
        d.filter(F.col("doc_id") % 7 == 3)
        .select("doc_id", "text")
        .withColumn("sign", F.lit(-1)),
    )
    assert compact_vocab_store(spark, path, merge_schema=True) >= 2
    return vocab_docs_net(spark, path, merge_schema=True).select(
        "doc_id", "sign", "src_tag"
    )


@defquery(
    "dp_count_release_domain",
    r"""
WITH dom AS (
  SELECT n_nationkey AS c_nationkey, seg AS c_mktsegment
  FROM nation, (VALUES ('AUTOMOBILE'), ('BUILDING'), ('FURNITURE'),
                       ('HOUSEHOLD'), ('MACHINERY')) s(seg)
),
g AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
  FROM customer WHERE c_acctbal < -985.0 GROUP BY c_nationkey, c_mktsegment
),
j AS (
  SELECT dom.c_nationkey, dom.c_mktsegment, COALESCE(g.n, 0) AS n
  FROM dom LEFT JOIN g
    ON dom.c_nationkey = g.c_nationkey AND dom.c_mktsegment = g.c_mktsegment
),
r AS (
  SELECT c_nationkey, c_mktsegment, n,
         CAST(('0x' || substr(md5('42:' || CAST(c_nationkey AS VARCHAR)
                || ':' || c_mktsegment), 1, 8)) AS BIGINT) AS h
  FROM j
),
t AS (
  SELECT c_nationkey, c_mktsegment, n,
         (2 * h + 1) / 8589934592.0 - 0.5 AS t
  FROM r
)
SELECT c_nationkey, c_mktsegment,
       CAST(n + CAST(ROUND(-2.0 * SIGN(t) * ROUND(LN(1 - 2 * ABS(t)), 6), 0)
                AS BIGINT) AS BIGINT) AS n_noisy
FROM t
""",
    "PUBLIC-DOMAIN DP counter release — the membership half of the "
    "epsilon-DP guarantee that dp_count_release's known-domain caveat "
    "defers (ADVICE r10): the release is framed onto a PUBLIC key "
    "universe (the nation dimension x the five public market-segment "
    "enum values), so EVERY domain key emits a row — empty groups "
    "(the deliberately sparse sub- -985 balance slice leaves most of "
    "the 125 keys empty) release noise around a true count of 0, and "
    "row existence carries no information about the data. Neighboring "
    "datasets differing by a lone group member now differ only in one "
    "noisy count, never in a row's presence. The domain frame is "
    "dimension-sized and broadcast-joined "
    "(operators/sampling.py::_frame_to_domain) — no corpus-sized "
    "shuffle; the mechanism, seed stream, and washed-ln determinism "
    "are identical to dp_count_release, so the two gates differ "
    "exactly by the framing join.",
)
def dp_count_release_domain_q(spark, sf_dir):
    from .operators.sampling import dp_geometric_release

    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") < -985.0)
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    # dimension x public enum, expressed as an explode of a literal
    # array (a generator over the 25-row nation scan — no join)
    domain = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.explode(F.array(*[F.lit(s) for s in segs])).alias("c_mktsegment"),
    )
    return dp_geometric_release(
        c, ["c_nationkey", "c_mktsegment"], epsilon=0.5, seed="42",
        domain=domain,
    )


@defquery(
    "streaming_tws_user_stats",
    """
SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       CAST(max(value) AS DOUBLE) AS vmax
FROM events GROUP BY user_id
""",
    "transformWithStateInPandas under the DRIVER GATE — Spark 4's "
    "typed-state streaming operator (value-state handles, RocksDB "
    "provider) maintaining per-user running (count, max) across THREE "
    "micro-batches sliced by event_id, so every user's state is "
    "genuinely carried between batches (an update-mode row per user "
    "per batch; the final state is the per-user max, which the "
    "monotone statistics make exact). Oracle = the batch aggregate "
    "over all events — streaming/batch parity for the one streaming "
    "API that previously lived only behind a pytest. The protobuf "
    "runtime the TWS python worker needs is adopted by "
    "session.py::ensure_protobuf (vendored pure-python fallback); if "
    "a deployment lacks ANY usable protobuf the query degrades to "
    "applyInPandasWithState with identical fold semantics (documented "
    "fallback — state semantics, slicing, and the served result are "
    "unchanged; tests pin that the TWS path is what executes here).",
)
def streaming_tws_user_stats_q(spark, sf_dir):
    from .queries_ext import _sink_dir
    from .session import ensure_protobuf
    from .streaming.stateful import running_accumulator, user_stats_tws

    srcdir = _sink_dir("stream_tws_in", sf_dir)
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    chunks = [e.filter(F.col("event_id") % 3 == k).drop("event_id") for k in range(3)]
    sdf = replay_chunks(spark, srcdir, chunks, "user_id bigint, value double")
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    def _fallback():
        # identical fold semantics on the always-available stateful API
        return running_accumulator(
            sdf,
            key_cols=["user_id"],
            fold=lambda acc, pdf: (
                acc[0] + len(pdf),
                max(acc[1], float(pdf["value"].max()))
                if acc[1] is not None
                else float(pdf["value"].max()),
            ),
            zero=(0, None),
            # running_accumulator stores ONE tuple-wrapped value — the
            # 2-field accumulator rides a single struct field
            state_schema="s struct<n:bigint,vmax:double>",
            out_schema="user_id bigint, n bigint, vmax double",
            emit=lambda key, acc: {
                "user_id": key[0], "n": acc[0], "vmax": acc[1],
            },
        )

    table = "q_tws_user_stats"
    try:
        if ensure_protobuf():
            try:
                run_to_memory_sink(
                    user_stats_tws(sdf.groupBy("user_id")), table,
                    output_mode="update",
                )
            except Exception:
                # driver-importable protobuf but a worker that cannot
                # see it (session built before PYTHONPATH was fixed):
                # degrade, same semantics
                table = "q_tws_user_stats_fb"
                run_to_memory_sink(_fallback(), table, output_mode="update")
        else:  # no usable protobuf anywhere
            table = "q_tws_user_stats_fb"
            run_to_memory_sink(_fallback(), table, output_mode="update")
    finally:
        if prev is not None:
            spark.conf.set(prov_key, prev)
        else:
            spark.conf.unset(prov_key)
    return (
        spark.table(table)
        .groupBy("user_id")
        .agg(F.max("n").alias("n"), F.max("vmax").alias("vmax"))
    )


_HN_MIN_TF = 3  # "strongly on-topic" bar: every query term >= this tf


def _hard_negative_sql(shortlist: int = 20, kneg: int = 5) -> str:
    """Hard-negative oracle: the BM25 shortlist oracle wrapped as a
    CTE, minus the strong-coverage positives (every query term with
    tf >= _HN_MIN_TF), re-ranked."""
    vals = ", ".join(f"({q}, '{t}')" for q, t in sorted(set(_BM25_QUERIES)))
    return f"""
    WITH ranked AS ({_bm25_sql(shortlist)}),
    qd AS (SELECT * FROM (VALUES {vals}) v(query_id, token)),
    nterms AS (SELECT query_id, count(*) AS nq FROM qd GROUP BY query_id),
    tf2 AS (
      SELECT doc_id, token, count(*) AS tf FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        FROM documents) GROUP BY doc_id, token),
    cover AS (
      SELECT qd.query_id, t.doc_id, count(*) AS ncov
      FROM qd JOIN tf2 t ON t.token = qd.token AND t.tf >= {_HN_MIN_TF}
      GROUP BY qd.query_id, t.doc_id),
    pos AS (
      SELECT cover.query_id, cover.doc_id
      FROM cover JOIN nterms USING (query_id) WHERE ncov = nq),
    negs AS (
      SELECT r.query_id, r.rank, r.doc_id, r.score
      FROM ranked r LEFT JOIN pos p
        ON r.query_id = p.query_id AND r.doc_id = p.doc_id
      WHERE p.doc_id IS NULL)
    SELECT query_id, neg_rank, doc_id, score FROM (
      SELECT query_id, doc_id, score,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY rank)
                  AS INT) AS neg_rank
      FROM negs) t
    WHERE neg_rank <= {kneg}
    """


@defquery(
    "hard_negative_mining",
    _hard_negative_sql(),
    "HARD-NEGATIVE MINING — the training-data op a retrieval/reranker "
    "pipeline runs at corpus scale: for each query, the BM25 "
    "shortlist's top non-relevant documents (high-scoring but not "
    "STRONGLY on-topic — some query term below 3 occurrences) become "
    "contrastive negatives, with relevance defined EXACTLY "
    "(integer tf thresholds — the same human-judgment-free labeling "
    "trick as bm25_ndcg_eval, so the gate is hash-stable). Spark shape: one "
    "tokenize pass feeds both the BM25 ranking (posting-bounded "
    "candidates, broadcast query terms) and the coverage labels; the "
    "positives anti-join and the per-query re-rank are "
    "shortlist-bounded windows. At 100 TB the shortlist comes from "
    "the persisted BM25 store (bm25_index_topk over the token-zoned "
    "postings) and the mining cost is queries x shortlist, never "
    "corpus-shaped — this is how contrastive training pairs are "
    "actually produced for embedding-model fine-tuning.",
)
def hard_negative_mining_q(spark, sf_dir):
    from .operators.retrieval import bm25_rank, tokenize_ws

    shortlist, kneg = 20, 5
    d = _t(spark, sf_dir, "documents")
    toks = tokenize_ws(d)
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    qt = local_df(
        spark, sorted(set(_BM25_QUERIES)), "query_id int, token string"
    )
    ranked = bm25_rank(tf, dl, qt, k=shortlist)
    nterms = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("nq"))
    cover = (
        qt.join(
            tf.filter(F.col("tf") >= _HN_MIN_TF).select("doc_id", "token"),
            "token",
        )
        .groupBy("query_id", "doc_id")
        .agg(F.count_distinct("token").alias("ncov"))
    )
    pos = (
        cover.join(F.broadcast(nterms), "query_id")
        .filter(F.col("ncov") == F.col("nq"))
        .select("query_id", "doc_id")
    )
    negs = ranked.join(pos, ["query_id", "doc_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    return (
        negs.withColumn("neg_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("neg_rank") <= kneg)
        .select("query_id", "neg_rank", "doc_id", "score")
    )


@defquery(
    "dedup_minhash_zoned_admission",
    _incr_minhash_sql(),
    "ZONED-LAYOUT invariance proof for the near-dup store (round-11 "
    "catalog-bucketed admission): the SAME admission scenario as "
    "dedup_incremental_minhash / _compacted, but compaction lays the "
    "history out with zone_by={'index': 'bucket', 'payload': doc_id} "
    "— the fp-clustered layout generalized to the banded stores — so "
    "the final ingest's candidate generation runs through "
    "bucket-probe-pruned index files and its Jaccard verify through "
    "candidate-id-pruned payload files. The oracle is the identical "
    "from-scratch replay, so the hash proves pruning changed NOTHING: "
    "a pruned file is provably disjoint with the batch's buckets / "
    "candidate ids. At 100 TB this is the layout under which a "
    "commit's index scan opens O(batch x bands) file groups and the "
    "verify reads only the candidates' shingle payload instead of the "
    "corpus's (the payload column is the fat one).",
)
def dedup_minhash_zoned_admission_q(spark, sf_dir):
    from .operators import dedup as DD
    from .queries_ext import _fresh_sink_dir

    path = _fresh_sink_dir("minhash_history_zoned", sf_dir)
    d = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    hist = d.filter(src_num < 15)
    DD.dedup_incremental_minhash(spark, path, hist)
    for parity in (0, 1):
        DD.dedup_incremental_minhash(
            spark, path, hist.filter(src_num % 2 == parity)
        )
    assert DD.compact_incremental_store(
        spark, path, zone_by={"index": "bucket", "payload": "doc_id"},
        n_files=16,
    ) == 3
    return DD.dedup_incremental_minhash(spark, path, d.filter(src_num >= 15))


# ------------------------------------------------------------------
# Round 11: DSIR — data selection via importance resampling
# ------------------------------------------------------------------

_DSIR_B = 2048   # hashed-bigram feature buckets
_DSIR_K = 200    # sample size (without replacement)


@defquery(
    "dsir_importance_resample",
    rf"""
    WITH base AS (
      SELECT doc_id, source, lang,
             CAST(substr(source, 4, 10) AS INT) < 2 AS tgt,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         w -> w <> '') AS ws
      FROM documents),
    occ AS (
      SELECT doc_id, tgt,
             CAST(('0x' || substr(md5('dsir:' || ws[i] || ' ' || ws[i+1]), 1, 6))
                  AS BIGINT) % {_DSIR_B} AS b
      FROM base, unnest(range(1, greatest(len(ws) - 1, 0) + 1)) u(i)),
    db AS (SELECT doc_id, tgt, b, count(*) AS c FROM occ GROUP BY 1, 2, 3),
    side AS (
      SELECT b,
             SUM(CASE WHEN tgt THEN c ELSE 0 END) AS t,
             SUM(CASE WHEN NOT tgt THEN c ELSE 0 END) AS r
      FROM db GROUP BY b),
    tot AS (SELECT SUM(t) AS tt, SUM(r) AS rr FROM side),
    wts AS (
      SELECT b,
             CAST(round(ln((t + 1.0) / (tt + {_DSIR_B}.0)), 6) AS DECIMAL(18,8))
           - CAST(round(ln((r + 1.0) / (rr + {_DSIR_B}.0)), 6) AS DECIMAL(18,8)) AS lw
      FROM side CROSS JOIN tot),
    scored AS (
      SELECT db.doc_id,
             SUM(CAST(db.c AS DECIMAL(12,0)) * wts.lw) AS score
      FROM db JOIN wts ON db.b = wts.b WHERE NOT db.tgt GROUP BY db.doc_id),
    gum AS (
      SELECT doc_id, score,
             score + CAST(round(-ln(CAST(
               -CAST(round(ln((CAST(('0x' || substr(md5('g:dsir:' ||
                     CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 999983 + 1)
                     / 999984.0), 6) AS DECIMAL(18,8))
               AS DOUBLE)), 6) AS DECIMAL(18,8)) AS key
      FROM scored),
    sel AS (
      SELECT doc_id, score, key,
             row_number() OVER (ORDER BY key DESC, doc_id ASC) AS rank
      FROM gum)
    SELECT d.doc_id, d.source, d.lang,
           round(CAST(s.score AS DOUBLE), 6) AS log_weight,
           round(CAST(s.key AS DOUBLE), 6) AS gumbel_key,
           CAST(s.rank AS INT) AS rank
    FROM sel s JOIN base d USING (doc_id)
    WHERE s.rank <= {_DSIR_K}
    """,
    "DSIR — Data Selection via Importance Resampling (Xie et al. "
    "2023), the published method for picking pretraining data that "
    "matches a small curated target distribution: hashed-bigram "
    f"bag-of-ngrams models ({_DSIR_B} md5 buckets) for the TARGET "
    "(source src0/src1 — the curated proxy) and the RAW pool, "
    "per-bucket add-one-smoothed log-likelihood-ratio weights, each "
    "ln ROUNDED then DECIMAL(18,8) so the per-doc dot product is "
    "exact decimal arithmetic (order-free under partial aggregation "
    "at any cluster size), and Gumbel-top-k selection of "
    f"{_DSIR_K} docs — sampling WITHOUT replacement proportional to "
    "softmax(log weight) with md5-derived washed-ln Gumbel noise, so "
    "the draw is deterministic, partition-invariant, and "
    "oracle-provable. Scale shape: corpus exploded once, ONE "
    "corpus-keyed shuffle (doc x bucket partial agg), the "
    "bucket-bounded weight table broadcast, the top-k a "
    "TakeOrderedAndProject (never a global sort), and the "
    "passthrough join a broadcast of the k winners into the docs "
    "scan. The oracle replays the identical washed arithmetic.",
)
def dsir_importance_resample_q(spark, sf_dir):
    from .operators.sampling import dsir_importance_select

    d = _t(spark, sf_dir, "documents")
    return dsir_importance_select(
        d,
        F.substring("source", 4, 10).cast("int") < 2,
        keep_cols=["source", "lang"],
        k=_DSIR_K,
        buckets=_DSIR_B,
        seed="dsir",
    )


# ------------------------------------------------------------------
# Round 11: span-corruption training examples (T5-style denoising)
# ------------------------------------------------------------------

_SC_BLOCK = 20   # tokens per noise block
_SC_SPAN = 3     # masked span length inside each block (15% density)


@defquery(
    "span_corruption_examples",
    rf"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         w -> w <> '') AS ws
      FROM documents),
    tok AS (
      SELECT doc_id, i - 1 AS i, ws[i] AS tok
      FROM base, unnest(range(1, len(ws) + 1)) u(i)),
    m AS (
      SELECT doc_id, i, tok,
             i // {_SC_BLOCK} AS block, i % {_SC_BLOCK} AS off,
             CAST(('0x' || substr(md5('sc:' || CAST(doc_id AS VARCHAR) || ':' ||
                  CAST(i // {_SC_BLOCK} AS VARCHAR)), 1, 6)) AS BIGINT)
               % ({_SC_BLOCK} - {_SC_SPAN} + 1) AS s
      FROM tok),
    f AS (
      SELECT doc_id, i, tok, block,
             off BETWEEN s AND s + {_SC_SPAN} - 1 AS masked,
             off = s AS is_start
      FROM m),
    inp AS (
      SELECT doc_id, i AS ord,
             CASE WHEN is_start THEN '<extra_id_' || CAST(block AS VARCHAR) || '>'
                  ELSE tok END AS piece
      FROM f WHERE is_start OR NOT masked),
    tgt AS (
      SELECT doc_id, i * 2 AS ord,
             '<extra_id_' || CAST(block AS VARCHAR) || '>' AS piece
      FROM f WHERE is_start
      UNION ALL
      SELECT doc_id, i * 2 + 1, tok FROM f WHERE masked),
    agg AS (
      SELECT doc_id,
             count(*) AS n_tokens,
             SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS n_masked,
             SUM(CASE WHEN is_start THEN 1 ELSE 0 END) AS n_spans
      FROM f GROUP BY doc_id),
    it AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY ord) AS input_text
           FROM inp GROUP BY doc_id),
    tt AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY ord) AS target_text
           FROM tgt GROUP BY doc_id)
    SELECT a.doc_id,
           CAST(a.n_tokens AS BIGINT) AS n_tokens,
           CAST(a.n_spans AS BIGINT) AS n_spans,
           CAST(a.n_masked AS BIGINT) AS n_masked,
           it.input_text,
           coalesce(tt.target_text, '') AS target_text
    FROM agg a JOIN it USING (doc_id) LEFT JOIN tt USING (doc_id)
    """,
    "span-corruption training-example construction (the T5 denoising "
    "objective, Raffel et al. 2020): every consecutive "
    f"{_SC_BLOCK}-token block masks one {_SC_SPAN}-token span (15% "
    "noise density) whose start offset is md5-derived from (doc, "
    "block) — deterministic, partition-invariant, reproducible across "
    "engines, where T5's RNG spans are not. The input keeps unmasked "
    "tokens with one sentinel per span; the target is the sentinel-"
    "delimited masked spans (sentinel ids are block numbers — a "
    "documented deviation from T5's sequential numbering that keeps "
    "the construction relational). Scale shape: ONE posexplode over "
    "the corpus, ONE per-doc shuffle; both example strings rebuild "
    "inside the per-doc aggregate via null-skipping collect_list + "
    "array_sort on unique ordinals (never an order-dependent "
    "collect), so per-task memory is bounded by document length — "
    "the floor for any example-construction op. Zero joins on the "
    "corpus, zero Python, zero windows.",
)
def span_corruption_examples_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda w: w != ""
    )
    tok = d.select("doc_id", F.posexplode(ws).alias("i", "tok"))
    block = (F.col("i") / _SC_BLOCK).cast("int")
    off = F.col("i") % _SC_BLOCK
    s = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("sc:"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        block.cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint")
        % (_SC_BLOCK - _SC_SPAN + 1)
    )
    sentinel = F.concat(F.lit("<extra_id_"), block.cast("string"), F.lit(">"))
    f = tok.select(
        "doc_id",
        "i",
        "tok",
        ((off >= s) & (off <= s + _SC_SPAN - 1)).alias("masked"),
        (off == s).alias("is_start"),
        sentinel.alias("sent"),
    )
    inp_piece = (
        F.when(F.col("is_start"), F.struct(F.col("i").alias("ord"), F.col("sent").alias("piece")))
        .when(~F.col("masked"), F.struct(F.col("i").alias("ord"), F.col("tok").alias("piece")))
    )
    tgt_arr = F.filter(
        F.array(
            F.when(
                F.col("is_start"),
                F.struct((F.col("i") * 2).alias("ord"), F.col("sent").alias("piece")),
            ),
            F.when(
                F.col("masked"),
                F.struct((F.col("i") * 2 + 1).alias("ord"), F.col("tok").alias("piece")),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    joined = lambda col: F.array_join(  # noqa: E731
        F.transform(F.array_sort(col), lambda x: x.piece), " "
    )
    return (
        f.select("doc_id", "masked", "is_start", inp_piece.alias("ip"), tgt_arr.alias("ta"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.col("is_start").cast("int")).cast("bigint").alias("n_spans"),
            F.sum(F.col("masked").cast("int")).cast("bigint").alias("n_masked"),
            joined(F.collect_list("ip")).alias("input_text"),
            joined(F.flatten(F.collect_list("ta"))).alias("target_text"),
        )
        .select(
            "doc_id", "n_tokens", "n_spans", "n_masked", "input_text", "target_text"
        )
    )


# ------------------------------------------------------------------
# Round 11: TWS composite-state gate (MapState + ListState)
# ------------------------------------------------------------------


@defquery(
    "streaming_tws_event_profile",
    """
    WITH per AS (
      SELECT user_id, event_type, count(*) AS n_type
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT user_id, count(*) AS n_total, max(value) AS vmax
      FROM events GROUP BY 1)
    SELECT p.user_id, p.event_type,
           CAST(p.n_type AS BIGINT) AS n_type,
           CAST(t.n_total AS BIGINT) AS n_total,
           CAST(t.vmax AS DOUBLE) AS vmax
    FROM per p JOIN tot t USING (user_id)
    """,
    "transformWithStateInPandas COMPOSITE typed state under the "
    "driver gate: the MapState (event_type -> running count, updated "
    "in place and read back via iterator()) and ListState (per-user "
    "values appended per batch with appendList) handles, which the "
    "value-state TWS gate does not touch, maintained across a THREE "
    "micro-batch drain (event_id-sliced files, RocksDB provider, "
    "vendored-protobuf worker runtime). Emitted statistics are all "
    "monotone (two counters + a max), so the final per-(user, type) "
    "row is the batch-split-invariant update-mode maximum and the "
    "batch per-type/per-user aggregate join is an exact oracle — "
    "streaming/batch parity for the full typed-state API surface. "
    "Degrades to applyInPandasWithState with the map carried as "
    "parallel arrays when no protobuf exists (identical fold, "
    "documented fallback).",
)
def streaming_tws_event_profile_q(spark, sf_dir):
    from .queries_ext import _sink_dir
    from .session import ensure_protobuf
    from .streaming.stateful import event_profile_tws, running_accumulator

    srcdir = _sink_dir("stream_tws_profile_in", sf_dir)
    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    chunks = [e.filter(F.col("event_id") % 3 == k).drop("event_id") for k in range(3)]
    sdf = replay_chunks(spark, srcdir, chunks, "user_id bigint, event_type string, value double")
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    def _fallback():
        # identical fold on applyInPandasWithState: the map rides as
        # parallel arrays (types[], counts[]) + (n_total, vmax)
        def fold(acc, pdf):
            types, counts, n_total, vmax = acc
            d = dict(zip(types, counts))
            for t, n in pdf.groupby("event_type").size().items():
                d[t] = d.get(t, 0) + int(n)
            m = float(pdf["value"].max())
            return (
                list(d.keys()),
                list(d.values()),
                n_total + len(pdf),
                m if vmax is None else max(vmax, m),
            )

        return running_accumulator(
            sdf,
            key_cols=["user_id"],
            fold=fold,
            zero=([], [], 0, None),
            state_schema=(
                "s struct<types:array<string>,counts:array<bigint>,"
                "n_total:bigint,vmax:double>"
            ),
            out_schema=(
                "user_id bigint, event_type string, n_type bigint, "
                "n_total bigint, vmax double"
            ),
            emit=lambda key, acc: [
                {
                    "user_id": key[0],
                    "event_type": t,
                    "n_type": n,
                    "n_total": acc[2],
                    "vmax": acc[3],
                }
                for t, n in zip(acc[0], acc[1])
            ],
        )

    table = "q_tws_event_profile"
    try:
        if ensure_protobuf():
            try:
                run_to_memory_sink(
                    event_profile_tws(sdf.groupBy("user_id")), table,
                    output_mode="update",
                )
            except Exception:
                table = "q_tws_event_profile_fb"
                run_to_memory_sink(_fallback(), table, output_mode="update")
        else:
            table = "q_tws_event_profile_fb"
            run_to_memory_sink(_fallback(), table, output_mode="update")
    finally:
        if prev is not None:
            spark.conf.set(prov_key, prev)
        else:
            spark.conf.unset(prov_key)
    return (
        spark.table(table)
        .groupBy("user_id", "event_type")
        .agg(
            F.max("n_type").alias("n_type"),
            F.max("n_total").alias("n_total"),
            F.max("vmax").alias("vmax"),
        )
    )


# ------------------------------------------------------------------
# Round 11: negative-sampling table (word2vec unigram^0.75 draws)
# ------------------------------------------------------------------

_NS_M = 100_000   # slot-table size (word2vec uses 1e8 at full scale)
_NS_N = 10_000    # number of draws the gate verifies


@defquery(
    "negative_sampling_draws",
    rf"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                w -> w <> '')) AS token
      FROM documents),
    vocab AS (
      SELECT token,
             CAST(round(pow(count(*), 0.75) * 1000000, 0) AS BIGINT) AS iw
      FROM tok GROUP BY token),
    cum AS (
      SELECT token, iw,
             SUM(iw) OVER (ORDER BY token ASC
                           ROWS UNBOUNDED PRECEDING) AS chi
      FROM vocab),
    tot AS (SELECT SUM(iw) AS w FROM vocab),
    ranges AS (
      SELECT token,
             CAST(({_NS_M} * (chi - iw)) // w AS BIGINT) AS s0,
             CAST(({_NS_M} * chi) // w AS BIGINT) AS s1
      FROM cum CROSS JOIN tot),
    slots AS (
      SELECT token, CAST(i AS BIGINT) AS slot
      FROM ranges, unnest(range(s0, s1)) u(i)
      WHERE s1 > s0),
    draws AS (
      SELECT CAST(('0x' || substr(md5('ns:' || CAST(i AS VARCHAR)), 1, 8))
                  AS BIGINT) % {_NS_M} AS slot
      FROM unnest(range(1, {_NS_N} + 1)) u(i)),
    hits AS (
      SELECT s.token, count(*) AS n_drawn
      FROM draws d JOIN slots s ON d.slot = s.slot
      GROUP BY s.token)
    SELECT r.token,
           CAST(r.s1 - r.s0 AS BIGINT) AS n_slots,
           CAST(coalesce(h.n_drawn, 0) AS BIGINT) AS n_drawn
    FROM ranges r LEFT JOIN hits h ON r.token = h.token
    WHERE r.s1 > r.s0
    """,
    "word2vec-style negative-sampling table + verified draws (Mikolov "
    "et al. 2013): per-token weight count^0.75 (ONE pow per DISTINCT "
    "token, rounded then scaled to an exact BIGINT), token slot "
    f"ranges over a {_NS_M}-slot quantized table via integer "
    "cumulative arithmetic (the construction word2vec itself uses — "
    "every boundary is integer division, so the table is bit-"
    f"identical in any engine), and {_NS_N} md5-derived draws "
    "resolved by plain EQUI-join on slot id — the trick that makes "
    "distributed categorical sampling scale: no inverse-CDF range "
    "join (which would be a nested-loop non-equi join), no rejection "
    "loop. Scale shape: corpus tokenized once into a vocab-bounded "
    "aggregate; the slot table is M rows (vocab-bounded explode, "
    "broadcastable); draws are corpus-scale-extensible (key the md5 "
    "by (center, context) pair id for per-pair negatives) and join "
    "by equality. The cumulative window is post-aggregate and "
    "vocab-bounded — the documented swap at extreme vocab sizes is "
    "a two-level segment cumsum, same contract as vocab_coverage_"
    "cutoff.",
)
def negative_sampling_draws_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda w: w != "",
            )
        ).alias("token")
    )
    vocab = tok.groupBy("token").agg(
        F.round(F.pow(F.count(F.lit(1)), 0.75) * 1_000_000, 0)
        .cast("bigint")
        .alias("iw")
    )
    wspec = Window.orderBy(F.col("token").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vocab.select("token", "iw", F.sum("iw").over(wspec).alias("chi"))
    tot = vocab.agg(F.sum("iw").alias("w"))
    ranges = cum.crossJoin(F.broadcast(tot)).select(
        "token",
        F.expr(f"({_NS_M} * (chi - iw)) div w").alias("s0"),
        F.expr(f"({_NS_M} * chi) div w").alias("s1"),
    )
    slots = (
        ranges.filter(F.col("s1") > F.col("s0"))
        .select(
            "token",
            F.explode(F.sequence(F.col("s0"), F.col("s1") - 1)).alias("slot"),
        )
    )
    draws = spark.range(1, _NS_N + 1).select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ns:"), F.col("id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % _NS_M
        ).alias("slot")
    )
    hits = (
        draws.join(F.broadcast(slots), "slot")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_drawn"))
    )
    return (
        ranges.filter(F.col("s1") > F.col("s0"))
        .join(hits, "token", "left")
        .select(
            "token",
            (F.col("s1") - F.col("s0")).cast("bigint").alias("n_slots"),
            F.coalesce(F.col("n_drawn"), F.lit(0)).cast("bigint").alias("n_drawn"),
        )
    )


# ------------------------------------------------------------------
# Round 11: user-level DP release via contribution bounding
# ------------------------------------------------------------------


@defquery(
    "dp_user_level_release",
    r"""
WITH capped AS (
  SELECT user_id, event_type, event_id,
         row_number() OVER (
           PARTITION BY user_id, event_type
           ORDER BY md5('42:cap:' || CAST(user_id AS VARCHAR) || ':' ||
                        event_type || ':' || CAST(event_id AS VARCHAR)) ASC,
                    event_id ASC) AS rn
  FROM events),
kept AS (SELECT * FROM capped WHERE rn <= 3),
gr AS (
  SELECT *, dense_rank() OVER (
           PARTITION BY user_id
           ORDER BY md5('42:grp:' || CAST(user_id AS VARCHAR) || ':' ||
                        event_type) ASC, event_type ASC) AS g
  FROM kept),
cnt AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n
  FROM gr WHERE g <= 2 GROUP BY event_type),
dom AS (SELECT t AS event_type
        FROM (VALUES ('click'), ('error'), ('purchase'),
                     ('signup'), ('view')) v(t)),
j AS (SELECT dom.event_type, COALESCE(cnt.n, 0) AS n
      FROM dom LEFT JOIN cnt USING (event_type)),
r AS (SELECT event_type, n,
             CAST(('0x' || substr(md5('42:user:' || event_type), 1, 8))
                  AS BIGINT) AS h
      FROM j),
t AS (SELECT event_type, n, (2 * h + 1) / 8589934592.0 - 0.5 AS t FROM r)
SELECT event_type,
       CAST(n + CAST(ROUND(-12.0 * SIGN(t) * ROUND(LN(1 - 2 * ABS(t)), 6), 0)
                AS BIGINT) AS BIGINT) AS n_noisy
FROM t
""",
    "USER-level DP release — contribution bounding (Wilson et al. "
    "2020, 'Differentially Private SQL with Bounded User "
    "Contributions'): the row-level DP gates protect one ROW, but a "
    "user with many events is unprotected. Here each user is capped "
    "to 3 rows per event type (md5-ranked — deterministic and "
    "data-independent given the keys) and 2 event types total "
    "(L-inf / L0 bounds), so one user's removal shifts the count "
    "vector by at most L1 = 6, and the seeded-geometric mechanism at "
    "noise scale b = L1/eps = 12 releases per-type counts with "
    "USER-level eps-DP over the public 5-value event-type domain "
    "(every domain key emits a row — membership covered). Capping "
    "windows are user-partitioned (corpus-keyed, never global); the "
    "cap/group/noise md5 streams are disjoint. Scale shape: one "
    "user-keyed shuffle + one group-bounded aggregation tree — a "
    "plain grouped count's cost, plus nothing.",
)
def dp_user_level_release_q(spark, sf_dir):
    from .operators.sampling import dp_user_level_count_release

    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "event_id")
    types = ["click", "error", "purchase", "signup", "view"]
    domain = local_df(spark, [(t,) for t in types], "event_type string")
    return dp_user_level_count_release(
        e,
        "user_id",
        ["event_type"],
        "event_id",
        rows_per_group=3,
        groups_per_user=2,
        epsilon=0.5,
        seed="42",
        domain=domain,
    )


# ------------------------------------------------------------------
# Round 11: observe() metrics + mapInArrow quantization
# ------------------------------------------------------------------


@defquery(
    "observed_quality_metrics",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blank,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(max(length(text)) AS BIGINT) AS max_len
    FROM documents
    """,
    "df.observe() — Spark's zero-extra-scan metric channel: data-"
    "quality counters (row count, blank-text count, char volume, max "
    "doc length) attached as OBSERVED metrics to an "
    "existing pass over the corpus, harvested from the Observation "
    "handle after the action instead of re-scanning. This is the "
    "pipeline-health pattern at 100 TB: the ingest job you already "
    "run carries the counters for free (one scan, metrics ride the "
    "executor->driver heartbeat), where a naive monitor costs a "
    "second full scan. The gate emits the observed values as a "
    "1-row frame; the oracle recomputes them relationally — proving "
    "the side channel agrees with the declarative aggregate.",
)
def observed_quality_metrics_q(spark, sf_dir):
    from pyspark.sql import Observation

    d = _t(spark, sf_dir, "documents")
    obs = Observation("quality")
    observed = d.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.trim(F.col("text")) == "").cast("int")).alias("n_blank"),
        F.sum("n_chars").alias("total_chars"),
        F.max(F.length("text")).alias("max_len"),
    )
    # the action the metrics ride on (any real pipeline action works;
    # count() is the cheapest full pass)
    observed.count()
    m = obs.get
    return local_df(
        spark,
        [
            (
                int(m["n_docs"]),
                int(m["n_blank"]),
                int(m["total_chars"]),
                int(m["max_len"]),
            )
        ],
        "n_docs bigint, n_blank bigint, total_chars bigint, max_len bigint",
    )


@defquery(
    "embedding_quantize_arrow",
    """
    WITH s AS (
      SELECT max(abs(CAST(x AS DOUBLE))) AS m
      FROM (SELECT unnest(embedding) AS x FROM embeddings)),
    q AS (
      SELECT vec_id,
             CAST(floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5) AS BIGINT) AS qi
      FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
      CROSS JOIN s)
    SELECT vec_id,
           CAST(count(*) AS BIGINT) AS n_dims,
           CAST(SUM(qi) AS BIGINT) AS qsum,
           CAST(min(qi) AS BIGINT) AS qmin,
           CAST(max(qi) AS BIGINT) AS qmax
    FROM q GROUP BY vec_id
    """,
    "mapInArrow int8 quantization — the Arrow-native batch API below "
    "even mapInPandas: the list column's values buffer feeds numpy "
    "zero-copy (no pandas Series materialization), one vectorized "
    "quantize per batch, per-vector reduction via reduceat on the "
    "list offsets. q_i = floor(x*127/scale + 0.5) with the global "
    "max-|x| scale frozen by one aggregate (the ann_index_int8 "
    "derivation, exposed as an exact-integer-output op so the whole "
    "Arrow path is oracle-checkable; half-up tie-break is explicit "
    "because numpy half-even and SQL half-away disagree at .5). "
    "Scale shape: one scalar aggregate + one embarrassingly-parallel "
    "Arrow pass — no shuffle after the scalar.",
)
def embedding_quantize_arrow_q(spark, sf_dir):
    from .operators.similarity import quantize_embeddings_arrow

    e = _t(spark, sf_dir, "embeddings")
    scale = e.select(
        F.max(F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))))
    ).collect()[0][0]
    return quantize_embeddings_arrow(e, float(scale))


# ------------------------------------------------------------------
# Round 11: applyInArrow grouped robust statistics
# ------------------------------------------------------------------


@defquery(
    "trimmed_mean_arrow",
    """
    WITH s AS (
      SELECT event_type,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS q
      FROM events),
    r AS (
      SELECT event_type, q,
             row_number() OVER (PARTITION BY event_type ORDER BY q) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM s),
    t AS (
      SELECT event_type, q, n
      FROM r WHERE rn > n // 10 AND rn <= n - n // 10)
    SELECT event_type,
           CAST(min(n) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(SUM(q) AS BIGINT) AS qsum,
           round(CAST(SUM(q) AS DOUBLE) / (1000000.0 * count(*)), 6)
             AS trimmed_mean
    FROM t GROUP BY event_type
    """,
    "applyInArrow — the grouped Arrow-native API (the grouped "
    "counterpart of mapInArrow; no pandas materialization): per "
    "event type, a 10%-each-side TRIMMED MEAN of the value column — "
    "the robust statistic monitoring pipelines prefer over a mean "
    "that one corrupt row can move arbitrarily. Determinism recipe: "
    "values wash to exact micro-int64s via floor(x*1e6+0.5) (half-up "
    "— numpy half-even and SQL half-away disagree at .5), the trim "
    "is RANK-based on the sorted int array (ties carry equal values, "
    "so any stable order yields the same kept multiset), the sum is "
    "exact int64, and ONE final division produces the float. Scale "
    "shape: one group-keyed shuffle; per-group work is a vectorized "
    "numpy sort on the group's Arrow buffer. The documented 100 TB "
    "swap for mega-groups is approx_percentile bounds + a filtered "
    "exact aggregate (no per-group materialization).",
)
def trimmed_mean_arrow_q(spark, sf_dir):
    import numpy as np
    import pyarrow as pa

    def trimmed(table: pa.Table) -> pa.Table:
        et = table.column("event_type")[0].as_py()
        v = np.asarray(table.column("value"), dtype=np.float64)
        q = np.sort(np.floor(v * 1_000_000 + 0.5).astype(np.int64))
        n = len(q)
        k = n // 10
        kept = q[k: n - k]
        qsum = int(kept.sum())
        return pa.table(
            {
                "event_type": pa.array([et]),
                "n_total": pa.array([n], type=pa.int64()),
                "n_kept": pa.array([len(kept)], type=pa.int64()),
                "qsum": pa.array([qsum], type=pa.int64()),
                "trimmed_mean": pa.array(
                    [round(qsum / (1_000_000.0 * len(kept)), 6)]
                ),
            }
        )

    e = _t(spark, sf_dir, "events").select("event_type", "value")
    return e.groupBy("event_type").applyInArrow(
        trimmed,
        schema="event_type string, n_total bigint, n_kept bigint, "
        "qsum bigint, trimmed_mean double",
    )


# ------------------------------------------------------------------
# Round 11: in-context semantic packing (ICLM-style)
# ------------------------------------------------------------------

_ICLM_PLANES = 6      # sign-LSH planes -> 64 semantic buckets
_ICLM_BUDGET = 512    # tokens per packed sequence
_ICLM_SPAN = 128      # sub-bucket span bounding each pack-fold group


@defquery(
    "semantic_packing_iclm",
    rf"""
    WITH RECURSIVE e AS (
      SELECT d.doc_id,
             CAST(len(string_split_regex(trim(d.text), '\s+')) AS INT)
               AS n_tokens,
             em.embedding
      FROM documents d JOIN embeddings em ON em.vec_id = d.doc_id),
    x AS (
      SELECT doc_id, n_tokens, i - 1 AS i,
             CAST(round(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(18,8)) AS v
      FROM e, unnest(range(1, len(embedding) + 1)) u(i)),
    dots AS (
      SELECT doc_id, n_tokens, j,
             SUM(v * ((((i * 37) + (j * 101)) % 19) - 9)) AS dot
      FROM x, unnest(range(0, {_ICLM_PLANES})) jj(j)
      GROUP BY doc_id, n_tokens, j),
    bkt AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(CASE WHEN dot > 0
                       THEN CAST(round(pow(2, j), 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS bucket
      FROM dots GROUP BY doc_id, n_tokens),
    docs AS (
      SELECT bucket, doc_id // {_ICLM_SPAN} AS sub, doc_id, n_tokens,
             row_number() OVER (PARTITION BY bucket, doc_id // {_ICLM_SPAN}
                                ORDER BY doc_id) AS rn
      FROM bkt),
    pack AS (
      SELECT bucket, sub, doc_id, n_tokens, rn,
             CAST(0 AS BIGINT) AS pack_id, n_tokens AS fill
      FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.bucket, d.sub, d.doc_id, d.n_tokens, d.rn,
             CASE WHEN p.fill + d.n_tokens <= {_ICLM_BUDGET}
                  THEN p.pack_id ELSE p.pack_id + 1 END,
             CASE WHEN p.fill + d.n_tokens <= {_ICLM_BUDGET}
                  THEN p.fill + d.n_tokens ELSE d.n_tokens END
      FROM pack p JOIN docs d
        ON d.bucket = p.bucket AND d.sub = p.sub AND d.rn = p.rn + 1)
    SELECT CAST(bucket AS BIGINT) AS bucket, CAST(sub AS BIGINT) AS sub,
           doc_id, n_tokens, pack_id
    FROM pack
    """,
    "in-context semantic packing (the ICLM recipe, Shi et al. 2023 "
    "'In-Context Pretraining'): training sequences pack RELATED "
    "documents together instead of random neighbors, so attention "
    "sees coherent long contexts. Semantic grouping is sign-LSH over "
    f"the doc embedding with {_ICLM_PLANES} INTEGER hyperplanes "
    "derived from a closed-form index formula (((i*37 + j*101) % 19) "
    "- 9) — no float literals to ship, and the dot product is an "
    "exact DECIMAL sum of washed embedding values times integer "
    "weights, so the bucket assignment is bit-identical in any "
    "engine (no libm anywhere). Within a (bucket, id-span) group "
    "docs pack by the same deterministic next-fit fold as "
    "sequence_packing (greedy 512-token budget, doc_id order — the "
    "documented simplification of ICLM's TSP-path ordering). Scale "
    "shape: dot products are per-row JVM expressions (zero explode "
    "on the Spark side), ONE hash partition by (bucket, sub) whose "
    "groups are bounded by the span, one Arrow fold per group. The "
    "oracle replays buckets relationally and the fold as a "
    "recursive CTE.",
)
def semantic_packing_iclm_q(spark, sf_dir):
    import pandas as pd

    from .functions.text import token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    em = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    base = d.join(em, "doc_id")

    def dot_j(j: int):
        prods = F.zip_with(
            F.col("embedding"),
            F.sequence(F.lit(0), F.size("embedding") - 1),
            lambda x, i: (
                F.round(x.cast("double"), 6).cast("decimal(18,8)")
                * (((i * 37) + F.lit(j * 101)) % 19 - 9)
            ).cast("decimal(28,8)"),
        )
        return F.aggregate(
            prods,
            F.lit(0).cast("decimal(28,8)"),
            lambda acc, x: (acc + x).cast("decimal(28,8)"),
        )

    bucket = None
    for j in range(_ICLM_PLANES):
        bit = F.when(dot_j(j) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    keyed = base.select(
        bucket.cast("bigint").alias("bucket"),
        F.expr(f"doc_id div {_ICLM_SPAN}").alias("sub"),
        "doc_id",
        "n_tokens",
    )

    def pack_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids = []
        pack, fill = 0, 0
        for i, t in enumerate(pdf["n_tokens"]):
            if i > 0 and fill + t > _ICLM_BUDGET:
                pack += 1
                fill = 0
            fill += int(t)
            pack_ids.append(pack)
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        return pdf[["bucket", "sub", "doc_id", "n_tokens", "pack_id"]]

    n = keyed.sparkSession.sparkContext.defaultParallelism
    return (
        keyed.repartition(n, "bucket", "sub")
        .groupBy("bucket", "sub")
        .applyInPandas(
            pack_group,
            schema="bucket bigint, sub bigint, doc_id bigint, "
            "n_tokens int, pack_id bigint",
        )
    )
