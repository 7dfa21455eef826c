"""Round-3 coverage extensions: sink round-trips (partitioned parquet /
ORC / CSV), additional window analytics, corpus-statistics operators for
training-data pipelines (repetition, unigram-LM scoring, tf-idf,
dup-rate-by-source), embedding quantization/norm statistics, and a
complete-mode streaming top-k.

Registered into the same ``QUERIES`` dict as queries.py (imported from
there, after the base inventory) so the driver sees one namespace.

Determinism notes follow queries.py's module docstring: decimal-exact
money math, per-row float expressions evaluated left-to-right in both
engines, ``round(x, 6)`` before any cross-engine comparison of
libm-derived values (ln), and unique tie-breaks on every top-k.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from .queries import QUERIES, _t, defquery  # noqa: F401

#: The inventory's sink stores, under a root named for this package's
#: path, so the sweeps of two checkouts never write the same store.
SINK_ROOT = os.path.join(
    tempfile.gettempdir(),
    "libmr_spark_sinks-" + hashlib.sha1(os.path.dirname(os.path.abspath(__file__)).encode()).hexdigest()[:12],
)


def _sink_dir(name: str, sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(SINK_ROOT, name, tag)


def _fresh_sink_dir(name: str, sf_dir: str) -> str:
    """``_sink_dir(name, sf_dir)``, emptied of any earlier run's files."""
    path = _sink_dir(name, sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    return path


# --------------------------------------------------------------------
# Window analytics
# --------------------------------------------------------------------


@defquery(
    "window_percent_rank_cume",
    """
    SELECT o_orderkey,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
    "percent_rank + cume_dist per status partition (deterministic "
    "tie-break on o_orderkey). One exchange: both functions share a "
    "single window sort.",
)
def window_percent_rank_cume_q(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    return o.select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


# --------------------------------------------------------------------
# Sink round-trips: the write path is the operator under test; the
# oracle is the equivalent query over the ORIGINAL table, so a lossy
# sink (dropped rows, mangled types, partition mis-assignment) fails
# the hash compare.
# --------------------------------------------------------------------


@defquery(
    "sink_partitioned_roundtrip",
    """
    SELECT o_orderstatus, count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderstatus
    """,
    "partitioned parquet sink: write orders partitioned by "
    "o_orderstatus (hive-style layout — at 100 TB this is how query "
    "engines get partition pruning), read the directory back, "
    "aggregate. Partition values round-trip through directory names.",
)
def sink_partitioned_roundtrip_q(spark, sf_dir):
    path = _sink_dir("orders_by_status", sf_dir)
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


@defquery(
    "sink_orc_roundtrip",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    "ORC sink + source round-trip (the second columnar format the "
    "engine supports beyond parquet): write lineitem's agg columns to "
    "ORC, read back, aggregate.",
)
def sink_orc_roundtrip_q(spark, sf_dir):
    path = _sink_dir("lineitem_orc", sf_dir)
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus", "l_quantity")
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("qty"),
    )


@defquery(
    "sink_csv_roundtrip",
    """
    SELECT r.r_name, count(*) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    "CSV sink + source round-trip with an explicit read schema (header "
    "on, so the file is self-describing for external tools): nations "
    "per region through two CSV hops.",
)
def sink_csv_roundtrip_q(spark, sf_dir):
    npath = _sink_dir("nation_csv", sf_dir)
    rpath = _sink_dir("region_csv", sf_dir)
    _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey").write.mode(
        "overwrite"
    ).option("header", "true").csv(npath)
    _t(spark, sf_dir, "region").select("r_regionkey", "r_name").write.mode("overwrite").option(
        "header", "true"
    ).csv(rpath)
    n = spark.read.schema("n_nationkey int, n_name string, n_regionkey int").option("header", "true").csv(npath)
    r = spark.read.schema("r_regionkey int, r_name string").option("header", "true").csv(rpath)
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


# --------------------------------------------------------------------
# Corpus statistics for training-data pipelines
# --------------------------------------------------------------------

_TOK_SQL = (
    "tok AS (SELECT doc_id, lang, source, t.term FROM documents, "
    "unnest(string_split(text, ' ')) AS t(term) WHERE t.term <> '')"
)


@defquery(
    "text_repetition_stats",
    f"""
    WITH {_TOK_SQL},
    wc AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           count(*) AS n_distinct,
           round(count(*) / CAST(SUM(c) AS DOUBLE), 6) AS ttr,
           round(max(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_word_frac
    FROM wc GROUP BY doc_id
    """,
    "Gopher-style repetition signals per doc: type-token ratio and "
    "top-word fraction. High top-word fraction / low TTR flags "
    "degenerate repetitive text that slips past length filters. One "
    "explode + two hash aggregates — scales linearly.",
)
def text_repetition_stats_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    wc = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    return wc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.count(F.lit(1)) / F.sum("c").cast("double"), 6).alias("ttr"),
        F.round(F.max("c") / F.sum("c").cast("double"), 6).alias("top_word_frac"),
    )


@defquery(
    "text_unigram_logprob",
    f"""
    WITH {_TOK_SQL},
    freq AS (SELECT term, count(*) AS tf FROM tok GROUP BY term),
    tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n FROM freq)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           round(CAST(AVG(CAST(round(ln(f.tf / tot.n), 6) AS DECIMAL(18,8))) AS DOUBLE), 6) AS avg_logprob
    FROM tok t JOIN freq f ON t.term = f.term CROSS JOIN tot
    GROUP BY t.doc_id
    """,
    "unigram language-model score per doc: mean log-probability of its "
    "words under the corpus unigram distribution — the classic cheap "
    "perplexity proxy for quality filtering. The term-frequency table "
    "broadcasts (vocab ≪ corpus); per-word logs are rounded then "
    "averaged in DECIMAL so both engines agree bit-for-bit.",
)
def text_unigram_logprob_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    total = float(freq.agg(F.sum("tf")).first()[0])
    scored = tok.join(F.broadcast(freq), "term").select(
        "doc_id",
        F.round(F.log(F.col("tf") / F.lit(total)), 6).cast("decimal(18,8)").alias("lp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.round(F.avg("lp").cast("double"), 6).alias("avg_logprob"),
    )


@defquery(
    "tfidf_top_terms",
    f"""
    WITH {_TOK_SQL},
    tf AS (SELECT lang, term, count(*) AS tf FROM tok GROUP BY lang, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    scored AS (
      SELECT tf.lang, tf.term,
             round(tf.tf * ln(nd.n / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN nd),
    ranked AS (
      SELECT lang, term, tfidf,
             row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, term ASC) AS rk
      FROM scored)
    SELECT lang, term, tfidf, CAST(rk AS INT) AS rk FROM ranked WHERE rk <= 5
    """,
    "tf-idf top-5 terms per language: corpus-level tf per lang × "
    "inverse document frequency. df/idf tables are vocabulary-sized "
    "and broadcast; the per-group top-k prunes with WindowGroupLimit.",
)
def tfidf_top_terms_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = float(d.count())
    scored = tf.join(F.broadcast(df), "term").select(
        "lang", "term", F.round(F.col("tf") * F.log(F.lit(n_docs) / F.col("df")), 6).alias("tfidf")
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", "term", "tfidf", F.col("rk").cast("int").alias("rk"))
    )


@defquery(
    "dup_rate_by_source",
    # reuse the exact-shingle pair definition the dedup family pins
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws FROM documents),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
             i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS shingles
      FROM toks),
    ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle FROM sh),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
      HAVING count(*) / (a.sz + b.sz - count(*)) >= 0.6),
    dup_docs AS (SELECT id_a AS doc_id FROM pairs UNION SELECT id_b FROM pairs)
    SELECT d.source,
           count(*) AS n_docs,
           CAST(count(dd.doc_id) AS BIGINT) AS n_dup_docs,
           round(count(dd.doc_id) / CAST(count(*) AS DOUBLE), 6) AS dup_rate
    FROM documents d LEFT JOIN dup_docs dd ON d.doc_id = dd.doc_id
    GROUP BY d.source
    """,
    "near-duplicate rate per source: which corpus slices are "
    "boilerplate farms. Joins the (tiny) dup-pair vertex set back to "
    "the corpus — the pair set comes from the capped inverted-index "
    "path, so the whole query keeps the dedup family's scale shape.",
)
def dup_rate_by_source_q(spark, sf_dir):
    from .operators import dedup as DD

    d = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(d, threshold=0.6)
    dup_docs = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("__dup__", F.lit(1))
    )
    return (
        d.join(F.broadcast(dup_docs), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__dup__").cast("bigint").alias("n_dup_docs"),
            F.round(F.count("__dup__") / F.count(F.lit(1)).cast("double"), 6).alias("dup_rate"),
        )
    )


# --------------------------------------------------------------------
# Embedding-table statistics
# --------------------------------------------------------------------

_DIM_SQL = (
    "dims AS (SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS pos, "
    "unnest(embedding)::DOUBLE AS val FROM embeddings)"
)


@defquery(
    "embedding_quantize_int8",
    f"""
    WITH {_DIM_SQL},
    rng AS (SELECT pos, min(val) AS mn, max(val) AS mx FROM dims GROUP BY pos),
    q AS (
      SELECT d.vec_id,
             CAST(CASE WHEN r.mx = r.mn THEN 0
                  ELSE least(floor((d.val - r.mn) / (r.mx - r.mn) * 255), 255) END AS BIGINT) AS qv
      FROM dims d JOIN rng r ON d.pos = r.pos)
    SELECT vec_id, CAST(SUM(qv) AS BIGINT) AS qsum,
           CAST(MIN(qv) AS BIGINT) AS qmin, CAST(MAX(qv) AS BIGINT) AS qmax
    FROM q GROUP BY vec_id
    """,
    "scalar int8 quantization of the embedding table: per-dimension "
    "min/max (a 64-row table — broadcast), each value floor-mapped to "
    "0..255. The qsum/qmin/qmax checksum pins every quantized cell "
    "without comparing 64-wide arrays. At 100 TB the range table is "
    "one tiny agg + broadcast; quantization is a map-only pass "
    "(integer output = 4× smaller vectors for ANN serving).",
)
def embedding_quantize_int8_q(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    )
    rng = dims.groupBy("pos").agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    qv = (
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(F.least(F.floor((F.col("val") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255), F.lit(255)))
        .cast("bigint")
    )
    q = dims.join(F.broadcast(rng), "pos").select("vec_id", qv.alias("qv"))
    return q.groupBy("vec_id").agg(
        F.sum("qv").cast("bigint").alias("qsum"),
        F.min("qv").cast("bigint").alias("qmin"),
        F.max("qv").cast("bigint").alias("qmax"),
    )


@defquery(
    "embedding_norm_stats",
    """
    SELECT label,
           count(*) AS n,
           round(CAST(AVG(CAST(round(sqrt(list_aggregate(list_transform(embedding,
                x -> x::DOUBLE * x::DOUBLE), 'sum')), 6) AS DECIMAL(18,8))) AS DOUBLE), 6) AS avg_norm,
           CAST(MIN(CAST(round(sqrt(list_aggregate(list_transform(embedding,
                x -> x::DOUBLE * x::DOUBLE), 'sum')), 6) AS DECIMAL(18,8))) AS DOUBLE) AS min_norm,
           CAST(MAX(CAST(round(sqrt(list_aggregate(list_transform(embedding,
                x -> x::DOUBLE * x::DOUBLE), 'sum')), 6) AS DECIMAL(18,8))) AS DOUBLE) AS max_norm
    FROM embeddings GROUP BY label
    """,
    "per-label L2-norm statistics (unnormalized embeddings poison "
    "cosine ANN — this is the sanity gate): per-row norm is a "
    "left-to-right JVM fold, rounded then aggregated in DECIMAL for "
    "cross-engine bit-equality.",
)
def embedding_norm_stats_q(spark, sf_dir):
    from .functions.vector import norm

    e = _t(spark, sf_dir, "embeddings")
    nr = e.select(
        "label", F.round(norm(F.col("embedding")), 6).cast("decimal(18,8)").alias("nrm")
    )
    return nr.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("nrm").cast("double"), 6).alias("avg_norm"),
        F.min("nrm").cast("double").alias("min_norm"),
        F.max("nrm").cast("double").alias("max_norm"),
    )


# --------------------------------------------------------------------
# Streaming: complete-mode global aggregate + top-k
# --------------------------------------------------------------------


@defquery(
    "streaming_topk_event_types",
    """
    SELECT event_type, n FROM (
      SELECT event_type, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, event_type ASC) AS rk
      FROM events GROUP BY event_type) t
    WHERE rk <= 3
    """,
    "REAL streaming complete-mode global aggregate with sort+limit "
    "(only legal in complete mode): running top-3 event types by "
    "count, drained with availableNow — must equal the batch top-3.",
)
def streaming_topk_event_types_q(spark, sf_dir):
    from .sources.readers import events_stream
    from .streaming.windows import run_to_memory_sink

    sdf = (
        events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("event_type").asc())
        .limit(3)
    )
    run_to_memory_sink(sdf, "q_streaming_topk", output_mode="complete")
    return spark.table("q_streaming_topk").select("event_type", "n")


# --------------------------------------------------------------------
# Time-series gap filling (hypertable-style rollup + interpolation)
# --------------------------------------------------------------------


@defquery(
    "events_gap_fill_ffill",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n,
             CAST(AVG(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS avg_v
      FROM events GROUP BY 1, 2),
    bounds AS (SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM hourly GROUP BY 1),
    dom AS (SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr FROM bounds),
    j AS (
      SELECT dom.event_type, dom.hr, coalesce(h.n, 0) AS n,
             round(last_value(h.avg_v IGNORE NULLS) OVER (
               PARTITION BY dom.event_type ORDER BY dom.hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS filled_avg
      FROM dom LEFT JOIN hourly h ON h.event_type = dom.event_type AND h.hr = dom.hr)
    SELECT event_type, CAST(epoch_ms(hr) AS BIGINT) AS hour_ms,
           CAST(n AS BIGINT) AS n, filled_avg
    FROM j
    """,
    "hypertable-style hourly rollup with gap filling + forward fill: "
    "generate the dense hour domain per event_type (sequence explode), "
    "left-join the real hourly aggregate, carry the last non-null "
    "average forward (last_value IGNORE NULLS over an unbounded-"
    "preceding frame). The domain explode is bounded by "
    "types × hours — never by event volume — and the fill is one "
    "window over the (small) dense series.",
)
def events_gap_fill_ffill_q(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("value").cast("decimal(18,4)")).cast("double").alias("avg_v"),
    )
    dom = (
        hourly.groupBy("event_type")
        .agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
        .select(
            "event_type",
            F.explode(F.sequence("mn", "mx", F.expr("interval 1 hour"))).alias("hr"),
        )
    )
    j = dom.join(hourly, ["event_type", "hr"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        F.unix_millis("hr").alias("hour_ms"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        F.round(F.last("avg_v", ignorenulls=True).over(w), 6).alias("filled_avg"),
    )


# --------------------------------------------------------------------
# Streaming: stream-static join
# --------------------------------------------------------------------


@defquery(
    "streaming_stream_static_join",
    """
    WITH pdim AS (
      SELECT user_id, count(*) AS n_purchases FROM events
      WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT e.event_id, e.user_id, coalesce(p.n_purchases, 0) AS n_purchases
    FROM events e LEFT JOIN pdim p ON e.user_id = p.user_id
    WHERE e.event_type = 'click'
    """,
    "REAL stream-static join: the click stream enriched against a "
    "static per-user purchase-count dimension (computed batch-side, "
    "broadcast into every micro-batch — the standard dimension-"
    "enrichment shape; the static side is re-resolved per batch on a "
    "real cluster, giving slowly-changing-dim refresh for free).",
)
def streaming_stream_static_join_q(spark, sf_dir):
    from .sources.readers import events_stream, events_table
    from .streaming.windows import run_to_memory_sink

    pdim = (
        events_table(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    clicks = events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    out = clicks.join(F.broadcast(pdim), "user_id", "left").select(
        "event_id", "user_id", F.coalesce("n_purchases", F.lit(0)).alias("n_purchases")
    )
    run_to_memory_sink(out, "q_streaming_static_join", output_mode="append")
    return spark.table("q_streaming_static_join")


# --------------------------------------------------------------------
# Bucketed co-located join (no shuffle on either fact side)
# --------------------------------------------------------------------


@defquery(
    "bucketed_join_no_shuffle",
    """
    SELECT o_orderstatus, count(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o_orderstatus
    """,
    "bucketed co-located fact-fact join: both tables written bucketed "
    "(+sorted) on the join key, so the sort-merge join reads matching "
    "buckets directly — ZERO exchange on either side (pinned by "
    "test_bucketed_join_plan). At 100 TB this is THE way to make a "
    "recurring fact-fact join cheap: pay the bucketing shuffle once at "
    "ingest, never again per query.",
)
def bucketed_join_no_shuffle_q(spark, sf_dir):
    # Key the bucketed-table names on a fingerprint of the SOURCE parquet
    # (mtime+size), not just the sf-dir basename: the driver regenerates
    # testdata under the same path between rounds, and a surviving
    # metastore/warehouse would otherwise serve stale bucketed copies
    # against a fresh oracle. A new fingerprint -> new table name ->
    # unconditional rebuild; within one round it still builds once.
    def _fp(name):
        st = os.stat(os.path.join(sf_dir, f"{name}.parquet"))
        return f"{st.st_mtime_ns:x}_{st.st_size:x}"[-12:]

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    ob = f"orders_b_{tag}_{_fp('orders')}"
    lb = f"lineitem_b_{tag}_{_fp('lineitem')}"
    if not spark.catalog.tableExists(ob):
        (
            _t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus")
            .write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", _sink_dir(ob, sf_dir))
            .mode("overwrite")
            .saveAsTable(ob)
        )
    if not spark.catalog.tableExists(lb):
        (
            _t(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice")
            .write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", _sink_dir(lb, sf_dir))
            .mode("overwrite")
            .saveAsTable(lb)
        )
    o, li = spark.table(ob), spark.table(lb)
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


# --------------------------------------------------------------------
# Exact percentiles / bivariate statistics
# --------------------------------------------------------------------


@defquery(
    "percentiles_by_type",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.50), 6) AS p50,
           round(quantile_cont(value, 0.75), 6) AS p75,
           round(quantile_cont(value, 0.95), 6) AS p95
    FROM events GROUP BY event_type
    """,
    "exact interpolated percentiles (p25/p50/p75/p95) per event type in "
    "one aggregate pass — Spark's percentile() takes the array of "
    "fractions, so all four come from a single sort per group. The "
    "approximate twin for 100 TB is percentile_approx (see "
    "approx_aggregates); this is the exact gate for it.",
)
def percentiles_by_type_q(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    pct = F.percentile("value", F.lit([0.25, 0.50, 0.75, 0.95]))
    return e.groupBy("event_type").agg(
        F.round(pct[0], 6).alias("p25"),
        F.round(pct[1], 6).alias("p50"),
        F.round(pct[2], 6).alias("p75"),
        F.round(pct[3], 6).alias("p95"),
    )


@defquery(
    "stats_corr_covar",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
           round(stddev_samp(l_quantity), 6) AS sd_q
    FROM lineitem GROUP BY l_returnflag
    """,
    "bivariate statistics per return flag: Pearson correlation, sample "
    "covariance, stddev — single-pass streaming moments in both "
    "engines, rounded before compare (summation order differs across "
    "engines at the 1e-12 level).",
)
def stats_corr_covar_q(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qp"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_q"),
    )


# --------------------------------------------------------------------
# MapType: JSON props → map explode → per-key statistics
# --------------------------------------------------------------------


@defquery(
    "props_map_stats",
    """
    WITH kv AS (
      SELECT event_type, unnest(json_keys(props)) AS key,
             CAST(json_extract(props, '$.' || unnest(json_keys(props))) AS BIGINT) AS v
      FROM events)
    SELECT event_type, key, count(*) AS n,
           CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
           CAST(min(v) AS BIGINT) AS vmin, CAST(max(v) AS BIGINT) AS vmax
    FROM kv GROUP BY event_type, key
    """,
    "JSON → MapType explode: parse the props JSON into map<string,"
    "bigint>, explode to (key, value) rows, aggregate per (event_type, "
    "key) — schema-free ingestion of semi-structured payloads without "
    "a fixed from_json struct. Generic over any key set the driver "
    "generates.",
)
def props_map_stats_q(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    kv = e.select(
        "event_type",
        F.explode(F.from_json(F.col("props"), "map<string,bigint>")).alias("key", "v"),
    )
    return kv.groupBy("event_type", "key").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("v").cast("bigint").alias("n_distinct"),
        F.min("v").cast("bigint").alias("vmin"),
        F.max("v").cast("bigint").alias("vmax"),
    )


# --------------------------------------------------------------------
# Streaming: foreachBatch sink
# --------------------------------------------------------------------


@defquery(
    "streaming_foreach_batch_sink",
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    "REAL foreachBatch sink: the escape hatch for sinks Structured "
    "Streaming lacks natively (JDBC upserts, multi-table writes) — "
    "each micro-batch DataFrame is written by arbitrary batch code "
    "(here: parquet append), then the materialized output is "
    "aggregated and must equal the batch count.",
)
def streaming_foreach_batch_sink_q(spark, sf_dir):
    from .sources.readers import events_stream
    from .streaming.windows import drain

    path = _fresh_sink_dir("foreach_batch_out", sf_dir)

    def write_batch(bdf, batch_id):
        bdf.write.mode("append").parquet(path)

    drain(events_stream(spark, sf_dir).select("event_id", "event_type"), write_batch)
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------
# Iterative graph scoring.  Power iteration with a FIXED round count is
# deterministic arithmetic, so it DOES have a SQL oracle: the 20 rounds
# unroll into 20 chained CTEs (AS MATERIALIZED — multi-referenced CTEs
# must not inline or the plan tree doubles per round) whose per-row
# expressions replay the Spark operator's IEEE op order exactly
# ((1.0-d)/n literal arithmetic, coalesce(inflow,0)+dm/n, round-late to
# 8).  Double SUM ordering differs between engines but power iteration
# is contractive, so drift stays at machine epsilon — far below the
# 1e-8 rounding grid.  A dense-matrix numpy pin remains in pytest.
# --------------------------------------------------------------------


def _pagerank_oracle_sql(iterations: int = 20, damping: float = 0.85, threshold: float = 0.6) -> str:
    from .queries import _SHINGLE_SQL

    head = _SHINGLE_SQL + f""",
ex AS MATERIALIZED (
  SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle FROM sh),
pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) / (any_value(a.sz) + any_value(b.sz) - count(*)) >= {threshold}),
edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
deg AS MATERIALIZED (SELECT u, count(*) AS deg FROM edges GROUP BY u),
ed AS MATERIALIZED (SELECT e.u, e.v, d.deg FROM edges e JOIN deg d ON e.u = d.u),
nodes AS MATERIALIZED (SELECT doc_id AS u FROM documents),
nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
dang AS MATERIALIZED (
  SELECT n.u FROM nodes n LEFT JOIN deg d ON n.u = d.u WHERE d.u IS NULL),
r0 AS MATERIALIZED (SELECT u, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)"""
    rounds = []
    for i in range(1, iterations + 1):
        rounds.append(f""",
r{i} AS MATERIALIZED (
  SELECT n.u,
         (1.0 - {damping}) / nn.n
           + {damping} * (COALESCE(inf.inflow, 0.0) + dm.dm / nn.n) AS rank
  FROM nodes n
  CROSS JOIN nn
  LEFT JOIN (SELECT ed.v AS u, SUM(r.rank / ed.deg) AS inflow
             FROM ed JOIN r{i - 1} r ON ed.u = r.u GROUP BY ed.v) inf ON n.u = inf.u
  CROSS JOIN (SELECT COALESCE(SUM(r.rank), 0.0) AS dm
              FROM r{i - 1} r JOIN dang ON r.u = dang.u) dm)""")
    tail = (
        f"\nSELECT r.u AS doc_id, round(r.rank, 8) AS rank FROM r{iterations} r"
    )
    return head + "".join(rounds) + tail


@defquery(
    "pagerank_dup_graph",
    _pagerank_oracle_sql(),
    "PageRank over the near-duplicate pair graph: ranks the template/"
    "hub documents that many near-copies orbit (canonical-survivor "
    "selection). Edge-list power iteration with per-round lineage "
    "truncation — the second iterative operator beside connected "
    "components. Oracle: the fixed 20-round loop unrolled into 20 "
    "materialized DuckDB CTEs replaying the same IEEE op order "
    "(round-late to 8 absorbs sum-order drift); a dense-matrix numpy "
    "pin stays in pytest.",
)
def pagerank_dup_graph_q(spark, sf_dir):
    from .operators import dedup as DD
    from .operators.graph import pagerank

    d = _t(spark, sf_dir, "documents")
    pairs = DD.ngram_jaccard_pairs(d, threshold=0.6).select("id_a", "id_b")
    return pagerank(pairs, d.select("doc_id"), iterations=20)


# --------------------------------------------------------------------
# Native session windows (batch form of the streaming operator)
# --------------------------------------------------------------------


@defquery(
    "session_window_stats",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                       OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
    sess AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM ordered)
    SELECT user_id, CAST(epoch_ms(min(ts)) AS BIGINT) AS session_start_ms,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    "native session_window (30-min gap) emitting one row per session "
    "(start + event count) — Spark merges sessions incrementally in "
    "the aggregate (no per-event sort); the oracle rebuilds the same "
    "islands with lag + running sum. The session-PER-ROW shape "
    "complements sessionize_events' per-user rollup.",
)
def session_window_stats_q(spark, sf_dir):
    from .streaming.windows import session_window_agg

    e = _t(spark, sf_dir, "events")
    win = session_window_agg(e, "ts", "30 minutes", ["user_id"], [F.count(F.lit(1)).alias("n_events")])
    return win.select(
        "user_id",
        F.unix_millis(F.col("win.start")).alias("session_start_ms"),
        "n_events",
    )


# --------------------------------------------------------------------
# Stratified deterministic sampling
# --------------------------------------------------------------------


@defquery(
    "sample_stratified_per_source",
    """
    SELECT source, doc_id FROM (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
      FROM documents) t
    WHERE rk <= 5
    """,
    "deterministic stratified sampling: exactly k=5 docs per source, "
    "chosen by content-hash order — partition/AQE/run invariant like "
    "the rest of the sampling family, and balanced across strata "
    "where a global hash sample would follow stratum sizes. "
    "WindowGroupLimit prunes to k per stratum before the sort.",
)
def sample_stratified_per_source_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        d.select("source", "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("source", "doc_id")
    )


@defquery(
    "window_first_last_nth",
    """
    SELECT o_orderkey,
           first_value(o_orderkey) OVER w AS first_key,
           last_value(o_orderkey) OVER w AS last_key,
           nth_value(o_orderkey, 2) OVER w AS second_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    "first_value / last_value / nth_value over an unbounded frame "
    "(cheapest/priciest/runner-up order per status attached to every "
    "row) — completes the window-function surface.",
)
def window_first_last_nth_q(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w).alias("last_key"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_key"),
    )


# --------------------------------------------------------------------
# Embedding PCA (rows-only: eigendecomposition has no SQL oracle;
# pinned against numpy in test_pca_matches_numpy)
# --------------------------------------------------------------------


@defquery(
    "embedding_pca_project",
    None,
    "distributed PCA of the embedding table: per-partition Gram/sum "
    "partials (one dim×dim matmul per Arrow batch) reduced on the "
    "driver (dim² doubles — tiny), eigendecomposition there, then a "
    "broadcast projection matmul maps every vector to the top-4 "
    "principal components. The classic two-pass big-data PCA: nothing "
    "driver-side scales with rows. Rows-only; exactness (vs numpy on "
    "the collected table, up to component sign) is pinned in pytest. "
    "Emits scalar p1..p4 double columns (rounded, sign-canonical) — "
    "NOT the internal array<double> — so any result harness can sort/"
    "canonicalize rows without special array handling.",
)
def embedding_pca_project_q(spark, sf_dir):
    from .operators.similarity import pca_project

    e = _t(spark, sf_dir, "embeddings")
    k = 4
    proj = pca_project(e, k=k)
    return proj.select(
        "vec_id",
        *[F.col("pc_scores")[i].alias(f"p{i + 1}") for i in range(k)],
    )


# --------------------------------------------------------------------
# Pipeline-ops utilities: upsert compaction + skew diagnostics
# --------------------------------------------------------------------


@defquery(
    "events_latest_per_user",
    """
    SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS last_ts_ms,
           event_type AS last_event_type, value AS last_value
    FROM (
      SELECT user_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
      FROM events) t
    WHERE rk = 1
    """,
    "CDC/upsert compaction: latest record per key by (ts, event_id) — "
    "the merge-on-read collapse every changelog pipeline needs. "
    "max_by over a struct gives one hash aggregate (no window sort); "
    "deterministic via the event_id tiebreak.",
)
def events_latest_per_user_q(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    latest = F.max(F.struct("ts", "event_id", "event_type", "value")).alias("m")
    return (
        e.groupBy("user_id")
        .agg(latest)
        .select(
            "user_id",
            F.unix_millis(F.col("m.ts")).alias("last_ts_ms"),
            F.col("m.event_type").alias("last_event_type"),
            F.col("m.value").alias("last_value"),
        )
    )


@defquery(
    "key_skew_profile",
    """
    WITH f AS (SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY o_custkey),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t, count(*) AS n_keys FROM f)
    SELECT key, n, round(n / tot.t, 6) AS share,
           CAST(tot.n_keys AS BIGINT) AS n_keys_total
    FROM f CROSS JOIN tot
    ORDER BY n DESC, key ASC LIMIT 10
    """,
    "join-key skew diagnostic: top-10 heaviest keys with their share of "
    "total rows — the pre-flight check that decides whether a join "
    "needs salting/AQE skew handling. One aggregate + a broadcast "
    "1-row total; top-k never global-sorts.",
)
def key_skew_profile_q(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    f = o.groupBy(F.col("o_custkey").alias("key")).agg(F.count(F.lit(1)).alias("n"))
    tot = f.agg(
        F.sum("n").cast("double").alias("t"), F.count(F.lit(1)).cast("bigint").alias("n_keys_total")
    )
    return (
        f.crossJoin(F.broadcast(tot))
        .select("key", "n", F.round(F.col("n") / F.col("t"), 6).alias("share"), "n_keys_total")
        .orderBy(F.col("n").desc(), F.col("key").asc())
        .limit(10)
    )


# --------------------------------------------------------------------
# Relational surface completions: full outer join, bag-semantics set
# ops, ordered string aggregation
# --------------------------------------------------------------------


@defquery(
    "full_outer_nation_activity",
    """
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
    s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT coalesce(c.nk, s.nk) AS nationkey,
           CAST(coalesce(c.n_cust, 0) AS BIGINT) AS n_cust,
           CAST(coalesce(s.n_supp, 0) AS BIGINT) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
    "FULL OUTER join of two aggregates (customer vs supplier presence "
    "per nation): both null-extension directions in one plan — "
    "completes the outer-join surface beyond the existing left outer.",
)
def full_outer_nation_activity_q(spark, sf_dir):
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, "nk", "full_outer").select(
        F.col("nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).cast("bigint").alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).cast("bigint").alias("n_supp"),
    )


@defquery(
    "setop_all_variants",
    """
    WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
    b AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'union_all' AS op, CAST(count(*) AS BIGINT) AS n FROM (SELECT k FROM a UNION ALL SELECT k FROM b) t
    UNION ALL
    SELECT 'intersect_all', CAST(count(*) AS BIGINT) FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) t
    UNION ALL
    SELECT 'except_all', CAST(count(*) AS BIGINT) FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) t
    """,
    "bag-semantics set operations (UNION ALL / INTERSECT ALL / EXCEPT "
    "ALL preserve multiplicities) — the distinct-variant twin is "
    "setop_union_intersect_except.",
)
def setop_all_variants_q(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(F.col("o_custkey").alias("k"))

    def cnt(name, df):
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
            F.lit(name).alias("op"), "n"
        )

    return (
        cnt("union_all", a.unionAll(b))
        .unionByName(cnt("intersect_all", a.intersectAll(b)))
        .unionByName(cnt("except_all", a.exceptAll(b)))
    )


@defquery(
    "string_agg_by_group",
    """
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name ASC) AS nations
    FROM nation GROUP BY n_regionkey
    """,
    "ordered string aggregation (listagg/string_agg): nation names per "
    "region, comma-joined in sorted order — deterministic under any "
    "partitioning because the ordering is explicit.",
)
def string_agg_by_group_q(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@defquery(
    "multimodal_phash_dedup",
    """
    SELECT substr(sha256(text), 1, 16) AS phash,
           count(*) AS n,
           CAST(min(doc_id) AS BIGINT) AS survivor
    FROM documents WHERE doc_id % 3 = 0
    GROUP BY 1
    """,
    "perceptual-hash image dedup: decode (Arrow-batched mapInPandas) → "
    "group by phash → smallest-id survivor per group. In fake-decode "
    "mode the phash is sha256(payload)[:16], which the oracle "
    "reproduces byte-for-byte; with PIL installed the same pipeline "
    "computes a real 8x8 average-hash (then the exact-group step "
    "becomes a hamming-banded pair join — see simhash_pairs for the "
    "banding machinery the real path reuses).",
)
def multimodal_phash_dedup_q(spark, sf_dir):
    from .operators.multimodal import attach_fake_media, decode_images

    d = _t(spark, sf_dir, "documents")
    imgs = decode_images(attach_fake_media(d))
    return imgs.groupBy("phash").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("media_id").cast("bigint").alias("survivor"),
    )


@defquery(
    "null_safe_join_priority",
    """
    WITH a AS (SELECT NULLIF(o_orderpriority, '1-URGENT') AS k, count(*) AS n
               FROM orders GROUP BY 1),
    b AS (SELECT DISTINCT NULLIF(o_orderpriority, '1-URGENT') AS k,
                 coalesce(NULLIF(o_orderpriority, '1-URGENT'), 'URGENT-CLASS') AS label
          FROM orders)
    SELECT b.label, CAST(a.n AS BIGINT) AS n
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    "null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "match NULL keys instead of vanishing — the semantics every "
    "changelog/SCD merge needs when business keys are nullable.",
)
def null_safe_join_priority_q(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    k = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    a = o.select(k.alias("k")).groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    b = (
        o.select(k.alias("k"))
        .distinct()
        .select("k", F.coalesce("k", F.lit("URGENT-CLASS")).alias("label"))
    )
    return a.join(b, a.k.eqNullSafe(b.k)).select("label", F.col("n").cast("bigint").alias("n"))


@defquery(
    "json_roundtrip_struct",
    """
    SELECT CAST(json_extract(j, '$.u') AS BIGINT) AS user_id,
           CAST(json_extract(j, '$.n') AS BIGINT) AS n
    FROM (
      SELECT to_json({u: user_id, n: count(*)}) AS j
      FROM events GROUP BY user_id)
    """,
    "struct -> to_json -> parse-back round-trip: the serialization "
    "path used whenever results feed a message bus; proves the JSON "
    "writer/parser pair is lossless for typed payloads.",
)
def json_roundtrip_struct_q(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    j = agg.select(F.to_json(F.struct("user_id", F.col("n"))).alias("j"))
    parsed = j.select(F.from_json("j", "user_id bigint, n bigint").alias("s"))
    return parsed.select(F.col("s.user_id").alias("user_id"), F.col("s.n").alias("n"))


@defquery(
    "try_cast_error_safe",
    """
    SELECT
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(count(TRY_CAST(substr(props, 7, 2) AS BIGINT)) AS BIGINT) AS n_parsed,
      CAST(SUM(coalesce(TRY_CAST(substr(props, 7, 2) AS BIGINT), 0)) AS BIGINT) AS parsed_sum
    FROM events
    """,
    "error-safe casting under ANSI mode: try_cast turns malformed "
    "values into NULL instead of failing the job — the difference "
    "between one bad record poisoning a 100 TB pass and a countable "
    "quality signal. Parses a fixed-width slice of the props JSON: "
    "two-digit values parse, one-digit rows hit the closing brace and "
    "become NULL — a genuine mixed success/failure corpus.",
)
def try_cast_error_safe_q(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    v = F.substring("props", 7, 2).try_cast("bigint")
    parsed = e.select(v.alias("v"))
    return parsed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("v").cast("bigint").alias("n_parsed"),
        F.sum(F.coalesce("v", F.lit(0))).cast("bigint").alias("parsed_sum"),
    )


@defquery(
    "secondary_sort_deltas",
    """
    WITH d AS (
      SELECT user_id,
             value - lag(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS delta
      FROM events)
    SELECT user_id,
           CAST(count(delta) AS BIGINT) AS n_deltas,
           CAST(SUM(CAST(round(abs(delta), 6) AS DECIMAL(18,6))) AS DOUBLE) AS total_abs_delta
    FROM d GROUP BY user_id
    """,
    "secondary-sort pattern: repartition by key + sortWithinPartitions "
    "by (key, ts) + one ordered Arrow pass per partition — the "
    "MapReduce-era 'ordered state machine per key' without paying two "
    "window shuffles. Computes per-user consecutive |value| deltas; "
    "the oracle rebuilds them with lag(). At 100 TB this shape is how "
    "ordered per-key logic (compaction, run-length, state replay) "
    "avoids the window operator's extra sort when the partitioner "
    "already groups the key.",
)
def secondary_sort_deltas_q(spark, sf_dir):
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    arranged = e.repartition("user_id").sortWithinPartitions("user_id", "ts", "event_id")

    # Mirror the oracle's arithmetic exactly: round(abs(delta), 6) is SQL
    # half-up on the binary double (Decimal(float) is the exact value, vs
    # Python round()'s banker's rounding), and the SUM over DECIMAL(18,6)
    # is an exact decimal sum — and yields NULL for an all-NULL group
    # (single-event users), so emit None when n_deltas == 0.
    q6 = Decimal("0.000001")

    def per_partition(batches):
        prev_user, prev_val = None, None
        acc: dict[int, list] = {}
        for pdf in batches:
            for u, v in zip(pdf["user_id"], pdf["value"]):
                if u == prev_user:
                    st = acc.setdefault(int(u), [0, Decimal(0)])
                    st[0] += 1
                    st[1] += Decimal(abs(v - prev_val)).quantize(q6, rounding=ROUND_HALF_UP)
                else:
                    acc.setdefault(int(u), [0, Decimal(0)])
                prev_user, prev_val = u, v
        if acc:
            yield pd.DataFrame(
                [
                    {
                        "user_id": u,
                        "n_deltas": n,
                        "total_abs_delta": float(t) if n else None,
                    }
                    for u, (n, t) in acc.items()
                ]
            )

    return arranged.mapInPandas(
        per_partition, schema="user_id bigint, n_deltas bigint, total_abs_delta double"
    )


# --------------------------------------------------------------------
# Search / LM-construction operators
# --------------------------------------------------------------------


@defquery(
    "inverted_index_sample",
    f"""
    WITH {_TOK_SQL},
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    top AS (SELECT term, df FROM df ORDER BY df DESC, term ASC LIMIT 20),
    post AS (SELECT t.term, t.doc_id FROM tok t JOIN top ON t.term = top.term GROUP BY t.term, t.doc_id)
    SELECT p.term, CAST(any_value(top.df) AS BIGINT) AS df,
           string_agg(CAST(p.doc_id AS VARCHAR), ',' ORDER BY p.doc_id ASC) AS postings
    FROM post p JOIN top ON p.term = top.term
    GROUP BY p.term
    """,
    "inverted-index construction (the search-engine core): posting "
    "list per term, shown for the 20 highest-df terms. The full index "
    "at 100 TB is the same two aggregates with the postings kept as "
    "arrays per (term-shard); string form here only for the oracle.",
)
def inverted_index_sample_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "").distinct()
    dfreq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    top = dfreq.orderBy(F.col("df").desc(), F.col("term").asc()).limit(20)
    return (
        tok.join(F.broadcast(top), "term")
        .groupBy("term")
        .agg(
            F.max("df").cast("bigint").alias("df"),
            F.array_join(F.array_sort(F.collect_list(F.col("doc_id"))), ",").alias("postings"),
        )
    )


@defquery(
    "bigram_lm_top",
    """
    WITH toks AS (
      SELECT list_filter(string_split(text, ' '), w -> w <> '') AS ws FROM documents),
    big AS (
      SELECT unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                    i -> {w1: ws[i], w2: ws[i+1]})) AS p
      FROM toks),
    cnt AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n FROM big GROUP BY 1, 2),
    uni AS (SELECT w1, SUM(n) AS n1 FROM cnt GROUP BY w1)
    SELECT c.w1 AS w1, c.w2 AS w2, CAST(c.n AS BIGINT) AS n,
           round(c.n / CAST(u.n1 AS DOUBLE), 6) AS cond_p
    FROM cnt c JOIN uni u ON c.w1 = u.w1
    ORDER BY n DESC, w1 ASC, w2 ASC LIMIT 50
    """,
    "bigram language-model construction: adjacent-token pairs via one "
    "ordered zip per document (no self-join in the Spark plan — the "
    "oracle's positional join is the relational spelling of the same "
    "zip), conditional probability P(w2|w1), top-50. The n-gram LM "
    "table is the classic map-side-heavy corpus job.",
)
def bigram_lm_top_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    pairs = d.select(
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    cnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    uni = cnt.groupBy("w1").agg(F.sum("n").alias("n1"))
    return (
        cnt.join(uni, "w1")
        .select(
            "w1", "w2", F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("n1").cast("double"), 6).alias("cond_p"),
        )
        .orderBy(F.col("n").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(50)
    )


@defquery(
    "union_schema_evolution",
    """
    SELECT doc_id, lang, source FROM documents WHERE doc_id < 100
    UNION ALL
    SELECT doc_id, lang, NULL AS source FROM documents WHERE doc_id >= 400
    """,
    "schema-evolution union (unionByName allowMissingColumns=True): an "
    "old batch lacking a column unions with the current schema, "
    "null-filling the gap — how pipelines merge data written before a "
    "schema change without rewriting history.",
)
def union_schema_evolution_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    new_batch = d.filter(F.col("doc_id") < 100).select("doc_id", "lang", "source")
    old_batch = d.filter(F.col("doc_id") >= 400).select("doc_id", "lang")  # pre-'source' schema
    return new_batch.unionByName(old_batch, allowMissingColumns=True)


@defquery(
    "rolling_zscore_events",
    """
    WITH s AS (
      SELECT event_id, event_type, value,
             avg(value) OVER w AS mu,
             stddev_samp(value) OVER w AS sd,
             count(*) OVER w AS n
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING))
    SELECT event_id, event_type, round((value - mu) / sd, 6) AS z
    FROM s WHERE n >= 30 AND sd > 0 AND abs((value - mu) / sd) > 3.0
    """,
    "rolling anomaly detection: z-score of each event against the "
    "TRAILING 100 events of its type (never its own value — the "
    "1-PRECEDING frame end keeps the test honest), flagged at |z|>3 "
    "with a 30-observation warm-up. The streaming-friendly cousin of "
    "the global zscore_outlier_events. PRECONDITION (same class as "
    "revenue_share_window): the window partitions on event_type, a "
    "LOW-cardinality key — each type's whole history sorts in ONE "
    "task, so at 100 TB a handful of types means a handful of "
    "straggler partitions. The production swap is a time-chunked "
    "carry: window within (event_type, time-bucket) and carry the "
    "trailing-100 row summary across bucket boundaries (chunked "
    "prefix-scan) — or stream it, where "
    "streaming/stateful.py's per-key state IS that carry.",
)
def rolling_zscore_events_q(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-100, -1)
    )
    mu, sd, n = F.avg("value").over(w), F.stddev_samp("value").over(w), F.count(F.lit(1)).over(w)
    z = (F.col("value") - mu) / sd
    return (
        e.select("event_id", "event_type", "value", mu.alias("mu"), sd.alias("sd"), n.alias("n"), z.alias("zr"))
        .filter((F.col("n") >= 30) & (F.col("sd") > 0) & (F.abs("zr") > 3.0))
        .select("event_id", "event_type", F.round("zr", 6).alias("z"))
    )


@defquery(
    "common_event_paths",
    """
    WITH seq AS (
      SELECT user_id, list(event_type ORDER BY ts ASC, event_id ASC) AS path FROM events GROUP BY user_id),
    tri AS (
      SELECT unnest(list_transform(range(1, greatest(len(path) - 2, 0) + 1),
                    i -> concat_ws('>', path[i], path[i+1], path[i+2]))) AS p3
      FROM seq)
    SELECT p3, count(*) AS n FROM tri GROUP BY p3
    ORDER BY n DESC, p3 ASC LIMIT 10
    """,
    "path analysis: top-10 most common 3-event sequences across user "
    "timelines — ordered collect per user (bounded by per-user event "
    "count), sliding-triple explode, one count. The product-analytics "
    "staple that needs ordered arrays, not joins.",
)
def common_event_paths_q(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    seq = (
        e.groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ).alias("path")
        )
    )
    # Guard short timelines: sequence(1, 0) in Spark is the DESCENDING
    # array [1, 0], so an unguarded explode would call element_at(path, 0)
    # (always an error) for any user with < 3 events. Emit an empty array
    # instead, matching the oracle's empty range(1, ...+1).
    tri = seq.select(
        F.explode(
            F.when(
                F.size("path") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("path") - 2),
                    lambda i: F.concat_ws(
                        ">",
                        F.element_at("path", i),
                        F.element_at("path", i + 1),
                        F.element_at("path", i + 2),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("p3")
    )
    return (
        tri.groupBy("p3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("p3").asc())
        .limit(10)
    )


@defquery(
    "fk_integrity_check",
    """
    SELECT 'lineitem->orders' AS fk,
           CAST(count(*) AS BIGINT) AS n_child,
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders->customer',
           CAST(count(*) AS BIGINT),
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders o2 LEFT JOIN customer c ON o2.o_custkey = c.c_custkey
    """,
    "referential-integrity audit: orphan counts per foreign-key edge "
    "via left-join null probes — the ingest-time data-quality gate. "
    "Parent key sets broadcast when small; at 100 TB the same probes "
    "ride the existing join partitioning.",
)
def fk_integrity_check_q(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")

    def probe(name, child, ckey, parent, pkey):
        j = child.join(parent, child[ckey] == parent[pkey], "left")
        return j.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_child"),
            F.sum(F.when(parent[pkey].isNull(), 1).otherwise(0)).cast("bigint").alias("n_orphans"),
        ).select(F.lit(name).alias("fk"), "n_child", "n_orphans")

    return probe("lineitem->orders", li, "l_orderkey", o, "o_orderkey").unionByName(
        probe("orders->customer", o, "o_custkey", c, "c_custkey")
    )


@defquery(
    "revenue_share_window",
    """
    SELECT o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           round(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 / SUM(SUM(CAST(o_totalprice AS DECIMAL(18,2)))) OVER (), 6) AS share
    FROM orders GROUP BY o_orderstatus
    """,
    "ratio-to-report: each group's share of the grand total via an "
    "empty-frame window over the aggregate — one extra single-row "
    "exchange instead of a self-join against the total. PRECONDITION: "
    "the unpartitioned window runs over POST-AGGREGATE rows bounded by "
    "group cardinality (3 order statuses), never the fact table — "
    "scale-safe because the window input is O(|groups|), not O(rows).",
)
def revenue_share_window_q(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_d")
    )
    w = Window.partitionBy()
    return agg.select(
        "o_orderstatus",
        F.col("rev_d").cast("double").alias("revenue"),
        F.round(F.col("rev_d") / F.sum("rev_d").over(w), 6).alias("share"),
    )


@defquery(
    "dense_rank_ties",
    """
    SELECT l_quantity,
           CAST(count(*) AS BIGINT) AS n,
           CAST(rank() OVER (ORDER BY count(*) DESC, l_quantity ASC) AS BIGINT) AS rk,
           CAST(dense_rank() OVER (ORDER BY count(*) DESC) AS BIGINT) AS drk
    FROM lineitem GROUP BY l_quantity
    """,
    "rank vs dense_rank over tied counts: rank leaves gaps after ties, "
    "dense_rank doesn't — both in one window sort. dense_rank orders "
    "by count alone so tied groups genuinely collide. PRECONDITION: "
    "the unpartitioned windows run over POST-AGGREGATE rows bounded by "
    "group cardinality (~50 distinct quantities), never the fact table "
    "— scale-safe because the window input is O(|groups|), not O(rows).",
)
def dense_rank_ties_q(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_quantity").agg(F.count(F.lit(1)).alias("n"))
    w1 = Window.orderBy(F.col("n").desc(), F.col("l_quantity").asc())
    w2 = Window.orderBy(F.col("n").desc())
    return agg.select(
        "l_quantity",
        F.col("n").cast("bigint").alias("n"),
        F.rank().over(w1).cast("bigint").alias("rk"),
        F.dense_rank().over(w2).cast("bigint").alias("drk"),
    )


@defquery(
    "histogram2d_hour_value",
    """
    SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
           CAST(floor(value / 25) AS BIGINT) AS value_bucket,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
    "2-D histogram (hour-of-day × value bucket): the heatmap aggregate "
    "— integer binning on both axes, one hash aggregate, cardinality "
    "bounded by bucket grid not data.",
)
def histogram2d_hour_value_q(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.hour("ts").cast("bigint").alias("hour_of_day"),
            F.floor(F.col("value") / 25).cast("bigint").alias("value_bucket"),
        )
        .groupBy("hour_of_day", "value_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------
# §7.2a post-freeze queue (round 5): training-data batch construction
# --------------------------------------------------------------------

_PACK_BUDGET = 512  # tokens per packed sequence
# Packing-group span: docs fold greedily within (source, doc_id div
# SPAN), so no pandas group ever holds more than SPAN rows regardless
# of source cardinality — parallelism grows with data, not with
# |sources|.  Packs never straddle buckets (same contract a production
# corpus uses with (source, date-bucket) partitions); pack quality loss
# is at most one underfilled pack per SPAN docs.
_PACK_BUCKET_SPAN = 128


@defquery(
    "sequence_packing",
    f"""
    WITH RECURSIVE docs AS (
        SELECT source, doc_id // {_PACK_BUCKET_SPAN} AS bucket, doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens,
               row_number() OVER (PARTITION BY source, doc_id // {_PACK_BUCKET_SPAN}
                                  ORDER BY doc_id) AS rn
        FROM documents
    ),
    pack AS (
        SELECT source, bucket, doc_id, n_tokens, rn,
               CAST(0 AS BIGINT) AS pack_id, n_tokens AS fill
        FROM docs WHERE rn = 1
        UNION ALL
        SELECT d.source, d.bucket, d.doc_id, d.n_tokens, d.rn,
               CASE WHEN p.fill + d.n_tokens <= {_PACK_BUDGET}
                    THEN p.pack_id ELSE p.pack_id + 1 END,
               CASE WHEN p.fill + d.n_tokens <= {_PACK_BUDGET}
                    THEN p.fill + d.n_tokens ELSE d.n_tokens END
        FROM pack p JOIN docs d
          ON d.source = p.source AND d.bucket = p.bucket AND d.rn = p.rn + 1
    )
    SELECT source, CAST(bucket AS BIGINT) AS bucket, doc_id, n_tokens, pack_id
    FROM pack
    """,
    "sequence packing for LLM pretraining batches: greedy next-fit of "
    "documents into 512-token-budget packs, deterministic (docs taken "
    "in doc_id order; a doc longer than the budget gets its own pack). "
    "The sequential fold is INHERENTLY per-stream, so it runs as one "
    "applyInPandas fold per (source, doc_id div 128) COMPOSITE group — "
    "the bucket term bounds every pandas group at 128 rows and makes "
    "group count grow with data rather than with source cardinality "
    "(the production (source, date-bucket) contract; packs never "
    "straddle buckets, costing at most one underfilled pack per "
    "bucket). pack_id is scoped per group. The oracle is the same fold "
    "as a recursive CTE — one doc per (source, bucket) per iteration.",
)
def sequence_packing_q(spark, sf_dir):
    import pandas as pd

    from .functions.text import token_count

    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.expr(f"doc_id div {_PACK_BUCKET_SPAN}").alias("bucket"),
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
    )

    def pack_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids = []
        pack, fill = 0, 0
        for i, t in enumerate(pdf["n_tokens"]):
            if i > 0 and fill + t > _PACK_BUDGET:
                pack += 1
                fill = 0
            fill += int(t)
            pack_ids.append(pack)
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        return pdf[["source", "bucket", "doc_id", "n_tokens", "pack_id"]]

    # numbered repartition on the key: AQE's byte-based coalescing
    # would funnel the whole corpus into one Python task otherwise
    # (same pathology measured on events_minmax_norm, queries.py)
    n = d.sparkSession.sparkContext.defaultParallelism
    return (
        d.repartition(n, "source", "bucket")
        .groupBy("source", "bucket")
        .applyInPandas(
            pack_group,
            schema="source string, bucket bigint, doc_id bigint, n_tokens int, pack_id bigint",
        )
    )


@defquery(
    "length_bucketed_batching",
    """
    WITH toks AS (
        SELECT source, doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens
        FROM documents
    ),
    bucketed AS (
        SELECT source, doc_id, n_tokens,
               CAST(floor(n_tokens / 16) AS BIGINT) AS bucket
        FROM toks
    ),
    batched AS (
        SELECT source, bucket, n_tokens,
               CAST(floor((row_number() OVER (PARTITION BY source, bucket ORDER BY doc_id) - 1) / 8) AS BIGINT) AS batch_idx
        FROM bucketed
    )
    SELECT source, bucket, batch_idx,
           count(*) AS n_docs,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           1.0 - CAST(sum(n_tokens) AS DOUBLE) / (count(*) * max(n_tokens)) AS pad_frac
    FROM batched GROUP BY source, bucket, batch_idx
    """,
    "length-bucketed batching: docs binned into 16-token-wide length "
    "buckets, then fixed-size batches of 8 within each (source, "
    "bucket) in deterministic doc_id order; emits per-batch padding "
    "waste (1 - sum/(n*max) — the metric bucketing exists to drive "
    "down). Pure JVM window + hash aggregate, zero UDFs. The window "
    "partitions on (source, bucket) — cardinality grows with the "
    "corpus' source fan-out, so no single-partition straggler at "
    "100 TB (contrast the global-window anti-pattern plan_lint "
    "rejects); integer-width buckets avoid float-boundary drift "
    "between engines.",
)
def length_bucketed_batching_q(spark, sf_dir):
    from .functions.text import token_count

    d = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    b = d.withColumn("bucket", F.floor(F.col("n_tokens") / 16).cast("bigint"))
    w = Window.partitionBy("source", "bucket").orderBy("doc_id")
    bt = b.withColumn(
        "batch_idx",
        F.floor((F.row_number().over(w) - 1) / 8).cast("bigint"),
    )
    return bt.groupBy("source", "bucket", "batch_idx").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        (
            F.lit(1.0)
            - F.sum("n_tokens").cast("double")
            / (F.count(F.lit(1)) * F.max("n_tokens"))
        ).alias("pad_frac"),
    )


@defquery(
    "vocab_coverage_cutoff",
    """
    WITH tok AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        FROM documents
    ),
    counts AS (
        SELECT token, count(*) AS n FROM tok GROUP BY token HAVING count(*) >= 5
    ),
    ranked AS (
        SELECT token, n,
               coalesce(sum(n) OVER (ORDER BY n DESC, token ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
               sum(n) OVER () AS total
        FROM counts
    )
    SELECT token, CAST(n AS BIGINT) AS n,
           round(CAST(cum_before + n AS DOUBLE) / total, 6) AS cum_frac
    FROM ranked WHERE cum_before < 0.9 * total
    """,
    "tokenizer-vocabulary build: tokens with count >= 5 (min-frequency "
    "floor), then the smallest descending-frequency prefix covering "
    "90% of the retained token mass (coverage cutoff — the standard "
    "two-knob vocab recipe). The cumulative window runs over "
    "POST-AGGREGATE vocab rows, bounded by distinct-token count, not "
    "corpus size (the same precondition class as revenue_share_window; "
    "a 100 TB corpus still has a vocab that fits one partition — "
    "heaps law, and the min-freq floor trims the long tail first). "
    "Extends wordcount_top100 from fixed top-k to mass coverage.",
)
def vocab_coverage_cutoff_q(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )
    w_cum = (
        Window.orderBy(F.col("n").desc(), F.col("token").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy()
    ranked = counts.select(
        "token",
        F.col("n").cast("bigint").alias("n"),
        F.coalesce(F.sum("n").over(w_cum), F.lit(0)).alias("cum_before"),
        F.sum("n").over(w_all).alias("total"),
    )
    return ranked.filter(F.col("cum_before") < 0.9 * F.col("total")).select(
        "token",
        "n",
        F.round((F.col("cum_before") + F.col("n")).cast("double") / F.col("total"), 6).alias("cum_frac"),
    )


@defquery(
    "sample_k_per_group",
    """
    SELECT doc_id, source FROM documents
    QUALIFY row_number() OVER (
        PARTITION BY source
        ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
    ) <= 10
    """,
    "exactly-min(10, |group|) docs per source, deterministically: "
    "content-hash rank within group (md5 total order, doc_id "
    "tie-break) — reservoir sampling's use case without reservoir "
    "state, so membership survives re-runs, repartitioning, and AQE. "
    "Window partitions on source (cardinality grows with corpus "
    "fan-out); Spark's WindowGroupLimit pushes the rank filter into "
    "a per-partition top-k instead of sorting whole groups. "
    "Complements the global sample_fixed_100.",
)
def sample_k_per_group_q(spark, sf_dir):
    from .operators.sampling import sample_k_per_group

    d = _t(spark, sf_dir, "documents")
    return sample_k_per_group(d, 10, "doc_id", ["source"]).select("doc_id", "source")


# --------------------------------------------------------------------
# Round 7: tokenizer-aware sequence packing
# --------------------------------------------------------------------

#: Subword cost of one BPE-ish pre-token: a trained BPE merges ~4
#: characters per subword on natural text, so ceil(len/4) per token-run
#: — integer arithmetic only ((len+3) div 4), identical in both engines.
_SUBWORD_CHARS = 4


@defquery(
    "sequence_packing_subword",
    f"""
    WITH RECURSIVE docs AS (
        SELECT source, doc_id // {_PACK_BUCKET_SPAN} AS bucket, doc_id,
               CAST(coalesce(list_sum(list_transform(
                   regexp_extract_all(trim(text), '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+', 0),
                   t -> (len(t) + 3) // {_SUBWORD_CHARS})), 0) AS INT) AS n_tokens,
               row_number() OVER (PARTITION BY source, doc_id // {_PACK_BUCKET_SPAN}
                                  ORDER BY doc_id) AS rn
        FROM documents
    ),
    pack AS (
        SELECT source, bucket, doc_id, n_tokens, rn,
               CAST(0 AS BIGINT) AS pack_id, n_tokens AS fill
        FROM docs WHERE rn = 1
        UNION ALL
        SELECT d.source, d.bucket, d.doc_id, d.n_tokens, d.rn,
               CASE WHEN p.fill + d.n_tokens <= {_PACK_BUDGET}
                    THEN p.pack_id ELSE p.pack_id + 1 END,
               CASE WHEN p.fill + d.n_tokens <= {_PACK_BUDGET}
                    THEN p.fill + d.n_tokens ELSE d.n_tokens END
        FROM pack p JOIN docs d
          ON d.source = p.source AND d.bucket = p.bucket AND d.rn = p.rn + 1
    )
    SELECT source, CAST(bucket AS BIGINT) AS bucket, doc_id, n_tokens, pack_id
    FROM pack
    """,
    "TOKENIZER-AWARE sequence packing: the same greedy next-fit fold "
    "as sequence_packing, but budgeted on estimated SUBWORD counts — "
    "BPE-ish pre-tokens (letter/digit/symbol runs, the split GPT-style "
    "tokenizers apply before merges) at ceil(len/4) subwords per run — "
    "instead of whitespace words. Whitespace counts under-bill long "
    "words, URLs and punctuation runs, so whitespace-packed batches "
    "overflow the real context window after tokenization; subword "
    "budgeting is what packing looks like against training reality. "
    "Pure integer arithmetic ((len+3) div 4 per pre-token, summed by a "
    "JVM fold), same composite (source, doc_id div 128) group key "
    "bounding every pandas fold group at 128 rows; oracle replays the "
    "identical greedy fold over the identical subword counts as a "
    "recursive CTE. Swapping the estimate for exact counts from a "
    "merges table is a join on the pre-token — the plan shape is "
    "unchanged.",
)
def sequence_packing_subword_q(spark, sf_dir):
    import pandas as pd

    from .functions.text import bpe_ish_tokens

    toks = bpe_ish_tokens(F.col("text"))
    n_sub = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc
        + F.floor((F.length(t) + 3) / _SUBWORD_CHARS).cast("int"),
    )
    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.expr(f"doc_id div {_PACK_BUCKET_SPAN}").alias("bucket"),
        "doc_id",
        n_sub.alias("n_tokens"),
    )

    def pack_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids = []
        pack, fill = 0, 0
        for i, t in enumerate(pdf["n_tokens"]):
            if i > 0 and fill + t > _PACK_BUDGET:
                pack += 1
                fill = 0
            fill += int(t)
            pack_ids.append(pack)
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        return pdf[["source", "bucket", "doc_id", "n_tokens", "pack_id"]]

    n = d.sparkSession.sparkContext.defaultParallelism
    return (
        d.repartition(n, "source", "bucket")
        .groupBy("source", "bucket")
        .applyInPandas(
            pack_group,
            schema="source string, bucket bigint, doc_id bigint, n_tokens int, pack_id bigint",
        )
    )
