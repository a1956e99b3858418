"""Query registry: every implemented operator from SURVEY.md section 2 (plus the
north-star training-data operators) as a (spark_fn, oracle_sql) pair.

The spark_fn takes (spark, sf_dir) and returns a DataFrame; the oracle
is ANSI SQL DuckDB runs on the same parquet tables.  Column names and
rounding are aligned on both sides because the driver compares by
order-insensitive value hash over name-sorted columns.

Float discipline:
- additive aggregates go through per-row DECIMAL casts (exact, order-
  insensitive) and back to DOUBLE;
- derived doubles (ratios, cosines, sentiment) are round()ed to 4
  digits on both sides after identical operation orders.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.sentiment import (
    ALPHA,
    LEXICON,
    NEG_THRESHOLD,
    POS_THRESHOLD,
    label_from_score,
    score_relational,
)
from .functions.text import normalize_sql, normalize_text
from .functions.timeops import ts_to_iso
from .operators import (
    clustering,
    dedup,
    graph,
    packing,
    relational,
    sampling,
    similarity,
    textstats,
    trees,
    windows,
)
from .sources.tables import load
from .storage.manifest import run_concurrent

SparkQuery = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, SparkQuery] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} — a later decorator "
                "would silently shadow the earlier one (every registered name "
                "must be unique so the oracle gate tests what it claims to)"
            )
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def dec_sum(col, scale: int = 2):
    """Exact, order-insensitive SUM: per-row decimal cast, decimal sum,
    double result.  Matches DuckDB SUM(CAST(x AS DECIMAL)) bit-for-bit.
    Accepts a column name or a Column expression."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def _dec_sum_sql(expr: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


# ---------------------------------------------------------------------------
# O31-flavored flagship aggregation (TPC-H Q1 shape): scan -> pushdown
# filter -> 2-key groupBy with partial aggregation.
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dec_sum_sql('l_quantity')} AS sum_qty,
           {_dec_sum_sql('l_extendedprice')} AS sum_base_price,
           {_dec_sum_sql('l_extendedprice * (1 - l_discount)', 6)} AS sum_disc_price,
           COUNT(*) AS count_order,
           ROUND({_dec_sum_sql('l_quantity')} / COUNT(*), 4) AS avg_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn(
            "avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 4)
        )
    )


# O11-O14: projection + rename (+ pushed filter).
@register(
    "project_rename",
    """
    SELECT c_custkey AS custkey, c_name AS name, c_mktsegment AS segment,
           c_acctbal AS balance
    FROM customer WHERE c_acctbal > 0
    """,
)
def project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    return relational.project_rename(
        c,
        {
            "c_custkey": "custkey",
            "c_name": "name",
            "c_mktsegment": "segment",
            "c_acctbal": "balance",
        },
    )


# O15: multi-column full-text OR predicate (ES multi_match analogue).
@register(
    "filter_contains",
    """
    SELECT doc_id, lang, source
    FROM documents
    WHERE lower(text) LIKE '%spark%' OR lower(text) LIKE '%stream%'
    """,
)
def filter_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pred = F.lower(F.col("text")).contains("spark") | F.lower(F.col("text")).contains(
        "stream"
    )
    return docs.filter(pred).select("doc_id", "lang", "source")


# O19+O20: concat + the reference's full normalization chain.
@register(
    "normalize_text",
    f"""
    SELECT doc_id, {normalize_sql("concat_ws(' ', source, text)")} AS clean_text
    FROM documents
    """,
)
def normalize_text_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        normalize_text(F.concat_ws(" ", "source", "text")).alias("clean_text"),
    )


# O18: timestamp -> ISO-8601+'Z' display encode.
@register(
    "ts_iso_encode",
    """
    SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_iso
    FROM events WHERE event_type = 'click'
    """,
)
def ts_iso_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    return ev.select("event_id", ts_to_iso("ts").alias("ts_iso"))


# O22: JSON decode with explicit schema.
@register(
    "json_extract",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
    FROM events
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.from_json("props", "k int").getField("k").alias("k_val")
    )


# O28: schema-aligned bag union (posts ∪ comments shape).
@register(
    "union_schema_aligned",
    """
    SELECT o_orderkey AS id, o_orderdate AS created, 'order' AS src, o_totalprice AS val
    FROM orders
    UNION ALL
    SELECT l_orderkey AS id, l_shipdate AS created, 'line' AS src, l_extendedprice AS val
    FROM lineitem
    """,
)
def union_schema_aligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderdate").alias("created"),
        F.lit("order").alias("src"),
        F.col("o_totalprice").alias("val"),
    )
    l = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("id"),
        F.col("l_shipdate").alias("created"),
        F.lit("line").alias("src"),
        F.col("l_extendedprice").alias("val"),
    )
    return relational.schema_aligned_union(o, l, ["id", "created", "src", "val"])


# O25/O26: global sort + limit (TakeOrderedAndProject plan).
@register(
    "sort_limit",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return relational.sort_limit(
        o.select("o_orderkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        100,
    )


# O30: FK equi-join + aggregation (comments⋈posts shape).
@register(
    "fk_join_agg",
    f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {_dec_sum_sql('l.l_extendedprice')} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def fk_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    joined = relational.fk_join(li, o, "l_orderkey", "o_orderkey", "inner")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dec_sum("l_extendedprice").alias("revenue"),
    )


# Anti join: parents with no children (orphan orders).
@register(
    "anti_join_orphans",
    """
    SELECT o_orderkey, o_totalprice FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
)
def anti_join_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_anti").select(
        "o_orderkey", "o_totalprice"
    )


# Star-schema join with broadcast dims (additive; O30 at scale).
@register(
    "star_join_broadcast",
    f"""
    SELECT r.r_name, n.n_name,
           COUNT(*) AS n_orders,
           {_dec_sum_sql('o.o_totalprice')} AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def star_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice").alias("total_price"),
    )


# O33: per-group top-k via rank window.
@register(
    "topk_per_group",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rk FROM (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_suppkey
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             ) AS rk
      FROM lineitem
    ) WHERE rk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "rk")
    )


# O31 relational form: document-frequency + idf (TfidfVectorizer core).
@register(
    "doc_frequency",
    """
    WITH tok AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS term
      FROM documents
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT term, COUNT(*) AS df,
           ROUND(ln((1.0 + (SELECT n_docs FROM n)) / (1.0 + COUNT(*))) + 1.0, 4) AS idf
    FROM tok
    GROUP BY term
    HAVING COUNT(*) >= 2 AND COUNT(*) <= CAST(0.95 * (SELECT n_docs FROM n) AS BIGINT)
    """,
)
def doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return textstats.doc_frequency(docs, "doc_id", "text", min_df=2, max_df_frac=0.95)


_SEARCH_KEYWORDS = ["join", "spark", "stream", "window"]


# O15 upgraded: relevance-RANKED full-text search (the ES multi_match
# capability redditProcessor.py:67-75 actually uses — scored, not boolean).
@register(
    "ranked_search",
    f"""
    WITH n AS (SELECT COUNT(*) AS _n FROM documents),
    hits AS (
      SELECT doc_id, lower(term) AS term FROM (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
                 AS term
        FROM documents
      ) WHERE lower(term) IN ({', '.join("'" + w + "'" for w in sorted(_SEARCH_KEYWORDS))})
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM hits GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY term),
    scored AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_hits,
             ROUND(SUM(tf * (ln((1.0 + _n) / (1.0 + df)) + 1.0)), 4) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
      GROUP BY doc_id
    )
    SELECT doc_id, n_hits, score FROM scored ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def ranked_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return textstats.ranked_keyword_search(
        docs, "doc_id", "text", _SEARCH_KEYWORDS, k=20
    )


# BM25 (k1=1.2, b=0.75, Lucene idf) — the scoring curve ES multi_match
# actually applies; term-frequency saturation + document-length
# normalization on top of ranked_search's plan shape.
@register(
    "ranked_search_bm25",
    f"""
    WITH lens AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
               AS dl
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS _n, AVG(dl) AS _avgdl FROM lens),
    hits AS (
      SELECT doc_id, lower(term) AS term FROM (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
                 AS term
        FROM documents
      ) WHERE lower(term) IN ({', '.join("'" + w + "'" for w in sorted(_SEARCH_KEYWORDS))})
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM hits GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY term),
    scored AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_hits,
             ROUND(SUM(
               ln(1.0 + (_n - df + 0.5) / (df + 0.5))
               * (tf * (1.2 + 1.0))
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / _avgdl))
             ), 4) AS score
      FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
    )
    SELECT doc_id, n_hits, score FROM scored ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def ranked_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return textstats.ranked_keyword_search_bm25(
        docs, "doc_id", "text", _SEARCH_KEYWORDS, k=20
    )


# Per-field BOOSTED BM25 (ES multi_match `fields: ["title^2", "body"]`,
# most_fields combination) — the standard ES relevance knob one flag
# beyond the reference's unboosted two-field multi_match
# (redditProcessor.py:67-75).  Field split is positional (title = first
# 8 tokens) so both engines replay it exactly; each field is its own
# BM25 universe (field-local tf/df/dl/avgdl, the Lucene per-field
# statistics model), document score = 2.0*title + 1.0*body, rounded once.
def _fielded_oracle_sql(live_where: str = "TRUE") -> str:
    """The fielded-BM25 replay parameterized by a LIVE-set predicate —
    serves both the corpus-scan registration and the persistent-
    search-index fielded-serving lifecycles (a fielded store holding
    live corpus L must answer exactly like the scan ranker over L)."""
    kw_in = ", ".join("'" + w + "'" for w in sorted(_SEARCH_KEYWORDS))

    def field_ctes(p: str, arr: str) -> str:
        return f"""
    {p}lens AS (SELECT doc_id, len({arr}) AS dl FROM fields),
    {p}stats AS (SELECT COUNT(*) AS _n, AVG(dl) AS _avgdl FROM {p}lens),
    {p}hits AS (
      SELECT doc_id, lower(term) AS term FROM (
        SELECT doc_id, unnest({arr}) AS term FROM fields
      ) WHERE lower(term) IN ({kw_in})
    ),
    {p}tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM {p}hits
              GROUP BY doc_id, term),
    {p}dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM {p}hits
                 GROUP BY term),
    {p}scored AS (
      SELECT doc_id, SUM(tf) AS n_hits,
             SUM(
               ln(1.0 + (_n - df + 0.5) / (df + 0.5))
               * (tf * (1.2 + 1.0))
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / _avgdl))
             ) AS s
      FROM {p}tf JOIN {p}dfreq USING (term) JOIN {p}lens USING (doc_id)
      CROSS JOIN {p}stats
      GROUP BY doc_id
    )"""

    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
               AS ts
      FROM documents WHERE {live_where}
    ),
    fields AS (
      SELECT doc_id,
             list_slice(ts, 1, 8) AS title,
             list_slice(ts, 9, len(ts)) AS body
      FROM toks
    ),{field_ctes("t", "title")},{field_ctes("b", "body")}
    SELECT doc_id,
           CAST(COALESCE(t.n_hits, 0) + COALESCE(b.n_hits, 0) AS BIGINT)
             AS n_hits,
           ROUND(2.0 * COALESCE(t.s, 0.0) + 1.0 * COALESCE(b.s, 0.0), 4)
             AS score
    FROM tscored t FULL JOIN bscored b USING (doc_id)
    ORDER BY score DESC, doc_id LIMIT 20
    """


@register("ranked_search_fielded", _fielded_oracle_sql())
def ranked_search_fielded(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return textstats.ranked_keyword_search_fielded(
        docs, "doc_id", "text", _SEARCH_KEYWORDS, k=20
    )


def _bm25_live_oracle_sql(live_where: str = "TRUE", k: int = 20) -> str:
    """The ranked_search_bm25 replay parameterized by a LIVE-set
    predicate — the oracle for every persistent-search-index query:
    a store holding live corpus L must answer exactly like the
    corpus-scan BM25 ranker over L."""
    kw_in = ", ".join("'" + w + "'" for w in sorted(_SEARCH_KEYWORDS))
    return f"""
    WITH live AS (SELECT doc_id, text FROM documents WHERE {live_where}),
    lens AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
               AS dl
      FROM live
    ),
    stats AS (SELECT COUNT(*) AS _n, AVG(dl) AS _avgdl FROM lens),
    hits AS (
      SELECT doc_id, lower(term) AS term FROM (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
                 AS term
        FROM live
      ) WHERE lower(term) IN ({kw_in})
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM hits GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY term),
    scored AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_hits,
             ROUND(SUM(
               ln(1.0 + (_n - df + 0.5) / (df + 0.5))
               * (tf * (1.2 + 1.0))
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / _avgdl))
             ), 4) AS score
      FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
    )
    SELECT doc_id, n_hits, score FROM scored ORDER BY score DESC, doc_id LIMIT {k}
    """


# Persistent incremental search index (operators/search_index.py) — the
# reference's actual serving shape: ES maintains an inverted index that
# documents enter once at ingest (addReddit.py:63-64) and queries never
# re-read the corpus (redditProcessor.py:67-75).  Store on the shared
# generation-manifest protocol; the oracle for every lifecycle is the
# corpus-scan BM25 replay over the LIVE set — the store must answer
# byte-identically to re-ranking the corpus it holds.
@register("search_index_serve", _bm25_live_oracle_sql())
def search_index_serve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build on 3/4 of the corpus, APPEND the last quarter (the
    continuous-ingest path), query — build(A) + append(B) must serve
    exactly like a scan of A ∪ B.  The postings scan prunes on disk to
    the keywords' term buckets; N/avgdl come from the additive stats
    log, never a corpus scan."""
    import tempfile

    from .operators import search_index as si

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/searchidx"
        si.search_index_build(docs.filter("doc_id % 4 != 3"), idx).collect()
        si.search_index_append(spark, docs.filter("doc_id % 4 = 3"), idx)
        out = si.search_index_query(spark, idx, _SEARCH_KEYWORDS, k=20)
        return out.localCheckpoint(eager=True)


@register(
    "search_index_serving_under_deletes",
    _bm25_live_oracle_sql("doc_id % 7 <> 3"),
)
def search_index_serving_under_deletes_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Serving correctness under tombstones: delete a wave of documents
    and query WITHOUT compacting — the tombstoned docs must vanish
    from results, stop contributing df, AND stop counting toward
    N/avgdl (the delete verb subtracts their stats delta), so the
    store answers exactly like a scan of the surviving corpus."""
    import tempfile

    from .operators import search_index as si

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/searchidx"
        si.search_index_build(docs, idx).collect()
        dels = [
            int(r["doc_id"])
            for r in docs.filter("doc_id % 7 = 3").select("doc_id").collect()
        ]
        si.search_index_delete(spark, idx, dels).collect()
        out = si.search_index_query(spark, idx, _SEARCH_KEYWORDS, k=20)
        return out.localCheckpoint(eager=True)


@register("search_index_maintain", _bm25_live_oracle_sql("doc_id % 7 <> 3"))
def search_index_maintain_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scheduled search-index maintenance — the scheduler verb derives
    its compaction signals from the store (tombstone ratio here) and
    triggers compact + GC itself.  In-query hard gates: the maintain
    compacted for the dead_ratio reason, fsck is fully green after
    (stats exact, coverage whole), and an immediate second call no-ops
    (scheduler idempotence).  Output = the query over the maintained
    store; oracle = the live-corpus BM25 replay (maintenance must not
    move results)."""
    import tempfile

    from .operators import search_index as si

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/searchidx"
        si.search_index_build(docs, idx).collect()
        dels = [
            int(r["doc_id"])
            for r in docs.filter("doc_id % 7 = 3").select("doc_id").collect()
        ]
        si.search_index_delete(spark, idx, dels).collect()
        rec = si.search_index_maintain(
            spark, idx, max_dead_ratio=0.001
        ).collect()[0]
        if rec["action"] != "compacted" or "dead_ratio" not in rec["reason"]:
            raise AssertionError(f"maintain receipt wrong: {rec}")
        fs = si.search_index_fsck(spark, idx).collect()[0]
        if not all(
            fs[c]
            for c in (
                "postings_covered", "tokens_covered", "doclens_unique",
                "postings_unique", "tb_ok", "norms_match", "terms_covered",
                "stats_match",
            )
        ):
            raise AssertionError(f"fsck red after maintain: {fs}")
        rec2 = si.search_index_maintain(
            spark, idx, max_dead_ratio=0.001
        ).collect()[0]
        if rec2["action"] != "noop" or rec2["n_dead"] != 0:
            raise AssertionError(f"maintain not idempotent: {rec2}")
        out = si.search_index_query(spark, idx, _SEARCH_KEYWORDS, k=20)
        return out.localCheckpoint(eager=True)


def _search_epochs_oracle_sql() -> str:
    """Per-epoch replay for the streaming search-index twin: after
    epoch e the live corpus is doc_id % 4 IN (0..e), and the top-10
    must equal the corpus-scan ranker over exactly that set."""
    legs = []
    for e in (1, 2, 3):
        inner = _bm25_live_oracle_sql(f"doc_id % 4 <= {e}", k=10)
        legs.append(
            f"SELECT CAST({e} AS INT) AS epoch, doc_id, n_hits, score "
            f"FROM ({inner})"
        )
    return "\nUNION ALL\n".join(legs)


@register("streaming_search_index", _search_epochs_oracle_sql())
def streaming_search_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ES continuous-indexing loop as a STREAM: the index is built
    on a quarter of the corpus; three document micro-batches (epochs
    1/2/3 = the other mod-4 classes) arrive in order; each batch is
    APPENDED and the top-10 for the standing keywords is served and
    recorded — so the result set grows/reranks as the corpus does,
    exactly like the reference's harvest → index → search pipeline.
    The oracle unrolls the three epochs with the live set threaded
    through, so a lost append, a stale stats delta, or a wrong df
    flips the hash.  Micro-batch order is pinned by distinct
    source-file mtimes; the epoch key derives from batch CONTENT,
    never batch_id."""
    import os
    import shutil
    import tempfile
    import time as _time
    import uuid

    from .operators import search_index as si

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/searchidx"
        si.search_index_build(docs.filter("doc_id % 4 = 0"), idx).collect()
        src = f"{tmp}/batches"
        os.makedirs(src)
        t0 = _time.time() - 600
        for e in (1, 2, 3):
            stage = f"{tmp}/stage_{e}"
            (
                docs.filter(f"doc_id % 4 = {e}")
                .select("doc_id", "text", F.lit(e).cast("int").alias("epoch"))
                .coalesce(1)
                .write.parquet(stage)
            )
            part = next(
                f for f in os.listdir(stage)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            dst = f"{src}/epoch_{e}.parquet"
            shutil.move(f"{stage}/{part}", dst)
            os.utime(dst, (t0 + 60 * e, t0 + 60 * e))
        out_dir = f"{tmp}/results"

        def ingest_batch(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            e = int(batch_df.agg(F.max("epoch")).first()[0])
            batch_docs = batch_df.select("doc_id", "text")
            try:
                si.search_index_append(spark, batch_docs, idx)
            except si.DuplicateIdsError:
                # a redelivered batch EITHER was fully applied before
                # the crash OR is torn (doclens half only — the
                # documented crash window raises the same typed
                # error).  maintain distinguishes them: it heals a
                # torn store via compact (freeing the ids) and no-ops
                # on a whole one — so retry once, and only a second
                # DuplicateIdsError means genuinely already-applied.
                rec = si.search_index_maintain(spark, idx).collect()[0]
                if rec["action"] == "compacted":
                    try:
                        si.search_index_append(spark, batch_docs, idx)
                    except si.DuplicateIdsError:
                        # maintain compacted for an unrelated signal
                        # (e.g. file count) on a store that already
                        # holds the whole batch — genuinely applied
                        pass
            top = si.search_index_query(
                spark, idx, _SEARCH_KEYWORDS, k=10
            ).select(
                F.lit(e).cast("int").alias("epoch"), "doc_id", "n_hits", "score"
            )
            # idempotent per-epoch write (redelivery overwrites in place)
            top.write.mode("overwrite").parquet(f"{out_dir}/e{e}")

        stream = (
            spark.readStream.schema("doc_id long, text string, epoch int")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(ingest_batch)
            .option("checkpointLocation", f"{tmp}/ckpt_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        out = spark.read.parquet(
            *[f"{out_dir}/e{e}" for e in (1, 2, 3)]
        ).select("epoch", "doc_id", "n_hits", "score")
        return out.localCheckpoint(eager=True)


_STEM_QUERY_KEYWORDS = ["joins", "sparks", "streamed", "windows"]


def _bm25_stemmed_live_oracle_sql(k: int = 20) -> str:
    """Index-time stemmed BM25 replay: corpus tokens and query keywords
    both pass the SHARED portable Porter-lite SQL (one definition for
    engine, store, and oracle — textstats.porter_lite_stem_sql), tf/df
    aggregate over the STEMMED terms, dl stays the raw token count."""
    from .operators.textstats import porter_lite_stem_sql as _stem_sql

    kw_vals = ", ".join(
        "('" + w + "')" for w in sorted(set(_STEM_QUERY_KEYWORDS))
    )
    return f"""
    WITH lens AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
               AS dl
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS _n, AVG(dl) AS _avgdl FROM lens),
    skws AS (
      SELECT DISTINCT {_stem_sql("lower(kw)")} AS skw
      FROM (VALUES {kw_vals}) AS t(kw)
    ),
    hits AS (
      SELECT doc_id, {_stem_sql("lower(term)")} AS term FROM (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
                 AS term
        FROM documents
      ) WHERE {_stem_sql("lower(term)")} IN (SELECT skw FROM skws)
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM hits GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY term),
    scored AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_hits,
             ROUND(SUM(
               ln(1.0 + (_n - df + 0.5) / (df + 0.5))
               * (tf * (1.2 + 1.0))
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / _avgdl))
             ), 4) AS score
      FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
    )
    SELECT doc_id, n_hits, score FROM scored ORDER BY score DESC, doc_id LIMIT {k}
    """


@register("search_index_serve_stemmed", _bm25_stemmed_live_oracle_sql())
def search_index_serve_stemmed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX-TIME analysis — the way ES analyzer chains actually work
    (the stored term is the analyzed form; queries analyze their
    keywords with the same chain), vs `ranked_search_stemmed`'s
    query-time stemming of the whole corpus per search.  The store is
    built with analyzer="stemmed" (the shared portable Porter-lite
    SQL), so inflected queries ("joins", "streamed") match their stems
    with NO per-query stem work on the corpus — tf/df live pre-stemmed
    in the postings, dl stays the raw token count."""
    import tempfile

    from .operators import search_index as si

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/searchidx"
        si.search_index_build(docs, idx, analyzer="stemmed").collect()
        out = si.search_index_query(
            spark, idx, _STEM_QUERY_KEYWORDS, k=20
        )
        return out.localCheckpoint(eager=True)


def _stem_sql(expr: str) -> str:
    # ONE definition of the stemmer for operator and oracle alike:
    # the portable-SQL text from textstats.porter_lite_stem_sql runs
    # verbatim in both Spark SQL and DuckDB (lockstep by construction)
    from .operators.textstats import porter_lite_stem_sql

    return porter_lite_stem_sql(expr)


@register(
    "ranked_search_stemmed",
    f"""
    WITH lens AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
               AS dl
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS _n, AVG(dl) AS _avgdl FROM lens),
    skws AS (
      SELECT DISTINCT {{STEM_KW}} AS skw FROM (
        SELECT unnest([{{KW_LIST}}]) AS kw)
    ),
    hits AS (
      SELECT doc_id, {{STEM_TERM}} AS term FROM (
        SELECT doc_id, lower(term) AS lterm FROM (
          SELECT doc_id,
                 unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
                   AS term
          FROM documents
        )
      ) WHERE {{STEM_TERM}} IN (SELECT skw FROM skws)
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM hits GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY term),
    scored AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_hits,
             ROUND(SUM(
               ln(1.0 + (_n - df + 0.5) / (df + 0.5))
               * (tf * (1.2 + 1.0))
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / _avgdl))
             ), 4) AS score
      FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
    )
    SELECT doc_id, n_hits, score FROM scored ORDER BY score DESC, doc_id LIMIT 20
    """.replace("{STEM_KW}", _stem_sql("kw"))
    .replace("{STEM_TERM}", _stem_sql("lterm"))
    .replace(
        "{KW_LIST}",
        ", ".join("'" + w + "'" for w in sorted(_SEARCH_KEYWORDS)),
    ),
)
def ranked_search_stemmed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stemmed BM25 (textstats.ranked_keyword_search_stemmed) — the ES
    multi_match analyzer behavior (redditProcessor.py:67-75) the exact
    rankers miss: tokens AND keywords stem through ONE portable-SQL
    Porter-lite expression (porter_lite_stem_sql), shared verbatim by
    the oracle, so 'joins'/'joining'/'joined' score against 'join'."""
    docs = load(spark, sf_dir, "documents")
    return textstats.ranked_keyword_search_stemmed(
        docs, "doc_id", "text", _SEARCH_KEYWORDS, k=20
    )


def _fuzzy_oracle_sql(live_where: str = "TRUE") -> str:
    """The fuzzy-search replay parameterized by a LIVE-set predicate —
    shared by the corpus-scan registration and the persistent-index
    fuzzy serving (the store's dictionary expansion + exact postings
    lookup must answer exactly like the scan rule over the live set)."""
    kw_in = ", ".join("'" + w + "'" for w in sorted(_SEARCH_KEYWORDS))
    return f"""
    WITH toks AS (
      SELECT doc_id, lower(term) AS term FROM (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
                 AS term
        FROM documents WHERE {live_where}
      )
    ),
    kws AS (
      SELECT unnest([{kw_in}]) AS kw
    ),
    hits AS (
      SELECT doc_id, kw FROM toks, kws
      WHERE abs(length(term) - length(kw)) <= 1
        AND levenshtein(term, kw) <= 1
    )
    SELECT doc_id, CAST(COUNT(DISTINCT kw) AS BIGINT) AS n_terms,
           CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM hits GROUP BY doc_id
    ORDER BY n_terms DESC, n_hits DESC, doc_id LIMIT 20
    """


@register("fuzzy_keyword_search", _fuzzy_oracle_sql())
def fuzzy_keyword_search_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy term search (textstats.fuzzy_keyword_search) — the ES
    multi_match fuzziness behavior: levenshtein <= 1 token matches
    behind a length-window prefilter, ranked by term coverage then hit
    volume.  Oracle replays the same edit-distance rule in DuckDB."""
    docs = load(spark, sf_dir, "documents")
    return textstats.fuzzy_keyword_search(
        docs, "doc_id", "text", _SEARCH_KEYWORDS, max_edits=1, k=20
    )


@register("search_index_serve_fielded", _fielded_oracle_sql())
def search_index_serve_fielded_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fielded/boosted BM25 served OFF the persistent index — the
    reference's literal production query (ES multi_match over
    ["title", "selftext"], redditProcessor.py:67-70, with the standard
    fields: ["title^2", "body"] boost) answered BY the store: a
    fielded build (title_len=8 tags every posting 't'/'b' and carries
    the FIELD-local dl in the row) on 3/4 of the corpus, an append of
    the last quarter (field tags are per-document functions, so
    build+append ≡ build of the union), then one bucket-pruned query.
    Oracle = the corpus-scan fielded ranker replay — per-field BM25
    universes, boost-weighted sum, single rounding."""
    import tempfile

    from .operators import search_index as si

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/searchidx"
        si.search_index_build(
            docs.filter("doc_id % 4 != 3"), idx, title_len=8
        ).collect()
        si.search_index_append(spark, docs.filter("doc_id % 4 = 3"), idx)
        out = si.search_index_query_fielded(
            spark, idx, _SEARCH_KEYWORDS, k=20
        )
        return out.localCheckpoint(eager=True)


@register(
    "search_index_fielded_under_deletes",
    _fielded_oracle_sql("doc_id % 7 <> 3"),
)
def search_index_fielded_under_deletes_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fielded serving correctness under tombstones: deleted documents
    must vanish from the fielded results, stop contributing per-field
    df, AND stop counting toward N and BOTH per-field avgdl (the
    delete verb's negative stats delta subtracts dl and dl_t), so the
    store answers exactly like the corpus-scan fielded ranker over the
    surviving corpus — without a compact."""
    import tempfile

    from .operators import search_index as si

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/searchidx"
        si.search_index_build(docs, idx, title_len=8).collect()
        dels = [
            int(r["doc_id"])
            for r in docs.filter("doc_id % 7 = 3").select("doc_id").collect()
        ]
        si.search_index_delete(spark, idx, dels).collect()
        out = si.search_index_query_fielded(
            spark, idx, _SEARCH_KEYWORDS, k=20
        )
        return out.localCheckpoint(eager=True)


@register("search_index_serve_fuzzy", _fuzzy_oracle_sql())
def search_index_serve_fuzzy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy search served OFF the persistent index —
    the ES fuzziness behavior the way ES serves it: the keywords
    expand against the persisted TERM DICTIONARY (levenshtein <= 1
    behind the scan form's length-window prefilter — a
    vocabulary-sized pass, never a corpus or postings scan), then the
    expanded exact terms run the normal bucket-pruned postings lookup.
    Built 3/4 + appended 1/4 so the dictionary union path is
    exercised.  Oracle = the corpus-scan fuzzy ranker replay
    (n_terms DESC, n_hits DESC, doc_id)."""
    import tempfile

    from .operators import search_index as si

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/searchidx"
        si.search_index_build(docs.filter("doc_id % 4 != 3"), idx).collect()
        si.search_index_append(spark, docs.filter("doc_id % 4 = 3"), idx)
        out = si.search_index_query_fuzzy(
            spark, idx, _SEARCH_KEYWORDS, max_edits=1, k=20
        )
        return out.localCheckpoint(eager=True)


# Hybrid retrieval: BM25 lexical leg + embedding-cosine vector leg,
# combined with reciprocal-rank fusion (1/(60+rank)) — the standard
# RAG retrieval stack end-to-end in one declarative plan.  vec_id and
# doc_id share the entity key space (TESTDATA contract), so vector
# ranks address documents directly.
_RRF_QUERY_VEC, _RRF_LEG_N, _RRF_C = 7, 50, 60


@register(
    "hybrid_search_rrf",
    f"""
    WITH lens AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
               AS dl
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS _n, AVG(dl) AS _avgdl FROM lens),
    hits AS (
      SELECT doc_id, lower(term) AS term FROM (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
                 AS term
        FROM documents
      ) WHERE lower(term) IN ({', '.join("'" + w + "'" for w in sorted(_SEARCH_KEYWORDS))})
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM hits GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY term),
    lexscored AS (
      SELECT doc_id,
             ROUND(SUM(
               ln(1.0 + (_n - df + 0.5) / (df + 0.5))
               * (tf * (1.2 + 1.0))
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / _avgdl))
             ), 4) AS score
      FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
    ),
    lexrank AS (
      SELECT doc_id, rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM lexscored
      ) WHERE rank <= {_RRF_LEG_N}
    ),
    vq AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
      WHERE vec_id = {_RRF_QUERY_VEC}
    ),
    vscored AS (
      SELECT e.vec_id AS doc_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), vq.qv), 4) AS cos
      FROM embeddings e CROSS JOIN vq WHERE e.vec_id <> {_RRF_QUERY_VEC}
    ),
    vrank AS (
      SELECT doc_id, rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank
        FROM vscored
      ) WHERE rank <= {_RRF_LEG_N}
    ),
    legs AS (
      SELECT doc_id, rank FROM lexrank
      UNION ALL
      SELECT doc_id, rank FROM vrank
    ),
    fused AS (
      SELECT doc_id,
             ROUND(SUM(1.0 / ({_RRF_C} + rank)), 6) AS rrf_score,
             COUNT(*) AS n_legs
      FROM legs GROUP BY doc_id
    )
    SELECT doc_id, rrf_score, n_legs, rank FROM (
      SELECT *, row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
      FROM fused
    ) WHERE rank <= 20
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RAG retrieval: BM25 top-N + brute-force-cosine top-N,
    fused by reciprocal rank (`similarity.rrf_fuse`).  Both legs are
    oracle-checked standalone (`ranked_search_bm25`, `ann_cosine_topk`);
    the fusion itself is tiny post-processing of two top-N frames."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    lex = textstats.ranked_keyword_search_bm25(
        docs, "doc_id", "text", _SEARCH_KEYWORDS, k=_RRF_LEG_N
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex_rank = (
        lex.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _RRF_LEG_N)
        .select("doc_id", "rank")
    )
    vec = similarity.brute_force_topk(
        load(spark, sf_dir, "embeddings"), [_RRF_QUERY_VEC], k=_RRF_LEG_N
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rk").alias("rank"))
    return similarity.rrf_fuse(
        [lex_rank, vec], id_col="doc_id", k=20, c=_RRF_C
    )


# ---------------------------------------------------------------------------
# Dedup family (north-star): exact, fingerprint, MinHash+LSH, Jaccard,
# SimHash, embedding-cosine near-dup.
# ---------------------------------------------------------------------------

# Exact content dedup via md5 group (hash-groupBy).
@register(
    "dedup_exact_content",
    """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.content_dedup_groups(load(spark, sf_dir, "documents"), "doc_id", "text")


# Near-exact dedup via normalization fingerprint.
@register(
    "dedup_fingerprint",
    f"""
    WITH norm AS (
      SELECT doc_id, {normalize_sql("text")} AS nt FROM documents
    ), fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> ''))), ' ')) AS fp
      FROM norm
    )
    SELECT fp, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies FROM fp GROUP BY fp
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.fingerprint_dedup_groups(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


_MINHASH_K = 8
_SHINGLE_SQL = """
    tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS w,
             generate_subscripts(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''), 1) AS pos
      FROM documents
    ), led AS (
      SELECT doc_id, w,
             lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
             lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM tok
    ), sh AS (
      SELECT DISTINCT doc_id, concat_ws(' ', w, w1, w2) AS shingle
      FROM led WHERE w2 IS NOT NULL
    )
"""

# One salted md5 per shingle yields four 32-bit hash functions (8-hex
# chunks decoded to bigint) — must match dedup.minhash_signatures exactly.
_MINHASH_AGGS_SQL = ",\n           ".join(
    f"MIN(('0x' || substring(md5(concat('{i // 4}', '|', shingle)), {(i % 4) * 8 + 1}, 8))::BIGINT) AS h{i}"
    for i in range(_MINHASH_K)
)


# MinHash signatures: salted-md5 lexicographic min per shingle set.
@register(
    "minhash_signatures",
    f"""
    WITH {_SHINGLE_SQL}
    SELECT doc_id, {_MINHASH_AGGS_SQL}
    FROM sh GROUP BY doc_id
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(
        load(spark, sf_dir, "documents"), "doc_id", "text", num_hashes=_MINHASH_K
    )


# MinHash-LSH candidate pairs (4 bands x 2 rows).
@register(
    "minhash_lsh_pairs",
    f"""
    WITH {_SHINGLE_SQL}, sig AS (
      SELECT doc_id, {_MINHASH_AGGS_SQL}
      FROM sh GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, band, key FROM (
        SELECT doc_id, 0 AS band, md5(concat(h0, '|', h1)) AS key FROM sig
        UNION ALL SELECT doc_id, 1, md5(concat(h2, '|', h3)) FROM sig
        UNION ALL SELECT doc_id, 2, md5(concat(h4, '|', h5)) FROM sig
        UNION ALL SELECT doc_id, 3, md5(concat(h6, '|', h7)) FROM sig
      )
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """,
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.minhash_signatures(
        load(spark, sf_dir, "documents"), "doc_id", "text", num_hashes=_MINHASH_K
    )
    return dedup.lsh_candidate_pairs(sigs, "doc_id", num_hashes=_MINHASH_K, bands=4)


# Dedup-group clustering: connected components over the LSH pairs.
@register(
    "dedup_components",
    f"""
    WITH RECURSIVE {_SHINGLE_SQL}, sig AS (
      SELECT doc_id, {_MINHASH_AGGS_SQL}
      FROM sh GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, band, key FROM (
        SELECT doc_id, 0 AS band, md5(concat(h0, '|', h1)) AS key FROM sig
        UNION ALL SELECT doc_id, 1, md5(concat(h2, '|', h3)) FROM sig
        UNION ALL SELECT doc_id, 2, md5(concat(h4, '|', h5)) FROM sig
        UNION ALL SELECT doc_id, 3, md5(concat(h6, '|', h7)) FROM sig
      )
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), closure(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT c.node, e.dst FROM closure c JOIN edges e ON e.src = c.r
    )
    SELECT node, MIN(r) AS label FROM closure GROUP BY node
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS, not just pairs: iterative min-label propagation
    over the MinHash-LSH candidate graph (the clustering step every
    production dedup pipeline needs after candidate generation).
    Oracle: recursive-CTE transitive closure."""
    sigs = dedup.minhash_signatures(
        load(spark, sf_dir, "documents"), "doc_id", "text", num_hashes=_MINHASH_K
    )
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", num_hashes=_MINHASH_K, bands=4)
    return dedup.connected_components(pairs)


@register(
    "dedup_keep_best",
    f"""
    WITH RECURSIVE {_SHINGLE_SQL}, sig AS (
      SELECT doc_id, {_MINHASH_AGGS_SQL}
      FROM sh GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, band, key FROM (
        SELECT doc_id, 0 AS band, md5(concat(h0, '|', h1)) AS key FROM sig
        UNION ALL SELECT doc_id, 1, md5(concat(h2, '|', h3)) FROM sig
        UNION ALL SELECT doc_id, 2, md5(concat(h4, '|', h5)) FROM sig
        UNION ALL SELECT doc_id, 3, md5(concat(h6, '|', h7)) FROM sig
      )
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), closure(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT c.node, e.dst FROM closure c JOIN edges e ON e.src = c.r
    ), comp AS (
      SELECT node, MIN(r) AS label FROM closure GROUP BY node
    )
    SELECT label, doc_id AS keeper_id, n_members, n_chars AS keeper_n_chars
    FROM (
      SELECT c.label, d.doc_id, d.n_chars,
             COUNT(*) OVER (PARTITION BY c.label) AS n_members,
             row_number() OVER (PARTITION BY c.label
                                ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
      FROM comp c JOIN documents d ON d.doc_id = c.node
    ) WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection after near-dup clustering: keep each
    component's LONGEST member (n_chars, ties to the lowest doc_id) —
    the keep-the-best-copy policy real pipelines apply where
    exact_dedup_keep_first keeps the smallest id."""
    docs = load(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=_MINHASH_K)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", num_hashes=_MINHASH_K, bands=4)
    comps = dedup.connected_components(pairs)
    return dedup.keep_best_per_component(comps, docs, "doc_id", "n_chars")


# Exact n-gram (3-word shingle) Jaccard over intersecting pairs.  The
# df-cap (shingles in > 1000 docs excluded from the similarity universe)
# mirrors dedup.jaccard_pairs' hot-shingle bound; at this sf no shingle
# reaches the cap, so the filtered metric equals the plain one.
@register(
    "ngram_jaccard_pairs",
    f"""
    WITH {_SHINGLE_SQL}, kept AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 1000
    ), shk AS (
      SELECT sh.* FROM sh JOIN kept USING (shingle)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS sz FROM shk GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(inter / (sa.sz + sb.sz - inter) + 1e-9, 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE ROUND(inter / (sa.sz + sb.sz - inter) + 1e-9, 4) >= 0.2
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.2
    )


# Dedup-quality AUDIT: candidate precision/recall of the MinHash-LSH
# band index against exact shingle-Jaccard ground truth (threshold
# 0.2, same df-capped shingle universe as ngram_jaccard_pairs) — the
# measurement that justifies an LSH band/row configuration before it
# filters 100 TB.  One audit row; both legs replayed in the oracle.
@register(
    "lsh_candidate_audit",
    f"""
    WITH {_SHINGLE_SQL}, sig AS (
      SELECT doc_id, {_MINHASH_AGGS_SQL}
      FROM sh GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, band, key FROM (
        SELECT doc_id, 0 AS band, md5(concat(h0, '|', h1)) AS key FROM sig
        UNION ALL SELECT doc_id, 1, md5(concat(h2, '|', h3)) FROM sig
        UNION ALL SELECT doc_id, 2, md5(concat(h4, '|', h5)) FROM sig
        UNION ALL SELECT doc_id, 3, md5(concat(h6, '|', h7)) FROM sig
      )
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ), kept AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 1000
    ), shk AS (
      SELECT sh.* FROM sh JOIN kept USING (shingle)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS sz FROM shk GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), truth AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE ROUND(inter / (sa.sz + sb.sz - inter) + 1e-9, 4) >= 0.2
    ), hit AS (
      SELECT c.id_a, c.id_b FROM cand c JOIN truth t
        ON c.id_a = t.id_a AND c.id_b = t.id_b
    )
    SELECT CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
           CASE WHEN (SELECT COUNT(*) FROM cand) = 0 THEN 0.0
                ELSE ROUND((SELECT COUNT(*) FROM hit)
                     / CAST((SELECT COUNT(*) FROM cand) AS DOUBLE)
                     + 1e-9, 4) END AS precision,
           CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 0.0
                ELSE ROUND((SELECT COUNT(*) FROM hit)
                     / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE)
                     + 1e-9, 4) END AS recall
    """,
)
def lsh_candidate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=_MINHASH_K)
    cand = dedup.lsh_candidate_pairs(
        sigs, "doc_id", num_hashes=_MINHASH_K, bands=4
    )
    truth = dedup.jaccard_pairs(docs, "doc_id", "text", threshold=0.2).select(
        "id_a", "id_b"
    )
    hit = cand.join(truth, ["id_a", "id_b"])
    n_c = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_h = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_c.crossJoin(n_t)
        .crossJoin(n_h)
        .select(
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_truth").cast("long").alias("n_truth"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.when(F.col("n_candidates") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("n_hit") / F.col("n_candidates").cast("double")
                    + F.lit(1e-9),
                    4,
                )
            )
            .alias("precision"),
            F.when(F.col("n_truth") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("n_hit") / F.col("n_truth").cast("double")
                    + F.lit(1e-9),
                    4,
                )
            )
            .alias("recall"),
        )
    )


# SimHash 60-bit signatures (shared md5 bit-vote formulation).
@register(
    "simhash_signatures",
    dedup.simhash_sql("documents", "doc_id", "text", normalize_sql("text")),
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Text analysis (north-star): token stats, quality scores, language ID,
# relational sentiment.
# ---------------------------------------------------------------------------

_TOKS_SQL = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"


@register(
    "token_stats",
    f"""
    SELECT doc_id,
           len({_TOKS_SQL}) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_subword_units,
           length(text) AS n_chars_measured,
           ROUND(CASE WHEN len({_TOKS_SQL}) > 0
                 THEN (length(text) - (len({_TOKS_SQL}) - 1)) / len({_TOKS_SQL})
                 ELSE 0.0 END, 4) AS avg_token_len
    FROM documents
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_stats(load(spark, sf_dir, "documents"), "doc_id", "text")


# Substring-level duplicate spans (Lee et al. 2022 ExactSubstr shape):
# maximal token runs whose 5-grams repeat corpus-wide — the cut-the-
# passage dedup granularity the whole-document family can't express.
# Both sides hash grams to the same 60-bit md5 prefix and merge
# adjacent-or-overlapping grams with identical gap logic.
@register(
    "duplicate_spans",
    f"""
    WITH g AS (
      SELECT doc_id, u.pos,
             ('0x' || substring(md5(u.gram), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents) d,
      LATERAL (
        SELECT unnest(generate_series(1, len(t) - 4)) AS pos,
               unnest(list_transform(generate_series(1, len(t) - 4),
                      i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS gram
      ) u
      WHERE len(t) >= 5
    ), dup AS (
      SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2
    ), hit AS (
      SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM dup)
    ), flagged AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w > 5 THEN 1 ELSE 0 END AS new_span
      FROM hit WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), grps AS (
      SELECT doc_id, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM flagged
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
           MAX(pos) + 4 - MIN(pos) + 1 AS span_tokens
    FROM grps GROUP BY doc_id, grp
    """,
)
def duplicate_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.duplicate_spans(
        load(spark, sf_dir, "documents"), "doc_id", "text", k=5
    )


# Per-document duplicated-token fraction: the across-corpus complement
# of the Gopher within-document repetition filters — what a pipeline
# thresholds on to cut or drop boilerplate-heavy documents.  Spans are
# disjoint after the gap merge, so the fraction is a plain SUM join.
@register(
    "span_dup_fraction",
    f"""
    WITH g AS (
      SELECT doc_id, u.pos,
             ('0x' || substring(md5(u.gram), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents) d,
      LATERAL (
        SELECT unnest(generate_series(1, len(t) - 4)) AS pos,
               unnest(list_transform(generate_series(1, len(t) - 4),
                      i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS gram
      ) u
      WHERE len(t) >= 5
    ), dup AS (
      SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2
    ), hit AS (
      SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM dup)
    ), flagged AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w > 5 THEN 1 ELSE 0 END AS new_span
      FROM hit WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), grps AS (
      SELECT doc_id, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM flagged
    ), spans AS (
      SELECT doc_id, MAX(pos) + 4 - MIN(pos) + 1 AS span_tokens
      FROM grps GROUP BY doc_id, grp
    ), per_doc AS (
      SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens, COUNT(*) AS n_spans
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           len({_TOKS_SQL}) AS n_tokens,
           COALESCE(p.dup_tokens, 0) AS dup_tokens,
           COALESCE(p.n_spans, 0) AS n_spans,
           ROUND(CASE WHEN len({_TOKS_SQL}) > 0
                 THEN COALESCE(p.dup_tokens, 0) / len({_TOKS_SQL})
                 ELSE 0.0 END, 4) AS dup_fraction
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
)
def span_dup_fraction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.span_dup_fraction(
        load(spark, sf_dir, "documents"), "doc_id", "text", k=5
    )


# The ExactSubstr CUT: duplicated spans removed from the text itself
# (all occurrences; whitespace-normalized reconstruction).  The cut is
# a pure JVM array expression — filter-with-index + exists over each
# doc's (tiny) span array; DuckDB replays it with the same nested
# lambdas.
@register(
    "cut_duplicate_spans",
    f"""
    WITH g AS (
      SELECT doc_id, u.pos,
             ('0x' || substring(md5(u.gram), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents) d,
      LATERAL (
        SELECT unnest(generate_series(1, len(t) - 4)) AS pos,
               unnest(list_transform(generate_series(1, len(t) - 4),
                      i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS gram
      ) u
      WHERE len(t) >= 5
    ), dup AS (
      SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2
    ), hit AS (
      SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM dup)
    ), flagged AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w > 5 THEN 1 ELSE 0 END AS new_span
      FROM hit WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), grps AS (
      SELECT doc_id, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM flagged
    ), spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
      FROM grps GROUP BY doc_id, grp
    ), arrs AS (
      SELECT doc_id, list({{'s': s, 'e': e}}) AS sp FROM spans GROUP BY doc_id
    ), docs AS (
      SELECT d.doc_id, {_TOKS_SQL} AS t, a.sp
      FROM documents d LEFT JOIN arrs a ON d.doc_id = a.doc_id
    )
    SELECT doc_id, len(t) AS n_tokens,
           len(CASE WHEN sp IS NULL THEN t
                ELSE list_filter(t, (x, i) ->
                     len(list_filter(sp, z -> i BETWEEN z.s AND z.e)) = 0)
                END) AS n_kept_tokens,
           COALESCE(array_to_string(CASE WHEN sp IS NULL THEN t
                ELSE list_filter(t, (x, i) ->
                     len(list_filter(sp, z -> i BETWEEN z.s AND z.e)) = 0)
                END, ' '), '') AS cleaned_text
    FROM docs
    """,
)
def cut_duplicate_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.cut_duplicate_spans(
        load(spark, sf_dir, "documents"), "doc_id", "text", k=5
    )


# CCNet/C4-style LINE dedup with keep-one-copy semantics: segment into
# non-overlapping 10-token lines, hash, keep only the first occurrence
# (min (doc_id, line_no)) of every corpus-repeated line, reassemble.
# Complementary to cut_duplicate_spans (overlapping k-grams,
# cut-all-occurrences).  The oracle replays the struct-min keeper and
# the ordered reassembly exactly.
@register(
    "line_dedup_corpus",
    f"""
    WITH d AS (SELECT doc_id, {{toks}} AS t FROM documents),
    lns AS (
      SELECT doc_id, u.line_no, u.line,
             ('0x' || substring(md5(u.line), 1, 15))::BIGINT AS h
      FROM d, LATERAL (
        SELECT unnest(generate_series(1, CAST(ceil(len(t) / 10.0) AS BIGINT))) AS line_no,
               unnest(list_transform(
                 generate_series(1, CAST(ceil(len(t) / 10.0) AS BIGINT)),
                 i -> array_to_string(list_slice(t, (i - 1) * 10 + 1, i * 10), ' '))) AS line
      ) u
      WHERE len(t) > 0
    ), stats AS (
      SELECT h, COUNT(*) AS cnt,
             MIN({{'kid': doc_id, 'kline': line_no}}) AS keeper
      FROM lns GROUP BY h
    ), kept AS (
      SELECT l.doc_id, l.line_no, l.line,
             (s.cnt < 2 OR (l.doc_id = (s.keeper).kid
                            AND l.line_no = (s.keeper).kline)) AS keep
      FROM lns l JOIN stats s USING (h)
    ), agg AS (
      SELECT doc_id,
             COUNT(*) AS n_lines,
             COUNT(*) FILTER (WHERE keep) AS n_kept_lines,
             COALESCE(array_to_string(
               list(line ORDER BY line_no) FILTER (WHERE keep), ' '), '') AS ct
      FROM kept GROUP BY doc_id
    )
    SELECT d0.doc_id,
           CAST(COALESCE(a.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(COALESCE(a.n_kept_lines, 0) AS BIGINT) AS n_kept_lines,
           COALESCE(a.ct, '') AS cleaned_text
    FROM documents d0 LEFT JOIN agg a ON d0.doc_id = a.doc_id
    """.replace("{toks}", _TOKS_SQL),
)
def line_dedup_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.line_dedup_corpus(
        load(spark, sf_dir, "documents"), "doc_id", "text", line_len=10
    )


# v3 capstone: the ExactSubstr family composed into corpus selection —
# cut repeated passages FIRST (keep documents, lose boilerplate), then
# keep docs still >= 20 tokens with dup_fraction < 0.5 of the original,
# then a deterministic 90/10 hash split.  One composed oracle replays
# cut -> threshold -> split; selection happens on the CLEANED text, the
# ordering a cut-based pipeline must use (filter-then-cut would drop
# docs whose only flaw was cuttable).
@register(
    "training_corpus_select_v3",
    f"""
    WITH g AS (
      SELECT doc_id, u.pos,
             ('0x' || substring(md5(u.gram), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents) d,
      LATERAL (
        SELECT unnest(generate_series(1, len(t) - 4)) AS pos,
               unnest(list_transform(generate_series(1, len(t) - 4),
                      i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS gram
      ) u
      WHERE len(t) >= 5
    ), dup AS (
      SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2
    ), hit AS (
      SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM dup)
    ), flagged AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w > 5 THEN 1 ELSE 0 END AS new_span
      FROM hit WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), grps AS (
      SELECT doc_id, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM flagged
    ), spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
      FROM grps GROUP BY doc_id, grp
    ), arrs AS (
      SELECT doc_id, list({{'s': s, 'e': e}}) AS sp FROM spans GROUP BY doc_id
    ), cut AS (
      SELECT d.doc_id, d.source, len(t) AS n_tokens,
             len(kept) AS n_kept_tokens,
             COALESCE(array_to_string(kept, ' '), '') AS cleaned_text
      FROM (
        SELECT d.doc_id, d.source, {_TOKS_SQL} AS t,
               CASE WHEN a.sp IS NULL THEN {_TOKS_SQL}
                    ELSE list_filter({_TOKS_SQL}, (x, i) ->
                         len(list_filter(a.sp, z -> i BETWEEN z.s AND z.e)) = 0)
               END AS kept
        FROM documents d LEFT JOIN arrs a ON d.doc_id = a.doc_id
      ) d
    )
    SELECT doc_id, source, n_tokens, n_kept_tokens,
           ROUND(CASE WHEN n_tokens > 0
                 THEN (n_tokens - n_kept_tokens) / n_tokens
                 ELSE 0.0 END + 1e-9, 4) AS cut_fraction,
           CASE WHEN CAST(CAST(concat('0x',
                    substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) AS DOUBLE) / 4294967296.0 < 0.9
                THEN 'train' ELSE 'test' END AS split
    FROM cut
    WHERE n_kept_tokens >= 20
      AND n_kept_tokens * 2 > n_tokens
    """,
)
def training_corpus_select_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-first selection: cut corpus-repeated passages, keep
    documents whose CLEANED text still has >= 20 tokens and retains
    more than half the original, stamp a deterministic 90/10 hash
    split.  Composition adds one filter and one narrow projection to
    the cut plan — no new shuffles."""
    from .operators.sampling import hash_fraction

    cut = dedup.cut_duplicate_spans(
        load(spark, sf_dir, "documents"), "doc_id", "text", k=5
    )
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        cut.join(src, "doc_id")
        .filter(
            (F.col("n_kept_tokens") >= 20)
            & (F.col("n_kept_tokens") * 2 > F.col("n_tokens"))
        )
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "n_kept_tokens",
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    (F.col("n_tokens") - F.col("n_kept_tokens"))
                    / F.col("n_tokens"),
                ).otherwise(0.0)
                + F.lit(1e-9),
                4,
            ).alias("cut_fraction"),
            F.when(hash_fraction("doc_id") < 0.9, F.lit("train"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )


# Gopher/MassiveText-style repetition filters: duplicate-line fraction,
# most-frequent-bigram fraction, duplicate-trigram fraction.
@register(
    "repetition_stats",
    f"""
    WITH lines AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(COALESCE(text, ''), '\\n'),
                             x -> trim(x) <> '')) AS n_lines,
             len(list_distinct(list_filter(
                 regexp_split_to_array(COALESCE(text, ''), '\\n'),
                 x -> trim(x) <> ''))) AS n_uniq_lines
      FROM documents
    ),
    toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    g2 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                                           i -> t[i] || ' ' || t[i + 1])) AS g
      FROM toks WHERE len(t) >= 2
    ),
    g3 AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
                     i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
      FROM toks WHERE len(t) >= 3
    ),
    p2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
    p3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g),
    a2 AS (SELECT doc_id, SUM(c) AS tot2, MAX(c) AS top2 FROM p2 GROUP BY doc_id),
    a3 AS (SELECT doc_id, SUM(c) AS tot3, COUNT(*) AS uniq3 FROM p3 GROUP BY doc_id)
    SELECT l.doc_id, l.n_lines,
           ROUND((CASE WHEN l.n_lines > 0
                       THEN (l.n_lines - l.n_uniq_lines) / l.n_lines
                       ELSE 0.0 END) + 1e-9, 4) AS dup_line_frac,
           ROUND((CASE WHEN COALESCE(tot2, 0) > 0 THEN top2 / tot2
                       ELSE 0.0 END) + 1e-9, 4) AS top_bigram_frac,
           ROUND((CASE WHEN COALESCE(tot3, 0) > 0 THEN (tot3 - uniq3) / tot3
                       ELSE 0.0 END) + 1e-9, 4) AS dup_trigram_frac
    FROM lines l LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.repetition_stats(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


# Per-document perplexity under a corpus-trained add-k bigram LM — the
# classic LM-based quality filter for training-data curation (CCNet-style:
# surprising docs are boilerplate/noise).  The oracle retrains the same
# model in SQL: identical smoothing, identical vocabulary.
@register(
    "lm_perplexity",
    f"""
    WITH toks AS (
      SELECT doc_id, list_transform({_TOKS_SQL}, x -> lower(x)) AS t
      FROM documents
    ),
    inst AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i])) AS prev,
             unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i + 1])) AS cur
      FROM toks WHERE len(t) >= 2
    ),
    pd AS (SELECT doc_id, prev, cur, COUNT(*) AS n FROM inst GROUP BY ALL),
    cbg AS (SELECT prev, cur, SUM(n) AS c FROM pd GROUP BY ALL),
    cprev AS (SELECT prev, SUM(c) AS cp FROM cbg GROUP BY ALL),
    voc AS (SELECT COUNT(DISTINCT w) AS v
            FROM (SELECT unnest(t) AS w FROM toks)),
    scored AS (
      SELECT pd.doc_id,
             SUM(pd.n) AS n_bigrams,
             SUM(pd.n * -ln((cbg.c + 0.5) / (cprev.cp + 0.5 * voc.v))) / SUM(pd.n) AS ce
      FROM pd
      JOIN cbg USING (prev, cur)
      JOIN cprev USING (prev)
      CROSS JOIN voc
      GROUP BY pd.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           ROUND(s.ce + 1e-9, 4) AS cross_entropy,
           ROUND(exp(s.ce) + 1e-9, 4) AS perplexity
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.bigram_lm_perplexity(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


_U8_SQL = (
    "CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) AS DOUBLE) / 4294967296.0"
)


# Margin-based bitext mining (Artetxe & Schwenk 2019): best side-B
# partner per side-A embedding under the k-NN-normalized margin score
# — the CCMatrix mined-parallel-corpus builder.  Even/odd vec_ids play
# the two languages.
@register(
    "bitext_margin_mine",
    """
    WITH a AS (
      SELECT vec_id AS id_a, CAST(embedding AS DOUBLE[]) AS va
      FROM embeddings WHERE vec_id % 2 = 0
    ), b AS (
      SELECT vec_id AS id_b, CAST(embedding AS DOUBLE[]) AS vb
      FROM embeddings WHERE vec_id % 2 = 1
    ), scored AS (
      SELECT id_a, id_b,
             CAST(ROUND(list_cosine_similarity(va, vb) * 1000000.0) AS BIGINT)
               AS cos_e6
      FROM a CROSS JOIN b
    ), knn_a AS (
      SELECT id_a, CAST(SUM(cos_e6) AS BIGINT) AS sum_a FROM (
        SELECT id_a, cos_e6,
               row_number() OVER (PARTITION BY id_a
                                  ORDER BY cos_e6 DESC, id_b) AS rk
        FROM scored) WHERE rk <= 4 GROUP BY id_a
    ), knn_b AS (
      SELECT id_b, CAST(SUM(cos_e6) AS BIGINT) AS sum_b FROM (
        SELECT id_b, cos_e6,
               row_number() OVER (PARTITION BY id_b
                                  ORDER BY cos_e6 DESC, id_a) AS rk
        FROM scored) WHERE rk <= 4 GROUP BY id_b
    ), m AS (
      SELECT s.id_a, s.id_b, s.cos_e6,
             8.0 * s.cos_e6 / (ka.sum_a + kb.sum_b) AS margin
      FROM scored s
      JOIN knn_a ka USING (id_a) JOIN knn_b kb USING (id_b)
      WHERE ka.sum_a + kb.sum_b > 0
    )
    SELECT id_a, id_b, cos_e6 / 1000000.0 AS cos,
           ROUND(margin, 4) AS margin
    FROM (SELECT *, row_number() OVER (PARTITION BY id_a
                    ORDER BY ROUND(margin, 6) DESC, id_b) AS rk FROM m)
    WHERE rk = 1 AND margin > 1.05
    """,
)
def bitext_margin_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext mining over the embedding corpus split into two 'language'
    sides (even/odd vec_ids): per-A best partner under the hubness-
    cancelling margin score, threshold 1.05 (median 1.11 on gate data).
    See operators/similarity.margin_bitext_mine for the exactness and
    LSH-candidates scale contract."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.margin_bitext_mine(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k=4,
        margin_threshold=1.05,
    )


# DSIR importance resampling (Xie et al. 2023): hashed-unigram
# likelihood ratio of the target slice vs the raw corpus, per-doc
# integer-exact log-weight sum, deterministic integer accept test.
@register(
    "dsir_importance_resample",
    """
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 20),
    target AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
    ttok AS (
      SELECT ('0x' || substring(md5(w), 1, 8))::BIGINT % 256 AS bucket
      FROM (SELECT unnest(list_filter(
              regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS w
            FROM target)
    ), ctok AS (
      SELECT doc_id, ('0x' || substring(md5(w), 1, 8))::BIGINT % 256 AS bucket
      FROM (SELECT doc_id, unnest(list_filter(
              regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS w
            FROM corpus)
    ),
    tcnt AS (SELECT bucket, COUNT(*) AS ct FROM ttok GROUP BY bucket),
    ccnt AS (SELECT bucket, COUNT(*) AS cc FROM ctok GROUP BY bucket),
    counts AS (
      SELECT COALESCE(t.bucket, c.bucket) AS bucket,
             COALESCE(t.ct, 0) AS ct, COALESCE(c.cc, 0) AS cc
      FROM tcnt t FULL OUTER JOIN ccnt c ON t.bucket = c.bucket
    ),
    tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
                   CAST(SUM(cc) AS BIGINT) AS nc FROM counts),
    lr AS (
      SELECT bucket,
             CAST(ROUND((ln(ct + 1) - ln(nt + 256) - ln(cc + 1) + ln(nc + 256))
                        * 1000000.0) AS BIGINT) AS lr_e6
      FROM counts CROSS JOIN tot
    ),
    per_doc AS (
      SELECT t.doc_id, CAST(SUM(l.lr_e6) AS BIGINT) AS logw_e6,
             CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM ctok t JOIN lr l USING (bucket) GROUP BY t.doc_id
    ),
    full_pop AS (
      SELECT c.doc_id,
             CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
             CAST(COALESCE(p.logw_e6, 0) AS BIGINT) AS logw_e6
      FROM corpus c LEFT JOIN per_doc p USING (doc_id)
    ),
    scored AS (
      SELECT doc_id, n_tokens, logw_e6,
             CAST(ROUND(1000000.0 * exp(LEAST(
               CASE WHEN n_tokens > 0
                    THEN (logw_e6 / n_tokens) / 1000000.0 ELSE 0.0 END,
               5.0))) AS BIGINT) AS w_e6,
             ('0x' || substring(md5('dsir|' || CAST(doc_id AS VARCHAR)),
                                1, 8))::BIGINT AS u32
      FROM full_pop
    )
    SELECT doc_id, n_tokens, logw_e6, w_e6,
           (u32 * 1000000 < w_e6 * 4294967296) AS accepted
    FROM scored
    """,
)
def dsir_importance_resample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection over the documents table: the benchmark
    slice (doc_id < 20) plays the high-quality target domain, the rest
    is the raw corpus to filter (the same slicing as
    benchmark_contamination).  Full population returned with weights
    and the deterministic accept flag; see
    operators/sampling.dsir_importance_resample for the exactness and
    100-TB scale contract."""
    docs = load(spark, sf_dir, "documents")
    return sampling.dsir_importance_resample(
        docs.filter(F.col("doc_id") >= 20),
        docs.filter(F.col("doc_id") < 20),
        "doc_id",
        "text",
        n_buckets=256,
    )


# Temperature (alpha=0.5) mixture resampling over sources — the
# multilingual/multi-domain training-mix primitive (up-samples small
# sources, down-samples dominant ones; membership is a pure function of
# doc_id, no RNG).
@register(
    "mixture_sample",
    f"""
    WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    w AS (SELECT source, n, pow(CAST(n AS DOUBLE), 0.5) AS w FROM counts),
    tot AS (SELECT CAST(SUM(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS tw FROM w),
    rates AS (
      -- DECIMAL(18,9) quantize mirrors the engine: membership must not
      -- depend on the last ulp of pow (see sampling.py)
      SELECT source,
             CAST(least(1.0, (w / tw) * 300.0 / n) AS DECIMAL(18,9)) AS rate
      FROM w CROSS JOIN tot
    ),
    draws AS (SELECT doc_id, source, {_U8_SQL} AS u FROM documents)
    SELECT d.doc_id, d.source,
           ROUND(r.rate + 1e-9, 6) AS keep_rate,
           ROUND(d.u + 1e-9, 6) AS draw
    FROM draws d JOIN rates r USING (source)
    WHERE d.u < r.rate
    """,
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.temperature_mixture_sample(
        load(spark, sf_dir, "documents"), "source", "doc_id", alpha=0.5, budget=300
    )


# Deterministic exact-k per-group sample (reservoir-sampling replacement:
# rank by md5 draw inside each group, keep the k lowest).
@register(
    "priority_sample",
    f"""
    SELECT doc_id, source, sample_rank, draw FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY u ASC, doc_id ASC)
               AS sample_rank,
             ROUND(u + 1e-9, 6) AS draw
      FROM (SELECT doc_id, source, {_U8_SQL} AS u FROM documents)
    ) WHERE sample_rank <= 12
    """,
)
def priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.priority_sample_per_group(
        load(spark, sf_dir, "documents"), "source", "doc_id", k=12
    )


# Weighted sampling without replacement (Efraimidis-Spirakis): longer
# documents proportionally more likely; deterministic md5 draws, E-S key
# quantized to DECIMAL(28,12) so the rank order is engine-exact.
@register(
    "weighted_sample",
    """
    WITH keyed AS (
      SELECT doc_id, n_chars AS weight,
             CAST(
               -ln((CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
               / CAST(n_chars AS DOUBLE)
             AS DECIMAL(28,12)) AS k
      FROM documents
    )
    SELECT doc_id, weight, CAST(k AS DOUBLE) AS es_key, rk AS sample_rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY k ASC, doc_id ASC) AS rk FROM keyed
    ) WHERE rk <= 100
    """,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.weighted_priority_sample(
        load(spark, sf_dir, "documents"), "doc_id", "n_chars", k=100
    )


# Two-level mergeable aggregation (incremental-view-maintenance shape):
# per-batch partial states merged per group must equal the one-level
# direct aggregation the oracle computes.
@register(
    "agg_state_merge",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) * 10000 AS BIGINT) AS sum_value_e4,
           MIN(l_quantity) AS min_value,
           MAX(l_quantity) AS max_value,
           COUNT(DISTINCT l_orderkey % 16) AS n_batches
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return relational.incremental_agg_merge(
        li,
        batch_col=(F.col("l_orderkey") % 16),
        group_col="l_returnflag",
        value_col="l_quantity",
    )


# Per-source unigram KL / total-variation vs the whole corpus — source
# composition drift monitoring for the training mix.
@register(
    "unigram_divergence",
    f"""
    WITH words AS (
      SELECT source AS g, unnest(list_transform({_TOKS_SQL}, x -> lower(x))) AS w
      FROM documents
    ),
    gw AS (SELECT g, w, COUNT(*) AS ngw FROM words GROUP BY ALL),
    gt AS (SELECT g, SUM(ngw) AS ng, COUNT(*) AS vocab_g FROM gw GROUP BY g),
    cw AS (SELECT w, SUM(ngw) AS nw FROM gw GROUP BY w),
    tot AS (SELECT SUM(nw) AS n FROM cw),
    per_word AS (
      SELECT gw.g, gt.vocab_g, gt.ng,
             (gw.ngw / gt.ng) * ln((gw.ngw / gt.ng) / (cw.nw / tot.n)) AS klw,
             abs(gw.ngw / gt.ng - cw.nw / tot.n) AS adw,
             cw.nw / tot.n AS qw
      FROM gw JOIN cw USING (w) JOIN gt USING (g) CROSS JOIN tot
    )
    SELECT g AS source,
           CAST(MIN(ng) AS BIGINT) AS n_tokens,
           CAST(MIN(vocab_g) AS BIGINT) AS vocab_size,
           ROUND(SUM(klw) + 1e-9, 6) AS kl_to_corpus,
           ROUND(0.5 * (SUM(adw) + (1.0 - SUM(qw))) + 1e-9, 6) AS tv_to_corpus
    FROM per_word GROUP BY g
    """,
)
def unigram_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.unigram_divergence(
        load(spark, sf_dir, "documents"), "source", "text"
    )


# SCD type-2 history build from the event log: per user, versioned
# [valid_from, valid_to) intervals of the event_type attribute.
@register(
    "scd2_history",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS prev
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev IS NULL OR event_type <> prev
    )
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           CAST(row_number() OVER w AS INT) AS version,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return relational.scd2_history(
        load(spark, sf_dir, "events"), "user_id", "ts", "event_type", "event_id"
    )


# Point-in-time (PIT) join — feature-store correctness semantics: each
# fact row gets the dimension VERSION valid at its event time (no
# leakage from future versions).  Composed as SCD2 history + a backward
# as-of on valid_from (versions partition time, so latest valid_from <=
# ts IS the [from, to) interval match the oracle verifies directly).
@register(
    "point_in_time_join",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC) AS prev
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev IS NULL OR event_type <> prev
    ),
    hist AS (
      SELECT user_id, event_type,
             ts AS valid_from,
             lead(ts) OVER w AS valid_to,
             CAST(row_number() OVER w AS INT) AS version
      FROM changes
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    )
    SELECT f.event_id, f.user_id, f.ts,
           h.event_type AS state_at_event,
           h.version AS state_version
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') f
    JOIN hist h
      ON h.user_id = f.user_id AND h.valid_from <= f.ts
     AND (h.valid_to > f.ts OR h.valid_to IS NULL)
    """,
)
def point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIT join of purchase facts against the user-state SCD2 history:
    the union-merge as-of plan (ONE shuffle on the user key) replaces
    the oracle's interval join — the scale-correct formulation, proven
    equivalent by the hash match (versions partition time, so the
    latest valid_from <= ts is exactly the interval-valid version;
    among same-instant versions the highest wins, skipping
    empty-interval versions)."""
    _utc(spark)
    ev = load(spark, sf_dir, "events")
    hist = relational.scd2_history(ev, "user_id", "ts", "event_type", "event_id")
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        # tiebreak column must exist on both sides; the left value is
        # inert (left rows sort after right rows by _side already)
        F.lit(0).alias("version"),
    )
    return relational.asof_join_backward(
        facts,
        hist.select("user_id", "valid_from", "event_type", "version"),
        keys=["user_id"],
        left_ts="ts",
        right_ts="valid_from",
        payload={"event_type": "state_at_event", "version": "state_version"},
        tiebreak="version",
    ).drop("version")


_EN_LIST = ", ".join(f"'{w}'" for w in textstats.EN_STOPWORDS)


@register(
    "quality_scores",
    f"""
    WITH t AS (
      SELECT doc_id, text,
             len({_TOKS_SQL}) AS n_tok,
             len(list_filter({_TOKS_SQL}, x -> list_contains([{_EN_LIST}], lower(x)))) AS n_stop,
             len(regexp_extract_all(text, '[!"#$%&''()*+,\\-./:;<=>?@\\[\\]^_`{{|}}~]')) AS n_punct,
             len(list_distinct({_TOKS_SQL})) AS n_uniq
      FROM documents
    ), r AS (
      SELECT doc_id, n_tok,
             CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS stop_ratio,
             CASE WHEN length(text) > 0 THEN n_punct / length(text) ELSE 0.0 END AS punct_ratio,
             CASE WHEN n_tok > 0 THEN n_uniq / n_tok ELSE 0.0 END AS uniq_ratio,
             least(n_tok / 100.0, 1.0) AS length_score
      FROM t
    )
    SELECT doc_id, n_tok AS n_tokens,
           ROUND(stop_ratio, 4) AS stopword_ratio,
           ROUND(punct_ratio, 4) AS punct_ratio,
           ROUND(uniq_ratio, 4) AS uniq_ratio,
           ROUND(0.4 * uniq_ratio + 0.3 * length_score
                 + 0.2 * (1.0 - punct_ratio)
                 + 0.1 * (1.0 - least(stop_ratio * 2, 1.0)) + 1e-9, 4) AS quality_score
    FROM r
    """,
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_scores(load(spark, sf_dir, "documents"), "doc_id", "text")


_LANG_SCORES_SQL = ",\n           ".join(
    "len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''),"
    f" x -> list_contains([{', '.join(repr(w) for w in textstats.LANG_PROFILES[lang])}], x))) AS score_{lang}"
    for lang in sorted(textstats.LANG_PROFILES)
)

_LANG_CASE_SQL = " ".join(
    f"WHEN score_{lang} = best AND best > 0 THEN '{lang}'"
    for lang in sorted(textstats.LANG_PROFILES)
)


@register(
    "langid",
    f"""
    WITH s AS (
      SELECT doc_id,
           {_LANG_SCORES_SQL}
      FROM documents
    ), b AS (
      SELECT *, greatest(score_de, score_en, score_fr) AS best FROM s
    )
    SELECT doc_id, score_de, score_en, score_fr,
           CASE {_LANG_CASE_SQL} ELSE 'und' END AS pred_lang
    FROM b
    """,
)
def langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.langid(load(spark, sf_dir, "documents"), "doc_id", "text")


# PII scrubbing (training-data hygiene).  The synthetic corpus carries
# no PII, so both engines deterministically INJECT one email / SSN /
# phone / IPv4 per document from doc_id before scrubbing — proving the
# redaction chain fires on every row, with identical regex semantics
# (RE2-safe patterns) across engines.  Output hashes the scrubbed text.
def _pii_scrub_oracle() -> str:
    from .functions.text import PII_PATTERNS

    t = "t"
    for _, pat, repl in PII_PATTERNS:
        t = f"regexp_replace({t}, '{pat}', '{repl}', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all(t, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    return f"""
    WITH aug AS (
      SELECT doc_id,
             concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                    '@example.com ref 123-45-6789 call 555-010-',
                    lpad(CAST(doc_id AS VARCHAR), 4, '0'),
                    ' from 10.0.0.', CAST(doc_id % 256 AS VARCHAR)) AS t
      FROM documents
    )
    SELECT doc_id, {counts}, md5({t}) AS scrubbed_hash
    FROM aug
    """


@register("pii_scrub_v2", _pii_scrub_oracle())
def pii_scrub_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import pii_counts, scrub_pii

    aug = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ref 123-45-6789 call 555-010-"),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"),
            F.lit(" from 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("t"),
    )
    return aug.select(
        "doc_id",
        *pii_counts("t"),
        F.md5(scrub_pii("t")).alias("scrubbed_hash"),
    )


# Capstone: the end-to-end training-data selection — quality gate +
# language filter + exact-dedup keeper + deterministic train split, one
# declarative plan.  Every stage reuses an operator that is ALSO
# oracle-checked standalone.
@register(
    "training_corpus_select",
    f"""
    WITH t AS (
      SELECT doc_id, text,
             len({_TOKS_SQL}) AS n_tok,
             len(list_filter({_TOKS_SQL}, x -> list_contains([{_EN_LIST}], lower(x)))) AS n_stop,
             len(regexp_extract_all(text, '[!"#$%&''()*+,\\-./:;<=>?@\\[\\]^_`{{|}}~]')) AS n_punct,
             len(list_distinct({_TOKS_SQL})) AS n_uniq
      FROM documents
    ), r AS (
      SELECT doc_id, n_tok,
             CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS stop_ratio,
             CASE WHEN length(text) > 0 THEN n_punct / length(text) ELSE 0.0 END AS punct_ratio,
             CASE WHEN n_tok > 0 THEN n_uniq / n_tok ELSE 0.0 END AS uniq_ratio,
             least(n_tok / 100.0, 1.0) AS length_score
      FROM t
    ), q AS (
      SELECT doc_id,
             ROUND(0.4 * uniq_ratio + 0.3 * length_score
                   + 0.2 * (1.0 - punct_ratio)
                   + 0.1 * (1.0 - least(stop_ratio * 2, 1.0)) + 1e-9, 4) AS quality_score
      FROM r
    ), s AS (
      SELECT doc_id,
           {_LANG_SCORES_SQL}
      FROM documents
    ), b AS (
      SELECT *, greatest(score_de, score_en, score_fr) AS best FROM s
    ), l AS (
      SELECT doc_id, CASE {_LANG_CASE_SQL} ELSE 'und' END AS pred_lang FROM b
    ), hashed AS (
      SELECT doc_id, md5(text) AS content_hash FROM documents
    ), keepers AS (
      SELECT MIN(doc_id) AS doc_id FROM hashed GROUP BY content_hash
    ), sp AS (
      SELECT doc_id,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                  THEN 'test' ELSE 'train' END AS split
      FROM documents
    )
    SELECT q.doc_id, q.quality_score, l.pred_lang
    FROM q
    JOIN l ON l.doc_id = q.doc_id
    JOIN keepers k ON k.doc_id = q.doc_id
    JOIN sp ON sp.doc_id = q.doc_id
    WHERE q.quality_score >= 0.5 AND l.pred_lang = 'en' AND sp.split = 'train'
    """,
)
def training_corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus selection: keep documents that pass
    the quality gate, classify as English, survive exact dedup as their
    group's keeper, and fall in the train split.

    All per-row measures (quality, language, split, content hash) are
    COLUMN BUILDERS computed in ONE projection over ONE scan; keeper
    selection is min(doc_id) over a content_hash window, so the whole
    pipeline is one scan + ONE shuffle and no join.  (Joining the
    standalone operator outputs instead would scan the table four times
    and shuffle thrice.)  Keeper choice must precede the quality/lang
    filters: the group keeper is defined over the full corpus."""
    docs = load(spark, sf_dir, "documents")
    split_bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    feats = docs.select(
        "doc_id",
        textstats.quality_cols("text")["quality_score"].alias("quality_score"),
        textstats.pred_lang_col("text").alias("pred_lang"),
        F.when(split_bucket < "1a", F.lit("test")).otherwise(F.lit("train")).alias("split"),
        F.md5(F.col("text")).alias("content_hash"),
    )
    w = Window.partitionBy("content_hash")
    return (
        feats.withColumn("_keeper", F.min("doc_id").over(w))
        .filter(
            (F.col("doc_id") == F.col("_keeper"))
            & (F.col("quality_score") >= 0.5)
            & (F.col("pred_lang") == "en")
            & (F.col("split") == "train")
        )
        .select("doc_id", "quality_score", "pred_lang")
    )


# double embedded single quotes: the lexicon now carries emoticon
# entries like :'( which would otherwise break the VALUES literal
_LEX_VALUES = ", ".join(
    f"('{w.replace(chr(39), chr(39) * 2)}', {v})" for w, v in sorted(LEXICON.items())
)


_SENTIMENT_REL_SQL = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS word FROM documents
    ), lex(word, valence) AS (VALUES {_LEX_VALUES}),
    s AS (
      SELECT d.doc_id, COALESCE(SUM(l.valence), 0.0) AS x
      FROM (SELECT DISTINCT doc_id FROM documents) d
      LEFT JOIN tok t ON t.doc_id = d.doc_id
      LEFT JOIN lex l ON l.word = t.word
      GROUP BY d.doc_id
    )
    SELECT doc_id,
           ROUND(x / sqrt(x * x + {ALPHA}), 4) AS sentiment_score,
           CASE WHEN ROUND(x / sqrt(x * x + {ALPHA}), 4) > {POS_THRESHOLD} THEN 'positive'
                WHEN ROUND(x / sqrt(x * x + {ALPHA}), 4) < {NEG_THRESHOLD} THEN 'negative'
                ELSE 'neutral' END AS sentiment
    FROM s
    """


# O21 relational path: lexicon sentiment + threshold bucketing.
@register("sentiment_relational", _SENTIMENT_REL_SQL)
def sentiment_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    return score_relational(load(spark, sf_dir, "documents"), ["doc_id"], "text")


# O21 full VADER semantics (negation/boosters/caps/punctuation/but-clause),
# pure Catalyst; oracle is generated from the same constants
# (functions/vader.py mirrors redditProcessor.py:23-33's stock analyzer).
from .functions import vader as _vader  # noqa: E402


@register(
    "sentiment_vader",
    _vader.vader_oracle_sql("documents", "doc_id", "text"),
)
def sentiment_vader(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _vader.score_vader_relational(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


# ---------------------------------------------------------------------------
# Similarity search + embedding near-dup (north-star).
# ---------------------------------------------------------------------------

_ANN_QUERY_IDS = [0, 1, 2]


@register(
    "ann_cosine_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 4) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, cos, rk FROM ranked WHERE rk <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_topk(
        load(spark, sf_dir, "embeddings"), _ANN_QUERY_IDS, k=5
    )


# Contrastive hard-negative mining (DPR/SimCSE): per query, the k
# most-similar corpus rows with a DIFFERENT label — the near-boundary
# negatives contrastive training wants.  Same exact-scoring plan as
# ann_cosine_topk plus the label-mismatch predicate.
@register(
    "hard_negative_mining",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS query_label,
             CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})
    ), scored AS (
      SELECT q.query_id, q.query_label, e.vec_id AS neighbor_id,
             e.label AS neighbor_label,
             ROUND(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 4) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.label <> q.query_label
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, cos, rk
    FROM ranked WHERE rk <= 5
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.hard_negative_topk(
        load(spark, sf_dir, "embeddings"), _ANN_QUERY_IDS, k=5
    )


def _neardup_bucket_sql(planes: list[list[float]]) -> str:
    bits = []
    for plane in planes:
        lits = ", ".join(repr(x) for x in plane)
        bits.append(
            "CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), "
            f"[{lits}]) >= 0 THEN '1' ELSE '0' END"
        )
    return "concat(" + ", ".join(bits) + ")"


_NEARDUP_PLANES_N = 12
_NEARDUP_BANDS = 3
_NEARDUP_THRESHOLD = 0.3
# Hot-bucket star cap.  With 4-bit bands (16 buckets/band) a FIXED cap
# of 4096 never bound below ~65k rows, so per-bucket occupancy — and
# the per-bucket self-join — grew with n (the round-5 scale smoke
# measured 56x wall at 10x data).  256 binds from ~4k rows up; beyond
# the cap every bucket degrades gracefully to O(m) star pairs and the
# operator stays ~linear.  The DuckDB oracle replays the IDENTICAL
# deterministic min-id star pairing, so correctness holds at any scale,
# capped or not.
_NEARDUP_CAP = 256
# A cap small enough to bind on the sf0.001/sf0.01 gate data (500
# vectors / 16 buckets ~ 31 per bucket), so the star-pairing code path
# itself carries hard oracle coverage — not just the uncapped path.
_NEARDUP_CAP_SMALL = 16


def _neardup_oracle(cap: int) -> str:
    """DuckDB replay of `dedup.embedding_neardup_pairs` INCLUDING the
    hot-bucket star pairing: buckets over `cap` pair members only with
    the bucket's min-id representative (exactly the engine's cap path),
    cold buckets pair all-vs-all."""
    from .functions.vectors import make_planes

    planes = make_planes(64, _NEARDUP_PLANES_N)
    rpb = _NEARDUP_PLANES_N // _NEARDUP_BANDS
    keyed_selects = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {b} AS band, "
        f"{_neardup_bucket_sql(planes[b * rpb:(b + 1) * rpb])} AS bkey "
        "FROM embeddings"
        for b in range(_NEARDUP_BANDS)
    )
    return f"""
    WITH keyed AS (
      {keyed_selects}
    ), sz AS (
      SELECT band, bkey, COUNT(*) AS c, MIN(vec_id) AS rep
      FROM keyed GROUP BY band, bkey
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
      FROM keyed a
      JOIN keyed b ON a.band = b.band AND a.bkey = b.bkey
                  AND a.vec_id < b.vec_id
      JOIN sz s ON s.band = a.band AND s.bkey = a.bkey
      WHERE s.c <= {cap}
      UNION ALL
      SELECT s.rep AS id_a, m.vec_id AS id_b, r.v AS va, m.v AS vb
      FROM keyed m
      JOIN sz s ON s.band = m.band AND s.bkey = m.bkey AND s.c > {cap}
      JOIN keyed r ON r.band = m.band AND r.bkey = m.bkey
                  AND r.vec_id = s.rep
      WHERE m.vec_id > s.rep
    )
    SELECT DISTINCT id_a, id_b,
           ROUND(list_cosine_similarity(va, vb), 4) AS cos
    FROM pairs
    WHERE ROUND(list_cosine_similarity(va, vb), 4) >= {_NEARDUP_THRESHOLD}
    """


@register("embedding_neardup", _neardup_oracle(_NEARDUP_CAP))
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_neardup_pairs(
        load(spark, sf_dir, "embeddings"),
        threshold=_NEARDUP_THRESHOLD,
        n_planes=_NEARDUP_PLANES_N,
        bands=_NEARDUP_BANDS,
        max_bucket_size=_NEARDUP_CAP,
    )


@register("embedding_neardup_capped", _neardup_oracle(_NEARDUP_CAP_SMALL))
def embedding_neardup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same operator with a cap that BINDS at gate scale: hard oracle
    coverage for the hot-bucket star pairing (`operators/dedup.py`,
    `embedding_neardup_pairs` cap path) that keeps the headline query
    linear at 100-TB bucket occupancies."""
    return dedup.embedding_neardup_pairs(
        load(spark, sf_dir, "embeddings"),
        threshold=_NEARDUP_THRESHOLD,
        n_planes=_NEARDUP_PLANES_N,
        bands=_NEARDUP_BANDS,
        max_bucket_size=_NEARDUP_CAP_SMALL,
    )


_BITEXT_CAP = 64


def _bitext_lsh_oracle() -> str:
    """DuckDB replay of lsh_band_candidates + margin_bitext_mine
    INCLUDING the hot-bucket star cap: the hyperplane literals are
    shared (make_planes), so the capped candidate set, integer
    cosines, k-NN sums, and margin all replay exactly."""
    from .functions.vectors import make_planes

    planes = make_planes(64, 8)
    rpb = 2
    cap = _BITEXT_CAP

    def side(par: int, idc: str) -> str:
        return "\n      UNION ALL\n      ".join(
            f"SELECT vec_id AS {idc}, {b} AS band, "
            f"{_neardup_bucket_sql(planes[b * rpb:(b + 1) * rpb])} AS key "
            f"FROM embeddings WHERE vec_id % 2 = {par}"
            for b in range(4)
        )

    return f"""
    WITH ka AS (
      {side(0, 'id_a')}
    ), kb AS (
      {side(1, 'id_b')}
    ), sz AS (
      SELECT a.band, a.key, a.ca, a.rep_a, b.cb, b.rep_b
      FROM (SELECT band, key, COUNT(*) AS ca, MIN(id_a) AS rep_a
            FROM ka GROUP BY band, key) a
      JOIN (SELECT band, key, COUNT(*) AS cb, MIN(id_b) AS rep_b
            FROM kb GROUP BY band, key) b USING (band, key)
    ), cand AS (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT ka.id_a, kb.id_b
        FROM ka JOIN kb USING (band, key) JOIN sz USING (band, key)
        WHERE sz.ca <= {cap} AND sz.cb <= {cap}
        UNION ALL
        SELECT ka.id_a, sz.rep_b AS id_b
        FROM ka JOIN sz USING (band, key)
        WHERE sz.ca > {cap} OR sz.cb > {cap}
        UNION ALL
        SELECT sz.rep_a AS id_a, kb.id_b
        FROM kb JOIN sz USING (band, key)
        WHERE sz.ca > {cap} OR sz.cb > {cap}
      )
    ), av AS (
      SELECT vec_id AS id_a, CAST(embedding AS DOUBLE[]) AS va
      FROM embeddings WHERE vec_id % 2 = 0
    ), bv AS (
      SELECT vec_id AS id_b, CAST(embedding AS DOUBLE[]) AS vb
      FROM embeddings WHERE vec_id % 2 = 1
    ), scored AS (
      SELECT c.id_a, c.id_b,
             CAST(ROUND(list_cosine_similarity(av.va, bv.vb) * 1000000.0)
                  AS BIGINT) AS cos_e6
      FROM cand c JOIN av USING (id_a) JOIN bv USING (id_b)
    ), knn_a AS (
      SELECT id_a, CAST(SUM(cos_e6) AS BIGINT) AS sum_a FROM (
        SELECT id_a, cos_e6,
               row_number() OVER (PARTITION BY id_a
                                  ORDER BY cos_e6 DESC, id_b) AS rk
        FROM scored) WHERE rk <= 4 GROUP BY id_a
    ), knn_b AS (
      SELECT id_b, CAST(SUM(cos_e6) AS BIGINT) AS sum_b FROM (
        SELECT id_b, cos_e6,
               row_number() OVER (PARTITION BY id_b
                                  ORDER BY cos_e6 DESC, id_a) AS rk
        FROM scored) WHERE rk <= 4 GROUP BY id_b
    ), m AS (
      SELECT s.id_a, s.id_b, s.cos_e6,
             8.0 * s.cos_e6 / (ka.sum_a + kb.sum_b) AS margin
      FROM scored s
      JOIN knn_a ka USING (id_a) JOIN knn_b kb USING (id_b)
      WHERE ka.sum_a + kb.sum_b > 0
    )
    SELECT id_a, id_b, cos_e6 / 1000000.0 AS cos,
           ROUND(margin, 4) AS margin
    FROM (SELECT *, row_number() OVER (PARTITION BY id_a
                    ORDER BY ROUND(margin, 6) DESC, id_b) AS rk FROM m)
    WHERE rk = 1 AND margin > 1.05
    """


@register("bitext_margin_mine_lsh", _bitext_lsh_oracle())
def bitext_margin_mine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB form of bitext mining: pair generation bounded by
    hyperplane-LSH band buckets (`lsh_band_candidates` — the join runs
    on (band, key), never A x B), margin arithmetic identical to the
    brute twin.  Neighborhood sums run over the RETRIEVED candidates,
    exactly as production mining does over its ANN index results; the
    oracle replays the shared plane literals end-to-end."""
    emb = load(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    return similarity.margin_bitext_mine(
        a,
        b,
        k=4,
        margin_threshold=1.05,
        candidates=similarity.lsh_band_candidates(
            a, b, max_bucket_size=_BITEXT_CAP
        ),
    )



_KMEANS_K = 4
_KMEANS_ITERS = 2


@register(
    "kmeans_embeddings",
    clustering.kmeans_oracle_sql(k=_KMEANS_K, iters=_KMEANS_ITERS),
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-oracle Lloyd's k-means over the embedding corpus: decimal-
    quantized arithmetic makes the iterative algorithm bit-identical
    across engines (the usual FP-order nondeterminism is engineered
    out), so even the per-vector squared distances hash-match the
    DuckDB unrolled-CTE replay.  Broadcast centroids + one partial-agg
    shuffle per round — the MLlib dataflow in pure DataFrame ops."""
    return clustering.kmeans_lloyd(
        load(spark, sf_dir, "embeddings"), k=_KMEANS_K, iters=_KMEANS_ITERS
    )


_SEMDEDUP_THRESHOLD = 0.3
# Auto-sized clustering + skew cap (round-6): a FIXED k=4 made the
# within-cluster compare n^2/4 — all-pairs with a constant shaved off.
# k now grows with the corpus (target ~100 vectors/cluster) and
# clusters past the cap star-pair against their min-id rep, so the
# operator stays ~linear end-to-end.  Both knobs are replayed exactly
# in the DuckDB oracle (dynamic-k via subquery LIMIT; star drops).
_SEMDEDUP_TARGET = 100
_SEMDEDUP_K_MAX = 20
_SEMDEDUP_CAP = 256
# Cap that BINDS at gate scale (500 vectors / k=5 -> ~100 per cluster):
# hard oracle coverage for the star-pairing path itself.
_SEMDEDUP_CAP_SMALL = 25
_SEMDEDUP_K_SQL = (
    f"(SELECT greatest(4, least({_SEMDEDUP_K_MAX}, "
    f"CAST(ceil(COUNT(*) / {_SEMDEDUP_TARGET}.0) AS BIGINT))) "
    "FROM embeddings)"
)


def _semantic_dedup_oracle(cap: int) -> str:
    """Compose the k-means oracle (corpus-sized k via subquery LIMIT)
    with the within-cluster cosine drop — the SQL replay of
    dedup.semantic_dedup's keep-smallest-id policy INCLUDING the
    oversized-cluster star pairing (members of clusters past `cap`
    compare only against the cluster's min-id rep)."""
    km = clustering.kmeans_oracle_sql(k=_SEMDEDUP_K_SQL, iters=_KMEANS_ITERS)
    return f"""
    WITH km AS ({km}),
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    m AS (
      SELECT k.vec_id, k.cluster, v.v FROM km k JOIN v USING (vec_id)
    ),
    sz AS (
      SELECT cluster, COUNT(*) AS c, MIN(vec_id) AS rep FROM m GROUP BY cluster
    ),
    drop_pairs AS (
      SELECT b.vec_id
      FROM m a
      JOIN m b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN sz s ON s.cluster = a.cluster
      WHERE s.c <= {cap}
        AND ROUND(list_cosine_similarity(a.v, b.v), 4) >= {_SEMDEDUP_THRESHOLD}
      UNION ALL
      SELECT mm.vec_id
      FROM m mm
      JOIN sz s ON s.cluster = mm.cluster AND s.c > {cap}
      JOIN m r ON r.cluster = mm.cluster AND r.vec_id = s.rep
      WHERE mm.vec_id > s.rep
        AND ROUND(list_cosine_similarity(r.v, mm.v), 4) >= {_SEMDEDUP_THRESHOLD}
    ),
    drops AS (SELECT DISTINCT vec_id FROM drop_pairs)
    SELECT k.vec_id, k.cluster, (d.vec_id IS NULL) AS is_kept
    FROM km k LEFT JOIN drops d ON d.vec_id = k.vec_id
    """


@register("semantic_dedup", _semantic_dedup_oracle(_SEMDEDUP_CAP))
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): corpus-sized
    k-means clusters bound the pairwise cosine, keep-smallest-id inside
    each cluster, star-capped skew tail
    (`operators/dedup.semantic_dedup`).  Clustering reuses the
    decimal-exact Lloyd's loop so the whole composition — iterative
    clustering at auto-sized k AND the similarity pruning — hash-
    matches the DuckDB replay end-to-end."""
    return dedup.semantic_dedup(
        load(spark, sf_dir, "embeddings"),
        k=None,
        iters=_KMEANS_ITERS,
        threshold=_SEMDEDUP_THRESHOLD,
        target_cluster=_SEMDEDUP_TARGET,
        max_cluster_size=_SEMDEDUP_CAP,
    )


@register("semantic_dedup_capped", _semantic_dedup_oracle(_SEMDEDUP_CAP_SMALL))
def semantic_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same operator with a cluster cap that BINDS at gate scale: hard
    oracle coverage for the oversized-cluster star pairing that keeps
    the headline query linear under k-means mass-collapse skew."""
    return dedup.semantic_dedup(
        load(spark, sf_dir, "embeddings"),
        k=None,
        iters=_KMEANS_ITERS,
        threshold=_SEMDEDUP_THRESHOLD,
        target_cluster=_SEMDEDUP_TARGET,
        max_cluster_size=_SEMDEDUP_CAP_SMALL,
    )


_PQ_M = 4
_PQ_K = 16
_PQ_DSUB = 64 // _PQ_M


def _pq_base_sql() -> str:
    """Shared CTEs: quantized long-form vectors (float->double->decimal,
    same contract as the k-means oracle), seed codebook, argmin codes."""
    return f"""
    long AS (
      SELECT vec_id AS vid,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(9,6)) AS val
      FROM embeddings
    ),
    seeds AS (
      SELECT vid, row_number() OVER (ORDER BY vid) - 1 AS code
      FROM (SELECT vec_id AS vid FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})
    ),
    cent AS (
      SELECT s.code, l.dim // {_PQ_DSUB} AS sub, l.dim % {_PQ_DSUB} AS sdim, l.val
      FROM long l JOIN seeds s USING (vid)
    ),
    subdist AS (
      SELECT l.vid, c.sub, c.code,
             SUM((l.val - c.val) * (l.val - c.val)) AS d
      FROM long l JOIN cent c
        ON l.dim // {_PQ_DSUB} = c.sub AND l.dim % {_PQ_DSUB} = c.sdim
      GROUP BY 1, 2, 3
    ),
    codes AS (
      SELECT vid, sub, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vid, sub ORDER BY d, code) AS rn
        FROM subdist
      ) WHERE rn = 1
    )"""


@register(
    "pq_codes",
    "WITH "
    + _pq_base_sql()
    + f"""
    SELECT vid AS vec_id,
           {', '.join(f"CAST(MAX(CASE WHEN sub = {s} THEN code END) AS INT) AS code{s}" for s in range(_PQ_M))}
    FROM codes GROUP BY vid
    """,
)
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: 4 subspace codes per vector (4
    bytes vs 256 raw — the ANN memory-compression path at 100 TB).
    Narrow map against the broadcast seed codebook; exact-decimal
    argmin hash-matches the DuckDB replay."""
    return similarity.pq_encode(
        load(spark, sf_dir, "embeddings"), m=_PQ_M, k=_PQ_K
    )


@register(
    "pq_ann_topk",
    "WITH "
    + _pq_base_sql()
    + f"""
    , dtable AS (
      SELECT l.vid AS query_id, c.sub, c.code,
             CAST(SUM((l.val - c.val) * (l.val - c.val)) * 1000000000000 AS BIGINT) AS d_e12
      FROM long l JOIN cent c
        ON l.dim // {_PQ_DSUB} = c.sub AND l.dim % {_PQ_DSUB} = c.sdim
      WHERE l.vid IN ({', '.join(map(str, _ANN_QUERY_IDS))})
      GROUP BY 1, 2, 3
    ),
    adc AS (
      SELECT t.query_id, x.vid AS neighbor_id, CAST(SUM(t.d_e12) AS BIGINT) AS adc_e12
      FROM codes x JOIN dtable t ON x.sub = t.sub AND x.code = t.code
      WHERE x.vid <> t.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_e12, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_e12, neighbor_id) AS rk
      FROM adc
    ) WHERE rk <= 5
    """,
)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance-computation top-5 over PQ codes: per-query
    exact subspace distance table (driver metadata, broadcast) summed
    via code lookup.  BIGINT distances at scale 12 — no float rounding
    contract in the oracle."""
    return similarity.pq_adc_topk(
        load(spark, sf_dir, "embeddings"),
        _ANN_QUERY_IDS,
        m=_PQ_M,
        k=_PQ_K,
        topk=5,
    )


_IVFPQ_CENTROIDS, _IVFPQ_PROBE = 16, 4


@register(
    "ivf_pq_topk",
    "WITH "
    + _pq_base_sql()
    + f"""
    , dtable AS (
      SELECT l.vid AS query_id, c.sub, c.code,
             CAST(SUM((l.val - c.val) * (l.val - c.val)) * 1000000000000 AS BIGINT) AS d_e12
      FROM long l JOIN cent c
        ON l.dim // {_PQ_DSUB} = c.sub AND l.dim % {_PQ_DSUB} = c.sdim
      WHERE l.vid IN ({', '.join(map(str, _ANN_QUERY_IDS))})
      GROUP BY 1, 2, 3
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    icents AS (
      SELECT vec_id AS centroid_id, v AS cv FROM v WHERE vec_id < {_IVFPQ_CENTROIDS}
    ),
    iscored AS (
      SELECT e.vec_id, c.centroid_id,
             ROUND(list_cosine_similarity(e.v, c.cv), 6) AS ccos
      FROM v e CROSS JOIN icents c
    ),
    iassigned AS (
      SELECT vec_id, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, centroid_id) AS rk
        FROM iscored) WHERE rk = 1
    ),
    iprobes AS (
      SELECT query_id, cell FROM (
        SELECT vec_id AS query_id, centroid_id AS cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, centroid_id) AS rk
        FROM iscored WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})
      ) WHERE rk <= {_IVFPQ_PROBE}
    ),
    icand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM iassigned a JOIN iprobes p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    ),
    adc AS (
      SELECT cd.query_id, cd.neighbor_id, CAST(SUM(t.d_e12) AS BIGINT) AS adc_e12
      FROM icand cd
      JOIN codes x ON x.vid = cd.neighbor_id
      JOIN dtable t ON t.query_id = cd.query_id
                   AND t.sub = x.sub AND t.code = x.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_e12, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_e12, neighbor_id) AS rk
      FROM adc
    ) WHERE rk <= 5
    """,
)
def ivf_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (the FAISS production shape): the IVF probe
    bounds WHICH vectors are scored, PQ asymmetric distance bounds the
    per-vector cost to m code lookups.  Centroids, probes, and the ADC
    table broadcast; the corpus shuffles once at most.  The composed
    oracle nests the PQ CTEs with the IVF assignment — the whole
    two-stage approximate index hash-matches."""
    return similarity.ivf_pq_topk(
        load(spark, sf_dir, "embeddings"),
        _ANN_QUERY_IDS,
        n_centroids=_IVFPQ_CENTROIDS,
        n_probe=_IVFPQ_PROBE,
        m=_PQ_M,
        k=_PQ_K,
        topk=5,
    )


@register("triangle_counts_cosupply", graph.triangle_oracle_sql(min_orders=3))
def triangle_counts_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the co-supply graph (suppliers
    sharing >= 3 orders).  Degree-oriented wedge join — the scalable
    formulation whose wedge fan-out is bounded by O(sqrt(|E|)) per apex
    even on hub nodes; each triangle generated exactly once."""
    return graph.triangle_counts(
        graph.cosupply_edges(load(spark, sf_dir, "lineitem"), min_orders=3)
    )


_HITS_ITERS = 2


@register("hits_copurchase", graph.hits_oracle_sql(iters=_HITS_ITERS))
def hits_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the DIRECTED customer->supplier
    co-purchase graph: customers are hubs, suppliers authorities.
    Sum-normalized e6 fixed point with integer half-up division each
    round — the iterative scores hash-match the unrolled-CTE replay
    exactly (the pagerank no-float contract, second algorithm)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    return graph.hits(pairs, iters=_HITS_ITERS)


_PAGERANK_ITERS = 3


@register("pagerank_copurchase", graph.pagerank_oracle_sql(iters=_PAGERANK_ITERS))
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the customer-supplier co-purchase
    graph, computed entirely in BIGINT unscaled-x10^12 arithmetic so the
    iterative ranks hash-match DuckDB exactly (no float rounding
    contract).  Pregel dataflow: cached edges, one join + one partial-agg
    shuffle per round, ranks never collected to the driver."""
    ranks = graph.pagerank(
        graph.bipartite_copurchase_edges(
            load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders")
        ),
        iters=_PAGERANK_ITERS,
    )
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("node_key"),
        "rank_e12",
    )


_LPA_EDGES_CTE = """pairs AS (
      SELECT DISTINCT o.o_custkey * 2 AS cnode, l.l_suppkey * 2 + 1 AS snode
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT cnode AS src, snode AS dst FROM pairs
      UNION ALL
      SELECT snode AS src, cnode AS dst FROM pairs
    )"""


@register(
    "label_propagation",
    graph.label_propagation_oracle_sql(_LPA_EDGES_CTE, iters=3),
)
def label_propagation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (min-tie) synchronous label propagation over the
    co-purchase graph: community labels after 3 fixed rounds, exactly
    replayed by an unrolled-CTE oracle — the community-detection
    counterpart of the integer PageRank."""
    return graph.label_propagation(
        graph.bipartite_copurchase_edges(
            load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders")
        ),
        iters=3,
    )


# Customers 0 and 1 in the even/odd bipartite node namespace.
_KHOP_SEEDS = [0, 2]


@register(
    "khop_reachability",
    graph.khop_oracle_sql(_LPA_EDGES_CTE, _KHOP_SEEDS, k=3),
)
def khop_reachability_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-hop reachability (min BFS distance <= 3) from a seed
    customer set over the co-purchase graph — the recursive-CTE query
    class, expressed as the iterative frontier dataflow Spark wants
    (one semi-join + anti-join per round against cached edges) and
    replayed by a DuckDB WITH RECURSIVE oracle."""
    return graph.khop_reachability(
        graph.bipartite_copurchase_edges(
            load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders")
        ),
        _KHOP_SEEDS,
        k=3,
    )


# First-order Markov transitions over per-user event sequences — the
# path-analysis model behind funnels (P(next_type | type) + counts).
@register(
    "event_transitions",
    """
    WITH nx AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ), cnt AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type)
                 + 1e-9, 6) AS p
    FROM cnt
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.event_transition_matrix(
        load(spark, sf_dir, "events"), "user_id", "ts", "event_type", "event_id"
    )


# RFM (recency/frequency/monetary) quartile segmentation over purchases.
@register(
    "rfm_segments",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    per_user AS (
      SELECT user_id,
             MAX(date_trunc('day', ts)) AS last_day,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS monetary_e4
      FROM p GROUP BY user_id
    ), ref AS (SELECT MAX(date_trunc('day', ts)) AS ref_day FROM p),
    base AS (
      SELECT user_id, datediff('day', last_day, ref_day) AS recency_days,
             frequency, monetary_e4
      FROM per_user CROSS JOIN ref
    )
    SELECT user_id, CAST(recency_days AS INT) AS recency_days, frequency, monetary_e4,
           ntile(4) OVER (ORDER BY recency_days ASC, user_id ASC) AS r,
           ntile(4) OVER (ORDER BY frequency DESC, user_id ASC) AS f,
           ntile(4) OVER (ORDER BY monetary_e4 DESC, user_id ASC) AS m,
           concat(ntile(4) OVER (ORDER BY recency_days ASC, user_id ASC), '-',
                  ntile(4) OVER (ORDER BY frequency DESC, user_id ASC), '-',
                  ntile(4) OVER (ORDER BY monetary_e4 DESC, user_id ASC)) AS segment
    FROM base
    """,
)
def rfm_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return windows.rfm_segments(ev, "user_id", "ts", "value")


# Ordered-funnel conversion view -> click -> purchase: earliest step-1
# event, then earliest step-2 event strictly after it (tuple-compare
# (ts, event_id) tie-break), etc.  Spark computes it with ONE shuffle
# (sorted-array fold per user); the oracle replays the equivalent
# 3-level conditional-min formulation.
_FUNNEL_STEPS = ["view", "click", "purchase"]


@register(
    "funnel_steps",
    """
    WITH e AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    r1 AS (
      SELECT user_id, ts, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM e WHERE event_type = 'view'
    ),
    s1 AS (SELECT user_id, ts AS t1, event_id AS e1 FROM r1 WHERE rn = 1),
    r2 AS (
      SELECT c.user_id, c.ts, c.event_id,
             row_number() OVER (PARTITION BY c.user_id ORDER BY c.ts, c.event_id) AS rn
      FROM e c JOIN s1 ON s1.user_id = c.user_id
      WHERE c.event_type = 'click'
        AND (c.ts > s1.t1 OR (c.ts = s1.t1 AND c.event_id > s1.e1))
    ),
    s2 AS (SELECT user_id, ts AS t2, event_id AS e2 FROM r2 WHERE rn = 1),
    r3 AS (
      SELECT c.user_id, c.ts, c.event_id,
             row_number() OVER (PARTITION BY c.user_id ORDER BY c.ts, c.event_id) AS rn
      FROM e c JOIN s2 ON s2.user_id = c.user_id
      WHERE c.event_type = 'purchase'
        AND (c.ts > s2.t2 OR (c.ts = s2.t2 AND c.event_id > s2.e2))
    ),
    s3 AS (SELECT user_id, ts AS t3 FROM r3 WHERE rn = 1)
    SELECT s1.user_id,
           CAST(1 + (CASE WHEN s2.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  + (CASE WHEN s3.user_id IS NOT NULL THEN 1 ELSE 0 END) AS INT)
             AS stages_completed,
           s1.t1 AS ts_step1, s2.t2 AS ts_step2, s3.t3 AS ts_step3
    FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
            LEFT JOIN s3 ON s3.user_id = s1.user_id
    """,
)
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.funnel_stages(
        load(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "event_type",
        _FUNNEL_STEPS,
        tiebreak="event_id",
    )


# ---------------------------------------------------------------------------
# Event-time windows (additive: the reference has no event-time story).
# ---------------------------------------------------------------------------


@register(
    "window_tumbling",
    f"""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           COUNT(*) AS n_events,
           {_dec_sum_sql('value')} AS sum_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.tumbling_agg(load(spark, sf_dir, "events"))


@register(
    "window_sliding",
    """
    SELECT win_start, COUNT(*) AS n_events FROM (
      SELECT time_bucket(INTERVAL '30 minutes', ts) + off AS win_start
      FROM events
      CROSS JOIN (VALUES (INTERVAL '0' MINUTE), (-INTERVAL '30' MINUTE)) x(off)
    ) GROUP BY win_start
    """,
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.sliding_agg(load(spark, sf_dir, "events"))


@register(
    "session_windows",
    """
    WITH lagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN datediff('microsecond',
                               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                               ts) > 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS _new
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             CAST(SUM(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_seq
      FROM lagged
    )
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM numbered GROUP BY user_id, session_seq
    """,
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.session_windows_gaps(
        load(spark, sf_dir, "events"), gap_minutes=30
    )


# ---------------------------------------------------------------------------
# Additive relational: rollup, pivot, dedup-keep-first, approx distinct.
# ---------------------------------------------------------------------------


@register(
    "rollup_agg",
    f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           {_dec_sum_sql('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return relational.rollup_counts(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "n_items": F.count(F.lit(1)),
            "sum_qty": dec_sum("l_quantity"),
        },
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_event_counts",
    "SELECT user_id, "
    + ", ".join(
        f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS {t}"
        for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY user_id",
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    piv = relational.pivot_counts(ev, "user_id", "event_type", _EVENT_TYPES)
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in _EVENT_TYPES],
    )


@register(
    "dedup_keep_first",
    """
    SELECT event_id, ts, user_id, event_type, value FROM (
      SELECT event_id, ts, user_id, event_type, value,
             row_number() OVER (PARTITION BY event_id ORDER BY ts, value) AS _rn
      FROM (SELECT event_id, ts, user_id, event_type, value FROM events
            UNION ALL
            SELECT event_id, ts, user_id, event_type, value FROM events)
    ) WHERE _rn = 1
    """,
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    doubled = ev.unionByName(ev)  # synthesize redelivery duplicates
    return dedup.exact_dedup_keep_first(
        doubled, "event_id", [F.asc("ts"), F.asc("value")]
    )


# ---------------------------------------------------------------------------
# Additive join family: as-of, range/theta, set ops, positional.
# ---------------------------------------------------------------------------


@register(
    "asof_join_clicks_purchases",
    """
    WITH tagged AS (
      SELECT user_id, ts AS _ats, 0 AS _side, event_id AS _tb,
             struct_pack(last_purchase_ts := ts, last_purchase_value := value) AS _pay,
             NULL::BIGINT AS event_id, NULL::TIMESTAMP AS ts, NULL::DOUBLE AS value
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, 1, event_id, NULL, event_id, ts, value
      FROM events WHERE event_type = 'click'
    ), m AS (
      SELECT *, last_value(_pay IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY _ats, _side, _tb
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _m
      FROM tagged
    )
    SELECT event_id, user_id, ts, value,
           _m.last_purchase_ts AS last_purchase_ts,
           _m.last_purchase_value AS last_purchase_value
    FROM m WHERE _side = 1
    """,
)
def asof_join_clicks_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click gets the user's latest preceding
    purchase (union-merge formulation, one shuffle — see
    relational.asof_join_backward)."""
    _utc(spark)
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return relational.asof_join_backward(
        clicks,
        purchases,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload={"ts": "last_purchase_ts", "value": "last_purchase_value"},
        tiebreak="event_id",
    )


@register(
    "asof_join_forward",
    """
    WITH tagged AS (
      SELECT user_id, ts AS _ats, 0 AS _side, event_id AS _tb,
             struct_pack(next_purchase_ts := ts, next_purchase_value := value) AS _pay,
             NULL::BIGINT AS event_id, NULL::TIMESTAMP AS ts, NULL::DOUBLE AS value
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, 1, event_id, NULL, event_id, ts, value
      FROM events WHERE event_type = 'click'
    ), m AS (
      SELECT *, last_value(_pay IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY _ats DESC, _side ASC, _tb DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _m
      FROM tagged
    )
    SELECT event_id, user_id, ts, value,
           _m.next_purchase_ts AS next_purchase_ts,
           _m.next_purchase_value AS next_purchase_value
    FROM m WHERE _side = 1
    """,
)
def asof_join_forward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click gets the user's EARLIEST following
    purchase ("what happened next") — the mirror of the backward
    variant, same union-merge single-shuffle plan scanned in descending
    time order (relational.asof_join_forward)."""
    _utc(spark)
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return relational.asof_join_forward(
        clicks,
        purchases,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload={"ts": "next_purchase_ts", "value": "next_purchase_value"},
        tiebreak="event_id",
    )


@register(
    "rolling_hash_fingerprint",
    """
    WITH h AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(7::BIGINT,
                 list_transform(
                   list_filter(string_split_regex(text, ''), c -> c <> ''),
                   c -> ascii(c)::BIGINT)),
               (a, x) -> (a * 31 + x) % 2147483647) AS rhash
      FROM documents
    )
    SELECT rhash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
    FROM h GROUP BY rhash
    """,
)
def rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp-style rolling-hash document fingerprint (byte-stream
    identity) grouped into dedup buckets — the order-sensitive twin of
    the token fingerprint (functions/text.rolling_hash)."""
    from .functions.text import rolling_hash
    from .sources.tables import fan_out

    docs = fan_out(load(spark, sf_dir, "documents"))
    return (
        docs.select("doc_id", rolling_hash("text").alias("rhash"))
        .groupBy("rhash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "unpivot_measures",
    """
    SELECT o_orderkey, measure, ROUND(val, 4) AS val FROM (
      SELECT o_orderkey, 'totalprice' AS measure, o_totalprice AS val FROM orders
      UNION ALL
      SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE) FROM orders
    ) WHERE o_orderkey < 1000
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long unpivot (melt) via the native unpivot operator — the
    inverse of pivot_event_counts.  Narrow map: each input row emits N
    measure rows with no shuffle."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return (
        o.select(
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            F.col("o_custkey").cast("double").alias("custkey"),
        )
        .unpivot("o_orderkey", ["totalprice", "custkey"], "measure", "val")
        .select("o_orderkey", "measure", F.round("val", 4).alias("val"))
    )


@register(
    "ntile_deciles",
    """
    SELECT decile, COUNT(*) AS n, {sum_sql} AS decile_total
    FROM (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    ) GROUP BY decile
    """.format(sum_sql=_dec_sum_sql("o_totalprice")),
)
def ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing via exact ntile over a total order (tie-broken
    on the unique key so bucket membership is deterministic
    cross-engine).  Scale shape (round 6): a bare `ntile() OVER
    (ORDER BY ...)` is a SINGLE-PARTITION WindowExec — the rank now
    rides `with_global_row_numbers` (range-partitioned sort + offsets)
    and the decile is derived with `ntile_from_rank`'s exact integer
    fill rule, bit-identical to built-in ntile at any table size."""
    o = load(spark, sf_dir, "orders")
    n_rows = o.count()
    ranked = relational.with_global_row_numbers(
        o.select("o_totalprice", "o_orderkey"),
        [F.col("o_totalprice"), F.col("o_orderkey")],
    )
    return (
        ranked.select(
            "o_totalprice",
            relational.ntile_from_rank(F.col("_rn"), n_rows, 10).alias("decile"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("o_totalprice").alias("decile_total"),
        )
    )


@register(
    "date_spine_daily_counts",
    """
    WITH bounds AS (
      SELECT date_trunc('day', min(ts)) AS lo, date_trunc('day', max(ts)) AS hi FROM events
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 day')) AS day FROM bounds
    ), daily AS (
      SELECT date_trunc('day', ts) AS day, COUNT(*) AS n_events FROM events GROUP BY 1
    )
    SELECT spine.day, COALESCE(daily.n_events, 0) AS n_events
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
)
def date_spine_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: generate the full day spine with
    sequence()+explode (JVM-side, no driver loop), left-join daily
    counts so gap days surface as zero — the standard time-series
    completeness pattern.  The spine is tiny and broadcasts."""
    _utc(spark)
    ev = load(spark, sf_dir, "events")
    bounds = ev.select(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return F.broadcast(spine).join(daily, "day", "left").select(
        "day", F.coalesce("n_events", F.lit(0)).alias("n_events")
    )


# TPC-H Q14 shape: promo revenue share per month — conditional decimal
# aggregate over a fact-dimension join.
@register(
    "promo_revenue_share",
    """
    SELECT CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP) AS ship_month,
           ROUND(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                      THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4))
                      END) AS DOUBLE)
                 / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                                 AS DECIMAL(18,4))) AS DOUBLE) + 1e-9, 4)
             AS promo_pct,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analog: PROMO-type revenue share per ship month.  The
    part dimension broadcasts; revenue sums are per-row decimal casts
    (order-insensitive) with the conditional folded into the aggregate."""
    _utc(spark)
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
                .cast("double")
                / F.sum(rev).cast("double")
                + F.lit(1e-9),
                4,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# TPC-H Q16 shape: distinct-supplier counts per part attribute with
# negative predicates (<>, NOT LIKE, IN-list) pushed to the dim scan.
@register(
    "supplier_cnt_by_part_attrs",
    """
    SELECT p.p_brand, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type NOT LIKE 'SMALL%'
      AND p.p_size IN (1, 5, 10, 15, 20, 25)
    GROUP BY 1, 2
    """,
)
def supplier_cnt_by_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analog: negative predicates (<>, NOT LIKE, IN) filter
    the part dimension BEFORE the broadcast join, then a two-phase
    distinct count per (brand, size)."""
    p = (
        load(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & ~F.col("p_type").startswith("SMALL")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# TPC-H Q19 shape: disjunctive multi-attribute predicates (brand x size
# x quantity bands) that Catalyst must push as one OR filter.
@register(
    "disjunctive_filter_revenue",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 5 AND 20
           AND l.l_quantity BETWEEN 10 AND 40)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def disjunctive_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analog: three disjunctive brand/size/quantity bands in
    one filter — the broadcast join narrows first, then the OR predicate
    evaluates in one codegen stage (no union-of-three-scans)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(5, 20)
            & F.col("l_quantity").between(10, 40)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(20, 50)
        )
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return j.filter(band).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# Concurrent-session analysis: per session, the number of other users'
# sessions overlapping it in time.  The engine buckets intervals to
# avoid the cartesian band join; the oracle is the direct inequality
# join, so a hash match proves the bucketed candidates are complete.
@register(
    "session_overlap",
    """
    WITH lagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN datediff('microsecond',
                               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                               ts) > 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS _new
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             CAST(SUM(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_seq
      FROM lagged
    ), sess AS (
      SELECT user_id, session_seq,
             MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM numbered GROUP BY user_id, session_seq
    )
    SELECT a.user_id, a.session_seq, COUNT(*) AS n_overlapping
    FROM sess a JOIN sess b
      ON a.user_id <> b.user_id
     AND a.session_start <= b.session_end
     AND b.session_start <= a.session_end
    GROUP BY a.user_id, a.session_seq
    """,
)
def session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    sess = windows.session_windows_gaps(
        load(spark, sf_dir, "events"), gap_minutes=30
    )
    return windows.interval_overlap_degree(
        sess.select("user_id", "session_seq", "session_start", "session_end"),
        ["user_id", "session_seq"],
        "session_start",
        "session_end",
    )


# Blocked edit-distance entity matching over part names (noun-word
# blocking, exact Levenshtein verify — identical in both engines).
@register(
    "fuzzy_part_matches",
    """
    WITH p AS (
      SELECT p_partkey, p_name,
             split_part(p_name, ' ', 2) || '|' || substring(p_name, 1, 1) AS blk
      FROM part
    ),
    pairs AS (
      SELECT a.p_partkey AS k, levenshtein(a.p_name, b.p_name) AS d
      FROM p a JOIN p b
        ON a.blk = b.blk AND a.p_partkey <> b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 2
    )
    SELECT k AS p_partkey,
           COUNT(*) AS n_fuzzy_matches,
           CAST(MIN(d) AS INT) AS min_distance
    FROM pairs GROUP BY 1
    """,
)
def fuzzy_part_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    # blocking key = noun word + first adjective letter: the standard
    # entity-resolution recall/cost knob — the oracle replicates the SAME
    # blocking, so parity holds by construction; a distance<=2 pair whose
    # adjectives differ in the first letter is sacrificed knowingly
    block = F.concat_ws(
        "|",
        F.split(F.col("p_name"), " ").getItem(1),
        F.substring(F.col("p_name"), 1, 1),
    )
    return dedup.fuzzy_match_stats(p, "p_partkey", "p_name", block, max_distance=2)


# Entity-resolution CAPSTONE: the full ER pipeline composed end-to-end
# (blocking -> distinct-name collapse -> pairwise Levenshtein verify ->
# connected-component clustering -> keep-best canonicalization) — one
# entity row per matched cluster with its canonical record.  The pair
# stage is `dedup.blocked_entity_edges`: the Levenshtein join runs on
# DISTINCT (name, block) rows (64 names vs 20k entities on the sf0.1
# part table — the fuzzy_match_stats collapse, r7-verdict task 1),
# same-name members attach to their group rep through a star, and
# blocks over ER_MAX_BLOCK_NAMES distinct names switch to star pairing
# against the block-min name (the hot-block cap every other pair
# generator here carries).  Closure-equivalent to the naive blocked
# entity self-join below the cap — the oracle replays the SAME
# collapsed edge construction through a recursive-CTE transitive
# closure and the same longest-name/lowest-key keeper via struct-min.
_ER_MAX_BLOCK_NAMES = 256

# Shared recursive-CTE prefix replaying the ER pair generation +
# transitive closure through `lab` (node -> entity_id); reused by
# entity_resolution AND golden_record_merge so the two oracles can
# never drift apart.
_ER_CLOSURE_SQL = """
    WITH RECURSIVE p AS (
      SELECT p_partkey, p_name,
             split_part(p_name, ' ', 2) || '|' || substring(p_name, 1, 1) AS blk
      FROM part
    ), nm AS (
      SELECT p_name, blk, COUNT(*) AS cnt, MIN(p_partkey) AS rep
      FROM p GROUP BY 1, 2
    ), bsz AS (
      SELECT blk, COUNT(*) AS nn, MIN(p_name) AS min_nm FROM nm GROUP BY 1
    ), nmb AS (
      SELECT n.*, z.nn, z.min_nm FROM nm n JOIN bsz z USING (blk)
    ), pairs AS (
      SELECT a.rep AS id_a, b.rep AS id_b
      FROM nmb a JOIN nmb b ON a.blk = b.blk AND a.p_name < b.p_name
      WHERE a.nn <= {ER_CAP} AND levenshtein(a.p_name, b.p_name) <= 2
      UNION ALL
      SELECT r.rep, m.rep
      FROM nmb m JOIN nmb r ON r.blk = m.blk AND r.p_name = m.min_nm
      WHERE m.nn > {ER_CAP} AND m.p_name <> m.min_nm
        AND levenshtein(r.p_name, m.p_name) <= 2
      UNION ALL
      SELECT n.rep, e.p_partkey
      FROM nm n JOIN p e ON e.p_name = n.p_name AND e.blk = n.blk
      WHERE n.cnt > 1 AND e.p_partkey <> n.rep
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), closure(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT c.node, e.dst FROM closure c JOIN edges e ON e.src = c.r
    ), lab AS (
      SELECT node, MIN(r) AS entity_id FROM closure GROUP BY node
    )""".replace("{ER_CAP}", str(_ER_MAX_BLOCK_NAMES))


@register(
    "entity_resolution",
    _ER_CLOSURE_SQL
    + """, mem AS (
      SELECT l.entity_id, pp.p_partkey, pp.p_name,
             length(pp.p_name) AS nl
      FROM lab l JOIN part pp ON l.node = pp.p_partkey
    ), best AS (
      SELECT entity_id, COUNT(*) AS n_members,
             MIN({'a': -nl, 'b': p_partkey}) AS kk
      FROM mem GROUP BY entity_id
    )
    SELECT b.entity_id, (b.kk).b AS canonical_key,
           pp.p_name AS canonical_name,
           CAST(b.n_members AS BIGINT) AS n_members
    FROM best b JOIN part pp ON (b.kk).b = pp.p_partkey
    """,
)
def entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    blk = F.concat_ws(
        "|",
        F.split(F.col("p_name"), " ").getItem(1),
        F.substring(F.col("p_name"), 1, 1),
    )
    pairs = dedup.blocked_entity_edges(
        p,
        "p_partkey",
        "p_name",
        blk,
        max_distance=2,
        max_block_names=_ER_MAX_BLOCK_NAMES,
    )
    comp = dedup.connected_components(pairs)
    docs = load(spark, sf_dir, "part").select(
        "p_partkey", F.length("p_name").alias("name_len")
    )
    best = dedup.keep_best_per_component(comp, docs, "p_partkey", "name_len")
    names = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("canonical_key"),
        F.col("p_name").alias("canonical_name"),
    )
    return best.join(
        names, best["keeper_id"] == names["canonical_key"]
    ).select(
        F.col("label").alias("entity_id"),
        "canonical_key",
        "canonical_name",
        F.col("n_members").cast("long").alias("n_members"),
    )


# Relational grouped outlier detection — the scale twin of the
# grouped_zscore pandas-UDF demo (SCALE.md: "UDFs are the slow path"):
# decimal-exact moments per group, |z| > 3 flags, pure column math.
@register(
    "grouped_outliers",
    """
    WITH m AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value AS DECIMAL(18,6))
                      * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS ss
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT event_type, n, s / n AS mu,
             sqrt(greatest((ss - s * s / n) / (n - 1), 0.0)) AS sd
      FROM m WHERE n > 1
    )
    SELECT e.event_type,
           CAST(COUNT(*) FILTER (WHERE abs((e.value - st.mu) / st.sd) > 3)
                AS BIGINT) AS n_outliers,
           CAST(MIN(st.n) AS BIGINT) AS n_rows,
           ROUND(MIN(st.mu) + 1e-9, 4) AS mean_value,
           ROUND(MIN(st.sd) + 1e-9, 4) AS std_value
    FROM events e JOIN stats st USING (event_type)
    WHERE st.sd > 0
    GROUP BY e.event_type
    """,
)
def grouped_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        F.sum(
            F.col("value").cast("decimal(18,6)")
            * F.col("value").cast("decimal(18,6)")
        )
        .cast("double")
        .alias("ss"),
    )
    stats = (
        m.filter(F.col("n") > 1)
        .select(
            "event_type",
            "n",
            (F.col("s") / F.col("n")).alias("mu"),
            F.sqrt(
                F.greatest(
                    (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
                    / (F.col("n") - 1),
                    F.lit(0.0),
                )
            ).alias("sd"),
        )
        .filter(F.col("sd") > 0)
    )
    z = F.abs((F.col("value") - F.col("mu")) / F.col("sd"))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(z > 3, 1).otherwise(0)).alias("n_outliers"),
            F.min("n").alias("n_rows"),
            F.round(F.min("mu") + F.lit(1e-9), 4).alias("mean_value"),
            F.round(F.min("sd") + F.lit(1e-9), 4).alias("std_value"),
        )
    )


_MB_MIN_SUPPORT = 3


# Market-basket association rules over parts co-occurring in orders:
# support / confidence / lift with exact decimal-free integer counts.
@register(
    "association_rules",
    f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets),
    item AS (SELECT l_partkey, COUNT(*) AS c FROM baskets GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS cxy
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_MB_MIN_SUPPORT}
    )
    SELECT p.x AS antecedent, p.y AS consequent, p.cxy AS pair_count,
           ROUND(p.cxy * 1.0 / n_orders.n + 1e-9, 6) AS support,
           ROUND(p.cxy * 1.0 / ix.c + 1e-9, 6) AS confidence,
           ROUND((p.cxy * 1.0 / n_orders.n)
                 / ((ix.c * 1.0 / n_orders.n) * (iy.c * 1.0 / n_orders.n))
                 + 1e-9, 4) AS lift
    FROM pair p
    JOIN item ix ON ix.l_partkey = p.x
    JOIN item iy ON iy.l_partkey = p.y
    CROSS JOIN n_orders
    """,
)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = baskets.agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    item = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y"))
        .agg(F.count(F.lit(1)).alias("cxy"))
        .filter(F.col("cxy") >= _MB_MIN_SUPPORT)
    )
    ix = item.select(F.col("l_partkey").alias("x"), F.col("c").alias("cx"))
    iy = item.select(F.col("l_partkey").alias("y"), F.col("c").alias("cy"))
    n = F.col("n")
    return (
        pair.join(ix, "x")
        .join(iy, "y")
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("x").alias("antecedent"),
            F.col("y").alias("consequent"),
            F.col("cxy").alias("pair_count"),
            F.round(F.col("cxy") / n + F.lit(1e-9), 6).alias("support"),
            F.round(F.col("cxy") / F.col("cx") + F.lit(1e-9), 6).alias("confidence"),
            F.round(
                (F.col("cxy") / n) / ((F.col("cx") / n) * (F.col("cy") / n))
                + F.lit(1e-9),
                4,
            ).alias("lift"),
        )
    )


# ANALYZE-style table profile of orders: per-column NDV / null fraction
# / min / max in ONE pass (grouping-free multi-aggregate; the stats a
# cost-based optimizer or data catalog collects).
@register(
    "table_profile",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT o_custkey) AS ndv_custkey,
           COUNT(DISTINCT o_orderstatus) AS ndv_status,
           COUNT(DISTINCT o_orderpriority) AS ndv_priority,
           ROUND(1.0 - COUNT(o_custkey) * 1.0 / COUNT(*) + 1e-9, 6)
             AS null_frac_custkey,
           MIN(o_orderkey) AS min_orderkey,
           MAX(o_orderkey) AS max_orderkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*) + 1e-9, 4) AS avg_totalprice
    FROM orders
    """,
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("ndv_custkey"),
        F.countDistinct("o_orderstatus").alias("ndv_status"),
        F.countDistinct("o_orderpriority").alias("ndv_priority"),
        F.round(
            F.lit(1.0) - F.count("o_custkey") / F.count(F.lit(1)) + F.lit(1e-9), 6
        ).alias("null_frac_custkey"),
        F.min("o_orderkey").alias("min_orderkey"),
        F.max("o_orderkey").alias("max_orderkey"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
            + F.lit(1e-9),
            4,
        ).alias("avg_totalprice"),
    )


_SLIDE_LEN, _SLIDE_STRIDE = 64, 48


# Overlapping sliding-window chunking (RAG / long-context prep): stride
# 48 overlaps adjacent 64-token chunks by 16 tokens.
@register(
    "sliding_chunks",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    c AS (
      SELECT doc_id, t,
             unnest(generate_series(
               0, CAST(ceil(len(t) / {float(_SLIDE_STRIDE)}) AS INT) - 1)) AS chunk_id
      FROM toks WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           CAST(chunk_id * {_SLIDE_STRIDE} AS INT) AS start_token,
           len(t[chunk_id * {_SLIDE_STRIDE} + 1 :
                 chunk_id * {_SLIDE_STRIDE} + {_SLIDE_LEN}]) AS n_chunk_tokens,
           array_to_string(t[chunk_id * {_SLIDE_STRIDE} + 1 :
                             chunk_id * {_SLIDE_STRIDE} + {_SLIDE_LEN}], ' ')
             AS chunk_text
    FROM c
    """,
)
def sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing.sliding_chunks(
        load(spark, sf_dir, "documents"), _SLIDE_LEN, _SLIDE_STRIDE
    )


# Symmetric int8 quantization of embeddings (serving/PQ-prep
# compression), engine-exact codes + reconstruction-error QA.
@register(
    "int8_quantize",
    """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
             list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                           e -> abs(e)), 'max') AS ma
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, x, ma,
             CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END AS sc
      FROM v
    ),
    q AS (
      SELECT vec_id, x, ma, sc,
             list_transform(x, e -> CAST(round(e * sc) AS INT)) AS q8
      FROM s
    )
    SELECT vec_id, q8,
           ROUND(ma + 1e-9, 6) AS max_abs,
           ROUND(list_aggregate(
                   list_transform(generate_series(1, len(x)),
                     i -> abs(x[i] - CASE WHEN sc > 0 THEN q8[i] / sc
                                          ELSE 0.0 END)),
                   'max') + 1e-9, 6) AS max_recon_err
    FROM q
    """,
)
def int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.int8_quantize(load(spark, sf_dir, "embeddings"))


def _training_v2_oracle() -> str:
    """Composed oracle for the v2 capstone: reuses the lm_perplexity
    oracle verbatim as a subquery, the shingle CTEs for contamination,
    and the mixture-rate arithmetic — one SQL statement replaying the
    whole selection pipeline."""
    ppl_sql = _ORACLES["lm_perplexity"]
    return f"""
    WITH {_SHINGLE_SQL},
    cont AS (
      SELECT DISTINCT doc_id FROM (
        SELECT c.doc_id, b.doc_id AS bench_doc_id
        FROM sh c JOIN sh b ON c.shingle = b.shingle
        WHERE b.doc_id < 20 AND c.doc_id >= 20
        GROUP BY c.doc_id, b.doc_id
        HAVING COUNT(*) >= 2
      )
    ),
    corpus AS (SELECT * FROM documents WHERE doc_id >= 20),
    keepers AS (SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
    ppl AS (SELECT * FROM ({ppl_sql})),
    surv AS (
      SELECT d.doc_id, d.source, p.perplexity
      FROM corpus d
      JOIN keepers USING (doc_id)
      JOIN ppl p USING (doc_id)
      WHERE p.perplexity <= 31.0
        AND d.doc_id NOT IN (SELECT doc_id FROM cont)
    ),
    counts AS (SELECT source, COUNT(*) AS n FROM surv GROUP BY source),
    w AS (SELECT source, n, pow(CAST(n AS DOUBLE), 0.5) AS w FROM counts),
    tot AS (SELECT CAST(SUM(CAST(w AS DECIMAL(38,12))) AS DOUBLE) AS tw FROM w),
    rates AS (
      SELECT source, least(1.0, (w / tw) * 200.0 / n) AS rate
      FROM w CROSS JOIN tot
    ),
    draws AS (SELECT s.*, {_U8_SQL.replace("doc_id", "s.doc_id")} AS u FROM surv s)
    SELECT d.doc_id, d.source, d.perplexity,
           ROUND(r.rate + 1e-9, 6) AS keep_rate,
           ROUND(d.u + 1e-9, 6) AS draw
    FROM draws d JOIN rates r USING (source)
    WHERE d.u < r.rate
    """


@register("training_corpus_select_v2")
def training_corpus_select_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 capstone: the full selection pipeline composed from the
    round's new families — exact content dedup (keep-first), bigram-LM
    perplexity filter (<= 31), eval-set decontamination (>= 2 shared
    shingles with the benchmark slice), and temperature mixture sampling
    (alpha 0.5, budget 200) — in ONE lazy plan with ONE composed SQL
    oracle replaying every stage.  Scale shape: each stage keeps its own
    audited plan (hash-keyed dedup shuffle, vocabulary-sized LM joins,
    broadcast benchmark shingles, broadcast mixture rates); composition
    adds no new shuffles beyond the stages' own."""
    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") >= 20)
    bench = docs.filter(F.col("doc_id") < 20).withColumnRenamed(
        "doc_id", "bench_doc_id"
    )
    keepers = dedup.content_dedup_groups(corpus, "doc_id", "text").select(
        F.col("keeper_id").alias("doc_id")
    )
    ppl = textstats.bigram_lm_perplexity(docs, "doc_id", "text").select(
        "doc_id", "perplexity"
    )
    contaminated = dedup.benchmark_contamination(
        corpus, bench, "doc_id", "text", "bench_doc_id", "text", min_hits=2
    ).select("doc_id").distinct()
    # The survivor frame feeds THREE consumers (the mixture-rate
    # aggregate, the sampling filter, and the final perplexity join);
    # without a pin Spark would replay the dedup + perplexity +
    # contamination subplan once per consumer (measured 13.9s -> ~5s at
    # sf0.1).  Persist only the skinny projection and release the pin
    # after materializing the (budget-sized) result.
    from .caching import materialize_and_release

    surv = (
        corpus.join(keepers, "doc_id")
        .join(ppl, "doc_id")
        .filter(F.col("perplexity") <= 31.0)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source", "perplexity")
        .persist()
    )
    sampled = sampling.temperature_mixture_sample(
        surv, "source", "doc_id", alpha=0.5, budget=200
    )
    out = sampled.join(
        surv.select("doc_id", "perplexity"), "doc_id"
    ).select("doc_id", "source", "perplexity", "keep_rate", "draw")
    return materialize_and_release(out, surv)


_ORACLES["training_corpus_select_v2"] = _training_v2_oracle()


_Z_BITS, _Z_BUCKET_BITS = 5, 6
_Z_INTERLEAVE = " + ".join(
    f"(((qx >> {i}) & 1) << {2 * i}) + (((qy >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)


# Z-order (Morton) layout assignment over (customer, order-id-as-time):
# exact integer quantization + bit interleave; the pruning win of the
# layout is asserted in tests/test_layout.py.
@register(
    "zorder_layout",
    f"""
    WITH bounds AS (
      SELECT MIN(o_custkey) AS xlo, MAX(o_custkey) AS xhi,
             MIN(o_orderkey) AS ylo, MAX(o_orderkey) AS yhi
      FROM orders
    ),
    q AS (
      SELECT o_orderkey,
             CAST(floor(((o_custkey - xlo) * {(1 << _Z_BITS) - 1} * 1.0)
                        / greatest(xhi - xlo, 1)) AS BIGINT) AS qx,
             CAST(floor(((o_orderkey - ylo) * {(1 << _Z_BITS) - 1} * 1.0)
                        / greatest(yhi - ylo, 1)) AS BIGINT) AS qy
      FROM orders CROSS JOIN bounds
    )
    SELECT o_orderkey,
           CAST({_Z_INTERLEAVE} AS BIGINT) AS zvalue,
           CAST(({_Z_INTERLEAVE}) >> {2 * _Z_BITS - _Z_BUCKET_BITS} AS BIGINT)
             AS zbucket
    FROM q
    """,
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.layout import zorder_assignment

    return zorder_assignment(
        load(spark, sf_dir, "orders"),
        "o_custkey",
        "o_orderkey",
        bits=_Z_BITS,
        bucket_bits=_Z_BUCKET_BITS,
    ).select("o_orderkey", "zvalue", "zbucket")


# Deterministic training-shard export: balanced md5 shards with a
# reproducible hash-order position inside each shard — the sharded
# equivalent of a global training shuffle, with no global sort.
@register(
    "training_shards",
    """
    WITH h AS (
      SELECT doc_id,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM documents
    )
    SELECT doc_id,
           CAST(h % 8 AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
                AS INT) AS pos
    FROM h
    """,
)
def training_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.layout import training_shard_assignment

    return training_shard_assignment(
        load(spark, sf_dir, "documents"), "doc_id", n_shards=8
    )


# Data-quality gate: null / PK-uniqueness / FK-orphan / value-range
# checks across the warehouse, one row per check.
@register(
    "dq_checks",
    """
    SELECT 'orders_null_custkey' AS check_name, COUNT(*) AS n_violations
    FROM orders WHERE o_custkey IS NULL
    UNION ALL
    SELECT 'orders_dup_pk', COUNT(*) FROM
      (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)
    UNION ALL
    SELECT 'lineitem_orphan_fk', COUNT(*) FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem_qty_range', COUNT(*) FROM lineitem
    WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
    UNION ALL
    SELECT 'customer_orphan_nation', COUNT(*) FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    UNION ALL
    SELECT 'events_null_user', COUNT(*) FROM events WHERE user_id IS NULL
    """,
)
def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    events = load(spark, sf_dir, "events")
    checks = [
        ("orders_null_custkey", orders.filter(F.col("o_custkey").isNull())),
        (
            "orders_dup_pk",
            orders.groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1),
        ),
        (
            "lineitem_orphan_fk",
            lineitem.join(
                orders.select(F.col("o_orderkey").alias("l_orderkey")),
                "l_orderkey",
                "left_anti",
            ),
        ),
        (
            "lineitem_qty_range",
            lineitem.filter(
                F.col("l_quantity").isNull()
                | (F.col("l_quantity") < 1)
                | (F.col("l_quantity") > 50)
            ),
        ),
        (
            "customer_orphan_nation",
            customer.join(
                nation.select(F.col("n_nationkey").alias("c_nationkey")),
                "c_nationkey",
                "left_anti",
            ),
        ),
        ("events_null_user", events.filter(F.col("user_id").isNull())),
    ]
    return relational.dq_report(checks)


# Rolling 7-day distinct active users per calendar day — exact
# formulation via spine-to-activity range join (COUNT DISTINCT over a
# sliding range is not an incremental window aggregate).
@register(
    "rolling_active_users",
    """
    WITH activity AS (
      SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS d FROM events
    ),
    bounds AS (
      SELECT date_trunc('day', min(ts)) AS lo, date_trunc('day', max(ts)) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 day')) AS day FROM bounds
    )
    SELECT spine.day, COUNT(DISTINCT a.u) AS active_7d
    FROM spine JOIN activity a
      ON a.d <= spine.day AND a.d > spine.day - INTERVAL '7 days'
    GROUP BY spine.day
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.rolling_distinct_users(
        load(spark, sf_dir, "events"), "ts", "user_id", window_days=7
    )


# Cohort retention triangle: users bucketed by first active day, counted
# at each later day offset they return.
@register(
    "cohort_retention",
    """
    WITH activity AS (
      SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS d FROM events
    ),
    first AS (SELECT u, MIN(d) AS cohort_day FROM activity GROUP BY u)
    SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
           CAST(date_diff('day', f.cohort_day, a.d) AS INT) AS day_offset,
           COUNT(DISTINCT a.u) AS n_users
    FROM activity a JOIN first f USING (u)
    WHERE date_diff('day', f.cohort_day, a.d) <= 14
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.cohort_retention(
        load(spark, sf_dir, "events"), "ts", "user_id", max_offset_days=14
    )


_CMS_D, _CMS_W, _CMS_TOP = 4, 256, 20
_CMS_COL = (
    "CAST(concat('0x', substring(md5('{d}|' || {w}), 1, 8)) AS BIGINT) % "
    + str(_CMS_W)
)
_CMS_JOINS = "\n    ".join(
    f"JOIN sketch s{d} ON s{d}.d = {d} AND s{d}.col = "
    + _CMS_COL.format(d=d, w="e.w")
    for d in range(_CMS_D)
)


# Count-min sketch: mergeable (row, col, cnt) counter table + point
# estimates for the exact top tokens — a sketch whose construction is
# bit-reproducible (md5-slice hashing), hence exactly oracle-checkable
# unlike opaque binary sketch buffers.
@register(
    "cms_heavy_hitters",
    f"""
    WITH w AS (
      SELECT unnest(list_transform({_TOKS_SQL}, x -> lower(x))) AS w
      FROM documents
    ),
    h AS (
      SELECT d.d, {_CMS_COL.format(d="' || d.d || '", w="w.w")} AS col
      FROM w CROSS JOIN (SELECT unnest([{", ".join(map(str, range(_CMS_D)))}]) AS d) d
    ),
    sketch AS (SELECT d, col, COUNT(*) AS cnt FROM h GROUP BY 1, 2),
    exact AS (
      SELECT w, COUNT(*) AS exact_cnt FROM w GROUP BY 1
      ORDER BY exact_cnt DESC, w ASC LIMIT {_CMS_TOP}
    )
    SELECT e.w AS token, e.exact_cnt,
           LEAST({", ".join(f"s{d}.cnt" for d in range(_CMS_D))}) AS cms_estimate
    FROM exact e
    {_CMS_JOINS}
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.cms_point_estimates(
        load(spark, sf_dir, "documents"), "text",
        top_n=_CMS_TOP, depth=_CMS_D, width=_CMS_W,
    )


# Prefix-filtered exact Jaccard join (PPJoin-style): the oracle is the
# UNFILTERED all-shared-shingle join, so a hash match re-proves that
# prefix filtering is lossless at the threshold.
@register(
    "jaccard_prefix_join",
    """
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS s
      FROM tok WHERE len(t) >= 3
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_shared,
           ROUND(n_shared * 1.0 / (sa.n + sb.n - n_shared) + 1e-9, 6) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.7
    """,
)
def jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_prefix_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        shingle_n=3, threshold=0.7,
    )


# Join-key skew diagnostics over the lineitem supplier key — the profile
# run before choosing broadcast vs salt vs AQE skew handling.
@register(
    "join_key_skew",
    """
    WITH counts AS (
      SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
    )
    SELECT COUNT(*) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           MAX(cnt) AS max_cnt,
           ROUND(MAX(cnt) / (SUM(cnt) / COUNT(*)) + 1e-9, 4) AS max_over_mean,
           ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) + 1e-9, 6) AS top1_share,
           quantile_cont(cnt, 0.5) AS p50_cnt,
           quantile_cont(cnt, 0.99) AS p99_cnt,
           ROUND(ln(SUM(cnt))
                 - CAST(SUM(CAST(cnt * ln(cnt) AS DECIMAL(38,12))) AS DOUBLE)
                   / SUM(cnt)
                 + 1e-9, 6) AS entropy_nats
    FROM counts
    """,
)
def join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.key_skew_profile(
        load(spark, sf_dir, "lineitem"), "l_suppkey"
    )


# CDC apply: collapse the event log to final per-user state (last op
# wins; a trailing 'error' acts as a delete tombstone).
@register(
    "cdc_apply",
    """
    WITH log AS (
      SELECT user_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             ts, event_id, event_type, value
      FROM events
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rk
      FROM log
    )
    SELECT user_id, event_type, value FROM r WHERE rk = 1 AND op <> 'D'
    """,
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "op",
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")),
    )
    return relational.cdc_apply(
        ev, "user_id", "op", ["ts", "event_id"], ["event_type", "value"]
    )


# Pairwise cosine between per-label embedding centroids (label-confusion
# diagnostic); long-form relational, decimal-exact dot products.
@register(
    "label_centroid_cos",
    """
    WITH long AS (
      SELECT label AS l,
             unnest(CAST(embedding AS DOUBLE[])) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    cent AS (
      SELECT l, i,
             CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS c
      FROM long GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.l AS l1, b.l AS l2,
             CAST(SUM(CAST(a.c * b.c AS DECIMAL(38,18))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(a.c * a.c AS DECIMAL(38,18))) AS DOUBLE) AS n1,
             CAST(SUM(CAST(b.c * b.c AS DECIMAL(38,18))) AS DOUBLE) AS n2
      FROM cent a JOIN cent b ON a.i = b.i AND a.l < b.l
      GROUP BY 1, 2
    )
    SELECT l1, l2,
           ROUND(dot / (sqrt(n1) * sqrt(n2)) + 1e-9, 6) AS centroid_cos
    FROM pairs
    """,
)
def label_centroid_cos(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.label_centroid_similarity(
        load(spark, sf_dir, "embeddings"), "label", "embedding"
    )


# Gap-fill + linear interpolation of a sparse daily series (value > 180
# thins the events to ~22-26 of 30 days per type, so the interpolation
# path genuinely runs).  Daily means decimal-summed; interpolation
# weights are exact day distances.
@register(
    "interpolate_daily",
    """
    WITH src AS (SELECT * FROM events WHERE value > 180),
    daily AS (
      SELECT event_type AS g, date_trunc('day', ts) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS v,
             COUNT(*) AS n_obs
      FROM src GROUP BY 1, 2
    ),
    bounds AS (
      SELECT date_trunc('day', min(ts)) AS lo, date_trunc('day', max(ts)) AS hi
      FROM src
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 day')) AS day FROM bounds
    ),
    dense AS (
      SELECT gr.g, spine.day, daily.v, daily.n_obs
      FROM spine CROSS JOIN (SELECT DISTINCT event_type AS g FROM src) gr
      LEFT JOIN daily ON daily.g = gr.g AND daily.day = spine.day
    ),
    filled AS (
      SELECT g, day, v, n_obs,
             last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER wb AS prev_day,
             last_value(v IGNORE NULLS) OVER wb AS prev_v,
             first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER wf AS next_day,
             first_value(v IGNORE NULLS) OVER wf AS next_v
      FROM dense
      WINDOW wb AS (PARTITION BY g ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY g ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT g AS event_type, day,
           ROUND(CASE
             WHEN v IS NOT NULL THEN v
             WHEN prev_v IS NULL THEN next_v
             WHEN next_v IS NULL THEN prev_v
             ELSE prev_v + (next_v - prev_v)
                  * (CAST(date_diff('day', prev_day, day) AS DOUBLE)
                     / CAST(date_diff('day', prev_day, next_day) AS DOUBLE))
           END + 1e-9, 4) AS value,
           (v IS NOT NULL) AS observed,
           COALESCE(n_obs, 0) AS n_obs
    FROM filled
    """,
)
def interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = load(spark, sf_dir, "events").filter(F.col("value") > 180)
    return windows.interpolate_daily(ev, "event_type", "ts", "value")


@register(
    "histogram_bins",
    f"""
    SELECT LEAST(CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT), 9) AS bin,
           COUNT(*) AS n,
           {_dec_sum_sql('o_totalprice')} AS bin_total
    FROM orders
    GROUP BY 1
    """,
)
def histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram via arithmetic binning (floor-divide +
    clamp) — one hash aggregate, the profiling primitive for choosing
    partition bounds and spotting skew before a big job."""
    o = load(spark, sf_dir, "orders")
    bin_col = F.least(
        F.floor(F.col("o_totalprice") / 50000.0).cast("long"), F.lit(9).cast("long")
    )
    return o.groupBy(bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("o_totalprice").alias("bin_total"),
    )


@register(
    "udtf_bigrams",
    """
    WITH tok AS (
      SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
      FROM (
        SELECT doc_id, u.tok AS w, u.pos
        FROM (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
          FROM documents WHERE doc_id < 30
        ) t, LATERAL (
          SELECT unnest(toks) AS tok, unnest(generate_series(1, len(toks))) AS pos
        ) u
      )
    )
    SELECT doc_id, concat(w, ' ', w1) AS bigram FROM tok WHERE w1 IS NOT NULL
    """,
)
def udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) surface: one input row expands to N
    output rows from arbitrary Python — completing the UDF matrix
    (pandas_udf / mapInPandas / applyInPandas / applyInPandasWithState /
    udtf).  Semantics here (word bigrams) are relationally expressible,
    which is what makes the exact oracle possible; real uses are
    tokenizer or parser fan-outs that SQL can't express."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="bigram: string")
    class Bigrams:
        def eval(self, text: str):
            toks = [t for t in (text or "").split() if t]
            for a, b in zip(toks, toks[1:]):
                yield (f"{a} {b}",)

    spark.udtf.register("bigrams", Bigrams)
    load(spark, sf_dir, "documents").filter(F.col("doc_id") < 30).createOrReplaceTempView(
        "_udtf_docs"
    )
    return spark.sql(
        "SELECT d.doc_id, b.bigram FROM _udtf_docs d, LATERAL bigrams(d.text) b"
    )


_PACK_BUDGET = 2048


@register(
    "sequence_packing_global_bounded",
    f"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_tok
      FROM documents
    ), c AS (
      SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, n_tok,
           CAST(FLOOR((cum - n_tok) / {_PACK_BUDGET}) AS BIGINT) AS pack_id
    FROM c
    """,
)
def sequence_packing_global_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing, exact global-order form: assign
    documents (in deterministic key order) to fixed token-budget packs
    via a running token count.  Single global-order window —
    EXPLICITLY BOUNDED-INPUT ONLY (the name says so; round-7 swap per
    the r6 verdict): the headline `sequence_packing` now resolves to
    the partitioned 100-TB shape, and this exact-order twin stays for
    small curated corpora where global order matters (see
    operators/packing.py)."""
    docs = load(spark, sf_dir, "documents")
    return packing.pack_sequences_global(
        packing.with_token_counts(docs), _PACK_BUDGET
    )


# Eval-set decontamination: corpus docs sharing >= 2 distinct 3-gram
# shingles with the (tiny, broadcast) benchmark slice are flagged.
@register(
    "benchmark_contamination",
    f"""
    WITH {_SHINGLE_SQL}
    SELECT c.doc_id,
           b.doc_id AS bench_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
    FROM sh c JOIN sh b ON c.shingle = b.shingle
    WHERE b.doc_id < 20 AND c.doc_id >= 20
    GROUP BY c.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") >= 20)
    bench = docs.filter(F.col("doc_id") < 20).withColumnRenamed(
        "doc_id", "bench_doc_id"
    )
    return dedup.benchmark_contamination(
        corpus, bench, "doc_id", "text", "bench_doc_id", "text", min_hits=2
    )


_CHUNK_LEN = 64


# Fixed-length training-sequence chunking (the complement of packing):
# pure array expressions, one narrow projection, zero shuffles.
@register(
    "sequence_chunking",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    c AS (
      SELECT doc_id, t,
             unnest(generate_series(
               0, CAST(ceil(len(t) / {float(_CHUNK_LEN)}) AS INT) - 1)) AS chunk_id
      FROM toks WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           len(t[chunk_id * {_CHUNK_LEN} + 1 : (chunk_id + 1) * {_CHUNK_LEN}])
             AS n_chunk_tokens,
           {_CHUNK_LEN} - len(t[chunk_id * {_CHUNK_LEN} + 1 :
                                (chunk_id + 1) * {_CHUNK_LEN}]) AS n_pad,
           array_to_string(
             t[chunk_id * {_CHUNK_LEN} + 1 : (chunk_id + 1) * {_CHUNK_LEN}], ' ')
             AS chunk_text
    FROM c
    """,
)
def sequence_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing.chunk_fixed_sequences(
        load(spark, sf_dir, "documents"), _CHUNK_LEN
    )


@register(
    "sequence_packing",
    f"""
    WITH t AS (
      SELECT doc_id,
             doc_id % 32 AS shard,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_tok
      FROM documents
    ), c AS (
      SELECT doc_id, shard, n_tok,
             CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM t
    )
    SELECT doc_id, n_tok, shard,
           shard * {1 << 32} + CAST(FLOOR((cum - n_tok) / {_PACK_BUDGET}) AS BIGINT)
             AS pack_id
    FROM c
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-local greedy packing — THE headline packing form
    (round-7 swap: the scale-safe plan owns the headline name): shard
    on pmod(doc_id, 32), pack within each shard via a *partitioned*
    window (one hash shuffle, 32 parallel window tasks, no
    single-partition sort), shard-major-encode pack ids so they stay
    globally unique.  Budget adherence is identical to the bounded
    global form (`sequence_packing_global_bounded`); only pack
    membership differs, which packing is free to choose."""
    docs = load(spark, sf_dir, "documents")
    return packing.pack_sequences(
        packing.with_token_counts(docs), _PACK_BUDGET, n_shards=32
    )


@register(
    "synthetic_rows",
    """
    SELECT i AS id,
           i % 7 AS bucket,
           substring(md5(CAST(i AS VARCHAR)), 1, 8) AS tag,
           CAST(i * i AS BIGINT) AS sq
    FROM range(0, 1000) t(i)
    """,
)
def synthetic_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data generation from the range source —
    spark.range is the parallel, driver-free way to synthesize test /
    benchmark / backfill rows at any scale (each partition generates
    its slice; no data ever leaves the executors)."""
    return spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("bucket"),
        F.substring(F.md5(F.col("id").cast("string")), 1, 8).alias("tag"),
        (F.col("id") * F.col("id")).cast("long").alias("sq"),
    )


@register(
    "funnel_conversion",
    """
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
             max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
      FROM events GROUP BY user_id
    )
    SELECT
      COUNT(*) AS n_users,
      COUNT(first_click) AS n_clickers,
      COUNT(CASE WHEN last_purchase > first_click THEN 1 END) AS n_converted
    FROM per_user
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analytics: users whose purchase follows their first click
    — conditional min/max per user then a global conversion rollup; two
    hash aggregates, no joins, no windows."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "last_purchase"
        ),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("first_click").alias("n_clickers"),
        F.count(
            F.when(F.col("last_purchase") > F.col("first_click"), 1)
        ).alias("n_converted"),
    )


_TIME_RANGE_SQL = """
    SELECT event_id, user_id, ts,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                          RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
             AS n_events_trailing_1h
    FROM events
    WHERE event_id < 2000
"""


@register("time_range_window", _TIME_RANGE_SQL)
def time_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing time-RANGE window frame (events per user in the last
    hour) — the feature-engineering primitive row-frames can't express
    when event spacing is irregular.  The same ANSI text runs on both
    engines via the spark.sql surface.  One shuffle on user_id; frame
    bounds are resolved in the per-partition sort."""
    from .sources.tables import register_views

    _utc(spark)
    register_views(spark, sf_dir)
    return spark.sql(_TIME_RANGE_SQL)


@register(
    "binary_functions",
    """
    SELECT doc_id,
           substring(md5(text), 1, 16) AS content_hex,
           to_base64(encode(substring(text, 1, 12))) AS head_b64,
           octet_length(encode(text)) AS n_bytes
    FROM documents WHERE doc_id < 100
    """,
)
def binary_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary encode/decode family: hex digests, base64, byte lengths —
    the opaque-payload plumbing used by the multimodal columns, checked
    byte-exact."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select(
        "doc_id",
        F.substring(F.md5("text"), 1, 16).alias("content_hex"),
        F.base64(F.encode(F.substring("text", 1, 12), "UTF-8")).alias("head_b64"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )


_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PII_URL = r"https?://[^ ]+|www\.[^ ]+"


@register(
    "pii_scrub",
    f"""
    WITH s AS (
      SELECT doc_id, text,
             regexp_replace(
               regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_URL}', '<URL>', 'g') AS scrubbed
      FROM documents
    )
    SELECT doc_id, scrubbed,
           CASE WHEN scrubbed <> text THEN 1 ELSE 0 END AS was_scrubbed
    FROM s
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data hygiene: redact emails and URLs with chained
    regexp_replace (patterns restricted to the RE2/Java-regex common
    subset so both engines substitute identically).  A narrow map —
    scrubbing 100 TB is scan-bound, no shuffle."""
    docs = load(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"), _PII_URL, "<URL>"
    )
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        F.when(scrubbed != F.col("text"), 1).otherwise(0).alias("was_scrubbed"),
    )


@register(
    "array_set_ops",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')[:12] AS a,
             list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')[:12] AS b
      FROM documents WHERE doc_id < 40
    )
    SELECT doc_id,
           len(list_distinct(a)) AS n_distinct,
           len(list_intersect(a, b)) AS n_common,
           len(list_distinct(a || b)) AS n_union
    FROM t
    """,
)
def array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra (distinct/intersect/union) over token arrays —
    set CARDINALITIES, not element order, so the comparison is exact
    even though engines order set results differently."""
    from .functions.text import tokens as _tokens

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    a = F.slice(_tokens("text"), 1, 12)
    b = F.slice(_tokens(F.lower(F.col("text"))), 1, 12)
    return docs.select(
        "doc_id",
        F.size(F.array_distinct(a)).cast("long").alias("n_distinct"),
        F.size(F.array_intersect(a, b)).cast("long").alias("n_common"),
        F.size(F.array_distinct(F.concat(a, b))).cast("long").alias("n_union"),
    )


@register(
    "null_semantics",
    """
    SELECT e.event_id,
           COALESCE(e.value, -1.0) AS value_or_default,
           NULLIF(e.event_type, 'error') AS type_or_null,
           CASE WHEN NULLIF(e.event_type, 'error') IS NOT DISTINCT FROM 'click'
                THEN 1 ELSE 0 END AS null_safe_click
    FROM events e WHERE e.event_id < 400
    """,
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling family: coalesce, nullif, and null-safe equality
    (Spark's <=> is SQL's IS NOT DISTINCT FROM) — the semantics
    three-valued logic usually gets wrong silently."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 400)
    type_or_null = F.nullif(F.col("event_type"), F.lit("error"))
    return ev.select(
        "event_id",
        F.coalesce("value", F.lit(-1.0)).alias("value_or_default"),
        type_or_null.alias("type_or_null"),
        F.when(type_or_null.eqNullSafe(F.lit("click")), 1).otherwise(0).alias(
            "null_safe_click"
        ),
    )


@register(
    "posexplode_tokens",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')[:5] AS toks
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, toks[u.i] AS tok
    FROM t, (SELECT unnest(generate_series(1, 5)) AS i) u
    WHERE u.i <= len(toks)
    """,
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (ordinality-preserving flatten): the first 5
    tokens of each document with their positions — order survives the
    fan-out, which a plain explode does not guarantee consumers."""
    from .functions.text import tokens as _tokens

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id", F.posexplode(F.slice(_tokens("text"), 1, 5)).alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")


@register(
    "rank_dense_rank",
    """
    SELECT o_orderpriority, o_orderkey,
           rank() OVER (PARTITION BY o_orderpriority ORDER BY o_orderstatus) AS rnk,
           dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_orderstatus) AS drnk
    FROM orders WHERE o_orderkey < 200
    """,
)
def rank_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank with REAL ties (ordering on a low-cardinality
    status column) — integer outputs, exact cross-engine."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderstatus")
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "filtered_aggregates",
    f"""
    SELECT l_returnflag,
           COUNT(*) AS n_all,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           {_dec_sum_sql('l_quantity')} AS qty_all,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_tax > 0.04) AS DOUBLE) AS qty_taxed
    FROM lineitem GROUP BY l_returnflag
    """,
)
def filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (the FILTER clause): expressed as
    aggregate-over-when so every branch stays in one hash-aggregate pass
    — no self-joins, no repeated scans."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
        dec_sum("l_quantity").alias("qty_all"),
        F.sum(
            F.when(F.col("l_tax") > 0.04, F.col("l_quantity").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("qty_taxed"),
    )


# TPC-H Q6 shape: the simplest full-pushdown scan-aggregate — every
# predicate (date range, discount band, quantity cap) reaches the
# parquet scan as PushedFilters, the projection prunes to three
# columns, one decimal partial-aggregate row crosses the wire.
@register(
    "forecast_revenue_q6",
    f"""
    SELECT {_dec_sum_sql('l_extendedprice * l_discount', 6)} AS forecast_revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
    """,
)
def forecast_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dec_sum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias(
            "forecast_revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "date_math",
    """
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(o_orderdate + INTERVAL '90 days' AS DATE) AS due_date,
           datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_epoch_start,
           EXTRACT(year FROM o_orderdate) AS yr,
           EXTRACT(quarter FROM o_orderdate) AS qtr
    FROM orders WHERE o_orderkey < 500
    """,
)
def date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic family — trunc, interval add, datediff,
    extract; all integer/date-exact so the oracle is bitwise."""
    _utc(spark)
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("order_month"),
        F.to_date(F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1995-01-01"))
        ).cast("long").alias("days_since_epoch_start"),
        F.year("o_orderdate").cast("long").alias("yr"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
    )


@register(
    "string_functions",
    """
    SELECT c_custkey,
           upper(c_mktsegment) AS seg_upper,
           length(c_name) AS name_len,
           substring(c_name, 1, 8) AS name_prefix,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
           CASE WHEN contains(c_name, '1') THEN 1 ELSE 0 END AS has_one
    FROM customer WHERE c_custkey < 300
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function family (upper/length/substring/lpad/
    contains) — byte-exact cross-engine."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.length("c_name").cast("long").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded_key"),
        F.when(F.col("c_name").contains("1"), 1).otherwise(0).alias("has_one"),
    )


# TPC-H Q3 shape: 3-way join, filtered both sides, grouped revenue, top-10.
@register(
    "shipping_priority_top10",
    f"""
    SELECT l_orderkey, o_orderdate,
           {_dec_sum_sql('l_extendedprice * (1 - l_discount)', 6)} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1996-03-15'
      AND l.l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter -> fact join -> grouped
    revenue -> top-10.  Catalyst pushes both date filters into the
    scans; the limit becomes TakeOrderedAndProject (no global sort
    materializes).  Decimal revenue makes the top-10 tie-break exact."""
    _utc(spark)
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# TPC-H Q5 shape: 6-way snowflake join with a same-nation constraint.
@register(
    "regional_supplier_volume",
    f"""
    SELECT n_name, {_dec_sum_sql('l_extendedprice * (1 - l_discount)', 6)} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the full snowflake — fact joins two dimension
    chains with a same-nation equality tying them.  supplier/nation/
    region broadcast; only customer-orders-lineitem shuffle."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
                "revenue"
            )
        )
    )


# TPC-H Q7 shape: bidirectional nation-pair trade volume by year.
@register(
    "nation_trade_volume",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           {_dec_sum_sql('volume', 6)} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(year FROM l.l_shipdate) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1999-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the fact chain shuffles once; BOTH nation copies
    broadcast, and the OR'd nation-pair predicate prunes after the
    broadcast joins.  Year extraction stays JVM-side."""
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
                "revenue"
            )
        )
    )


# TPC-H Q8 shape: national market share within a region/part segment.
@register(
    "market_share",
    f"""
    SELECT o_year,
           {_dec_sum_sql("CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END", 6)}
             AS nation_rev,
           {_dec_sum_sql('volume', 6)} AS total_rev,
           ROUND(CAST(SUM(CAST(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END
                                AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE), 4) AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    """,
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: 8-way snowflake, conditional aggregation for the
    share numerator.  Exact-decimal numerator/denominator columns make
    the hash check independent of the one rounded division."""
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rkey")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = load(spark, sf_dir, "supplier")
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    num = F.when(F.col("nation") == "NATION_1", vol).otherwise(F.lit(0.0))
    return (
        F.broadcast(p)
        .join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            dec_sum(num, 6).alias("nation_rev"),
            dec_sum(vol, 6).alias("total_rev"),
            F.round(
                F.sum(num.cast("decimal(18,6)")).cast("double")
                / F.sum(vol.cast("decimal(18,6)")).cast("double"),
                4,
            ).alias("mkt_share"),
        )
    )


# TPC-H Q9 shape: nation/year profit with a part-name style filter.
@register(
    "nation_year_profit",
    f"""
    SELECT n_name AS nation, o_year,
           {_dec_sum_sql('amount', 6)} AS sum_profit
    FROM (
      SELECT n.n_name, EXTRACT(year FROM o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount)
               - 0.5 * p.p_retailprice * l.l_quantity AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%red%'
    ) profit
    GROUP BY n_name, o_year
    """,
)
def nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: part-name LIKE filter (pushed to the part scan)
    gates the fact chain; p_retailprice stands in for ps_supplycost
    (no partsupp table in this dataset).  part/supplier/nation
    broadcast; lineitem-orders shuffle once."""
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        F.broadcast(p)
        .join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_year"))
        .agg(dec_sum(amount, 6).alias("sum_profit"))
    )


# TPC-H Q10 shape: top-20 customers by returned-item revenue.
@register(
    "returned_items_top20",
    f"""
    SELECT c_custkey, c_name, n_name,
           {_dec_sum_sql('l_extendedprice * (1 - l_discount)', 6)} AS revenue,
           MAX(c_acctbal) AS c_acctbal
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_items_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-flag + quarter filters both push into
    the scans; grouped revenue per customer, top-20 via
    TakeOrderedAndProject with a decimal-exact tie-break."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
                "revenue"
            ),
            F.max("c_acctbal").alias("c_acctbal"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "ordered_string_agg",
    """
    SELECT o_orderpriority,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS keys_csv,
           COUNT(*) AS n
    FROM orders WHERE o_orderkey < 300
    GROUP BY o_orderpriority
    """,
)
def ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LISTAGG: collect_list is unordered in a distributed
    engine, so the stable form is sort-then-join (array_sort before
    array_join) — the only way string aggregation is reproducible across
    partitionings."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 300)
    return o.groupBy("o_orderpriority").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("o_orderkey")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("keys_csv"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "semi_join_big_spenders",
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def semi_join_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS decorrelation): customer rows with at
    least one big order — no duplication from multiple matches, and the
    probe side only ships the join key."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi")


@register(
    "full_outer_join_coverage",
    """
    SELECT
      CASE WHEN c.c_custkey IS NULL THEN 'order_only'
           WHEN o.o_custkey IS NULL THEN 'customer_only'
           ELSE 'both' END AS side,
      COUNT(*) AS n
    FROM customer c
    FULL OUTER JOIN (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 300000) o
      ON c.c_custkey = o.o_custkey
    GROUP BY 1
    """,
)
def full_outer_join_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join (completes the join matrix next to inner / left /
    anti / semi / as-of / range / salted): customers vs the distinct set
    of big-order custkeys, bucketing rows by which side survives."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_custkey")
        .distinct()
    )
    joined = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    side = (
        F.when(F.col("c_custkey").isNull(), F.lit("order_only"))
        .when(F.col("o_custkey").isNull(), F.lit("customer_only"))
        .otherwise(F.lit("both"))
    )
    return joined.select(side.alias("side")).groupBy("side").agg(
        F.count(F.lit(1)).alias("n")
    )


_BANDS = [("small", 0.0, 50000.0), ("mid", 50000.0, 150000.0), ("large", 150000.0, 1e12)]


@register(
    "range_band_join",
    f"""
    SELECT band, COUNT(*) AS n_orders, {_dec_sum_sql('o_totalprice')} AS total_price
    FROM orders
    JOIN (VALUES {', '.join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)}) bands(band, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    # band table from pure literals: stays JVM-side (a createDataFrame
    # from Python rows would add a Python-runner ExistingRDD scan)
    bands = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.lit(lo).alias("lo"),
                            F.lit(hi).alias("hi"),
                        )
                        for b, lo, hi in _BANDS
                    ]
                )
            ).alias("b")
        )
        .select("b.*")
    )
    joined = relational.range_band_join(o, bands, "o_totalprice")
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice").alias("total_price"),
    )


@register(
    "intersect_except_customers",
    """
    WITH h1 AS (SELECT DISTINCT o_custkey FROM orders
                WHERE o_orderdate < TIMESTAMP '1998-01-01'),
         h2 AS (SELECT DISTINCT o_custkey FROM orders
                WHERE o_orderdate >= TIMESTAMP '1998-01-01')
    SELECT o_custkey, 'both' AS setop FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2)
    UNION ALL
    SELECT o_custkey, 'early_only' AS setop FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2)
    """,
)
def intersect_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    h1 = o.filter(F.col("o_orderdate") < cutoff).select("o_custkey").distinct()
    h2 = o.filter(F.col("o_orderdate") >= cutoff).select("o_custkey").distinct()
    both = h1.intersect(h2).withColumn("setop", F.lit("both"))
    early = h1.exceptAll(h2).withColumn("setop", F.lit("early_only"))
    return both.unionByName(early)


@register(
    "positional_zip_join",
    """
    WITH a AS (
      SELECT o_orderkey, o_totalprice,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS _rn
      FROM orders
    ), b AS (
      SELECT c_custkey, c_acctbal,
             row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS _rn
      FROM customer
    )
    SELECT a.o_orderkey, a.o_totalprice, b.c_custkey, b.c_acctbal
    FROM a JOIN b USING (_rn) WHERE _rn <= 50
    """,
)
def positional_zip_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O29 literal positional-join semantics (the engine's analytics
    plan avoids this by keying on doc id; kept for parity).  The top-50
    of each side comes from sort+limit — TakeOrderedAndProject, a
    per-partition heap, NOT a global-sort window — and only the 50
    surviving rows go through `positional_zip_join`'s partition-offset
    numbering, so no unbounded single-partition sort exists in the
    plan at any scale."""
    o = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
    )
    c = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(50)
    )
    return relational.positional_zip_join(
        o,
        c,
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        [F.desc("c_acctbal"), F.asc("c_custkey")],
    ).select("o_orderkey", "o_totalprice", "c_custkey", "c_acctbal")


# ---------------------------------------------------------------------------
# Additive aggregates: cube, exact percentiles, arg-max, TF-IDF weights,
# JSON encode + surrogate sink keys, epoch roundtrip.
# ---------------------------------------------------------------------------


@register(
    "cube_agg",
    f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           {_dec_sum_sql('o_totalprice')} AS total_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice").alias("total_price"),
    )


_RUNNING_WIN = "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"


@register(
    "running_window_funcs",
    f"""
    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER ({_RUNNING_WIN} ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
           lag(o_totalprice) OVER ({_RUNNING_WIN}) AS prev_value,
           lead(o_totalprice) OVER ({_RUNNING_WIN}) AS next_value,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER ({_RUNNING_WIN} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3
    FROM orders
    """,
)
def running_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows (running total / lag / lead / trailing sum) —
    additive over the reference's only window op (O33 top-k)."""
    _utc(spark)
    return relational.running_aggregates(
        load(spark, sf_dir, "orders"),
        "o_custkey",
        ["o_orderdate", "o_orderkey"],
        "o_totalprice",
    )


_GROUPING_SETS_SQL = f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           {_dec_sum_sql('o_totalprice')} AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register("grouping_sets_agg", _GROUPING_SETS_SQL)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the spark.sql surface — the same ANSI text runs
    on both engines (complements cube_agg / rollup_agg)."""
    from .sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


@register(
    "hash_split_sample",
    """
    SELECT doc_id,
           CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
)
def hash_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/test split (~10% test): stable
    across runs, engines, and re-ingests — the sampling primitive a
    training-data pipeline needs instead of seeded RNG."""
    return relational.hash_split(
        load(spark, sf_dir, "documents"), "doc_id"
    ).select("doc_id", "split")


@register(
    "salted_join_agg",
    f"""
    SELECT o_orderpriority, COUNT(*) AS n_items,
           {_dec_sum_sql('l_extendedprice')} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o_orderpriority
    """,
)
def salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted fact-dim join (manual fallback for when AQE
    skew handling can't apply); aggregate result is salt-invariant, so
    the oracle is the plain join."""
    li = load(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return relational.salted_join_agg(
        li,
        o,
        "o_orderkey",
        ["o_orderpriority"],
        {"n_items": F.count(F.lit(1)), "revenue": dec_sum("l_extendedprice")},
        salt_cols=["o_orderkey", "l_linenumber"],
    )


@register(
    "percentile_stats",
    """
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95
    FROM orders GROUP BY o_orderstatus
    """,
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    quantile_cont).  The approximate scale path is approx_distinct /
    percentile_approx (rows-only)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
    )


@register(
    "argmax_per_group",
    """
    SELECT event_type,
           arg_max(user_id, value * 1000000 + user_id) AS top_user,
           MAX(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # value*1e6+user_id: unique, order-preserving -> deterministic argmax
    return ev.groupBy("event_type").agg(
        F.expr("max_by(user_id, value * 1000000 + user_id)").alias("top_user"),
        F.max("value").alias("max_value"),
    )


@register(
    "tfidf_per_doc",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    dfreq AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
      HAVING COUNT(DISTINCT doc_id) >= 2
         AND COUNT(DISTINCT doc_id) <= CAST(0.95 * (SELECT n_docs FROM n) AS BIGINT)
    )
    SELECT tf.doc_id, tf.term, tf.tf,
           ROUND(tf.tf * (ln((1.0 + (SELECT n_docs FROM n)) / (1.0 + dfreq.df)) + 1.0), 4) AS tfidf
    FROM tf JOIN dfreq ON tf.term = dfreq.term
    """,
)
def tfidf_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, term) TF-IDF weights — the full relational equivalent of
    TfidfVectorizer.fit_transform (redditProcessor.py:103-104) with
    min_df=2 / max_df=0.95.  Two hash aggregations + one broadcastable
    join on the (small) vocabulary."""
    from .functions.text import tokens as _tokens
    from .sources.tables import fan_out

    docs = fan_out(load(spark, sf_dir, "documents"))
    n_docs = docs.count()
    tok = docs.select("doc_id", F.explode(_tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tok.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= int(0.95 * n_docs)))
    )
    idf = F.log((F.lit(1.0) + n_docs) / (F.lit(1.0) + F.col("df"))) + 1.0
    return (
        tf.join(F.broadcast(dfreq), "term")
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * idf, 4).alias("tfidf"),
        )
    )


@register(
    "to_json_encode",
    """
    SELECT event_id,
           CAST(to_json(struct_pack(event_id := event_id, event_type := event_type,
                                    user_id := user_id)) AS VARCHAR) AS doc,
           concat(event_id, '_', 'b1') AS sink_id
    FROM events
    """,
)
def to_json_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O22 encode direction + O23/O24 surrogate sink-key synthesis
    (_id = f"{key}_{batch_id}", redditProcessor.py:135-136)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_json(F.struct("event_id", "event_type", "user_id")).alias("doc"),
        F.concat_ws("_", F.col("event_id"), F.lit("b1")).alias("sink_id"),
    )


@register(
    "epoch_roundtrip",
    """
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           TIMESTAMP '1970-01-01 00:00:00'
             + CAST(floor(epoch(ts)) AS BIGINT) * INTERVAL '1 second' AS ts_sec
    FROM events
    """,
)
def epoch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18 both directions: ts -> unix seconds -> ts (second precision),
    replacing the reference's hand-built epoch->ISO strings."""
    _utc(spark)
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_seconds(F.col("ts")).alias("epoch_s"),
        F.timestamp_seconds(F.unix_seconds(F.col("ts"))).alias("ts_sec"),
    )


# ---------------------------------------------------------------------------
# spark.sql surface: the SAME ANSI SQL string runs on Spark and DuckDB.
# ---------------------------------------------------------------------------

_ANSI_PRICING = f"""
    SELECT l_returnflag, l_linestatus,
           {_dec_sum_sql('l_quantity')} AS sum_qty,
           {_dec_sum_sql('l_extendedprice')} AS sum_base_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


@register("sql_api_pricing", _ANSI_PRICING)
def sql_api_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql entry surface: temp views + one ANSI SQL text that
    is byte-identical to the DuckDB oracle — demonstrating that the
    engine's SQL dialect surface needs no translation layer."""
    from .sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_ANSI_PRICING)


# ---------------------------------------------------------------------------
# Rows-only queries (no DuckDB oracle — model-backed / streaming /
# approximate / pandas-UDF operators; the driver records a weaker
# rows-only check, per the harness contract).
# ---------------------------------------------------------------------------


@register(
    "approx_distinct",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact,
           TRUE AS hll_within_3rsd
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) with a MEASURED error envelope:
    the sketch value itself is engine-specific, so the oracle-checked
    output carries the exact count plus a boolean asserting the sketch
    landed within 3x its configured rsd (0.05) — the histogram-sketch
    pattern (error measured against the exact leg in the same output).
    HLL++ is deterministic for fixed data, so the flag cannot flap
    between runs; if Spark's sketch ever drifts out of its documented
    envelope this query goes red."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.countDistinct("l_partkey").alias("n_exact"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", 0.05)
                - F.countDistinct("l_partkey")
            )
            <= F.countDistinct("l_partkey") * F.lit(0.15)
        ).alias("hll_within_3rsd"),
    )


@register("sentiment_pandas_udf", _SENTIMENT_REL_SQL)
def sentiment_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O21/O40 pandas-UDF surface (executor-singleton analyzer).
    HARD-oracled (round 6): the Arrow path implements exactly the
    relational semantics, so it shares `sentiment_relational`'s SQL
    oracle — the Python leg is value-hash-gated, not just rows-only."""
    from .functions.sentiment import score_pandas_udf

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return score_pandas_udf(docs, "text").select(
        "doc_id", "sentiment_score", "sentiment"
    )


from .operators.bpe import bpe_encode_oracle_sql, bpe_merges_oracle_sql  # noqa: E402


@register("bpe_merges", bpe_merges_oracle_sql(12))
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (the LLM-tokenizer vocabulary
    build) over the documents corpus: word-frequency model, most-frequent
    adjacent pair per round, lexicographic tie-break.  HARD-oracled
    (round 6): the greedy loop is finite and deterministic, so the
    oracle unrolls one-merge-per-round CTEs (kmeans-oracle tactic) with
    the left-to-right non-overlapping rewrite expressed as a run-parity
    window — the batched engine path is provably equivalent to that
    sequence (also pinned against the pure-Python reference in
    tests/test_bpe.py)."""
    from .operators.bpe import learn_bpe_merges

    return learn_bpe_merges(
        load(spark, sf_dir, "documents").select("text"), "text", n_merges=12
    )


@register("bpe_encode", bpe_encode_oracle_sql(12))
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer round-trip: learn 12 BPE merges from the corpus, then
    encode the corpus with them — per-document word/BPE-token counts and
    chars-per-token.  The rewrite runs on the distinct-word table only
    (vocabulary-sized, like the learner).  HARD-oracled (round 6): the
    final word->symbols table equals the learner oracle's v12, so the
    stats replay as one join; also pinned against the independent
    Python reference in tests/test_bpe.py."""
    from .functions.text import tokens as _tokens
    from .operators.bpe import bpe_encode_stats, learn_bpe_merges

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # one tokenization collapse shared by the learn and encode legs
    # (the tokenizer_fertility_compare idiom) instead of two
    # independent corpus explode+groupBy passes
    toks = F.transform(_tokens("text"), lambda t: F.lower(t))
    doc_words = (
        docs.select("doc_id", F.explode(toks).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    ).localCheckpoint(eager=True)
    words = doc_words.groupBy("w").agg(F.sum("n").alias("freq"))
    merges = [
        (r.left, r.right)
        for r in learn_bpe_merges(
            docs, "text", n_merges=12, words=words
        ).collect()
    ]
    return bpe_encode_stats(docs, "doc_id", "text", merges, doc_words=doc_words)


@register(
    "lda_topics",
    """
    SELECT doc_id, TRUE AS has_k_topics, TRUE AS nonneg_ok,
           TRUE AS simplex_ok
    FROM documents
    """,
)
def lda_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O31-O34: TF-IDF -> LDA(k, seed) -> widened topic matrix.
    The topic VALUES are inherently model-backed (Spark online-VB vs
    sklearn batch-VB, SURVEY §5), so the gate is the MEASURED
    structural contract, per document: exactly k widened columns, all
    non-negative, summing to 1 within 1e-9 (a valid distribution over
    topics).  HARD-gated (round 7): every doc row must appear with all
    three booleans true — a dropped doc, a negative loading, or a
    broken simplex flips the value hash (the error-envelope tactic
    from approx_distinct applied to a model output)."""
    from .operators.topics import fit_topics, widen_topics

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("text")
    )
    _, transformed = fit_topics(docs, id_col="doc_id", text_col="text", k=5, min_df=2.0)
    w = widen_topics(transformed, ["doc_id"], k=5)
    tcols = [F.col(f"topic_{i}") for i in range(1, 6)]
    total = tcols[0] + tcols[1] + tcols[2] + tcols[3] + tcols[4]
    return w.select(
        "doc_id",
        F.lit(True).alias("has_k_topics"),  # widen_topics(k=5) raised otherwise
        (F.least(*tcols) >= F.lit(0.0)).alias("nonneg_ok"),
        (F.abs(total - F.lit(1.0)) <= F.lit(1e-9)).alias("simplex_ok"),
    )


_IVF_K, _IVF_CENTROIDS, _IVF_PROBE = 5, 16, 4


@register(
    "ann_ivf_topk",
    f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < {_IVF_CENTROIDS}
    ), scored AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.centroid_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 6) AS ccos
      FROM embeddings e CROSS JOIN cents c
    ), assigned AS (
      SELECT vec_id, v, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored) WHERE rk = 1
    ), probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT vec_id AS query_id, v AS qv, centroid_id AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})) WHERE rk <= {_IVF_PROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.v), 4) AS cos
      FROM assigned a JOIN probes p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM cand) WHERE rk <= {_IVF_K}
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: nearest-centroid cells + n_probe search
    (the inverted-file ANN scale path; see operators/similarity.ivf_topk)."""
    return similarity.ivf_topk(
        load(spark, sf_dir, "embeddings"),
        _ANN_QUERY_IDS,
        k=_IVF_K,
        n_centroids=_IVF_CENTROIDS,
        n_probe=_IVF_PROBE,
    )


def _ann_eval_oracle() -> str:
    """Oracle for ann_ivf_eval: replay the IVF leg and the brute-force
    leg, join, and compute recall@k / MRR / nDCG@k with the SAME
    pre-rounded decimal discount literals the Spark plan embeds (no
    libm log2 in either engine)."""
    from .operators.similarity import _dcg_discount_literals

    disc = _dcg_discount_literals(_IVF_K)
    idcg = sum(disc.values())
    disc_case = " ".join(f"WHEN {i} THEN {v!r}" for i, v in disc.items())
    ids = ", ".join(map(str, _ANN_QUERY_IDS))
    return f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < {_IVF_CENTROIDS}
    ), scored AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.centroid_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 6) AS ccos
      FROM embeddings e CROSS JOIN cents c
    ), assigned AS (
      SELECT vec_id, v, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored) WHERE rk = 1
    ), probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT vec_id AS query_id, v AS qv, centroid_id AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored WHERE vec_id IN ({ids})) WHERE rk <= {_IVF_PROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.v), 4) AS cos
      FROM assigned a JOIN probes p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    ), approx AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
        FROM cand) WHERE rk <= {_IVF_K}
    ), q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id IN ({ids})
    ), exact AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY ROUND(list_cosine_similarity(q.qv,
                         CAST(e.embedding AS DOUBLE[])), 4) DESC, e.vec_id) AS rk
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
      ) WHERE rk <= {_IVF_K}
    ), j AS (
      SELECT a.query_id, a.rk AS rka, e.rk AS rke
      FROM approx a LEFT JOIN exact e
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    )
    SELECT query_id,
           CAST(COUNT(rke) AS BIGINT) AS n_overlap,
           ROUND(COUNT(rke) / {float(_IVF_K)}, 4) AS recall_at_k,
           COALESCE(MAX(CASE WHEN rke = 1 THEN ROUND(1.0 / rka, 6) END), 0.0) AS mrr,
           ROUND(CAST(SUM(CAST(CASE WHEN rke IS NOT NULL
                        THEN (CASE rka {disc_case} END)
                        ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
                 / {idcg!r} + 1e-9, 4) AS ndcg_at_k
    FROM j GROUP BY query_id
    """


# IR-metric evaluation of the IVF index against brute-force ground
# truth: recall@k, MRR, binary-relevance nDCG@k per query — the
# metric triple an ANN deployment is judged on, with discount factors
# embedded as shared decimal literals (no libm log2 on either engine).
@register("ann_ivf_eval", _ann_eval_oracle())
def ann_ivf_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    approx = similarity.ivf_topk(
        emb,
        _ANN_QUERY_IDS,
        k=_IVF_K,
        n_centroids=_IVF_CENTROIDS,
        n_probe=_IVF_PROBE,
    )
    exact = similarity.brute_force_topk(emb, _ANN_QUERY_IDS, k=_IVF_K)
    return similarity.retrieval_eval_metrics(approx, exact, k=_IVF_K)


@register(
    "topic_labels",
    """
    SELECT CAST(i AS INT) AS topic, TRUE AS prefix_ok,
           TRUE AS has_10_terms, TRUE AS terms_distinct
    FROM range(0, 5) t(i)
    """,
)
def topic_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O33 ML path: LDA describeTopics -> 'topic_N: w1 .. w10' label
    strings (the reference's argsort-slice topic naming,
    redditProcessor.py:113-121).  The words are model-backed, so the
    gate is the MEASURED label contract: exactly k rows numbered 1..k,
    each label 'topic_N: ' + exactly 10 distinct vocabulary words.
    HARD-gated (round 7) via the boolean-envelope oracle — a missing
    topic row, wrong prefix, wrong word count, or repeated word flips
    the value hash."""
    from .operators.topics import fit_topics, topic_names

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    model, _ = fit_topics(docs, id_col="doc_id", text_col="text", k=5, min_df=2.0)
    names = topic_names(model, top_n=10)
    words = F.split(
        F.regexp_replace("topic_name", r"^topic_\d+: ", ""), " "
    )
    return names.select(
        "topic",
        F.col("topic_name").rlike(r"^topic_\d+: ").alias("prefix_ok"),
        (F.size(words) == 10).alias("has_10_terms"),
        (F.size(F.array_distinct(words)) == 10).alias("terms_distinct"),
    )


_STRAT_FRACS = {"click": "80", "view": "14", "purchase": "ff", "error": "00"}
_STRAT_CASE = " ".join(
    f"WHEN event_type = '{t}' THEN '{h}'" for t, h in _STRAT_FRACS.items()
)


@register(
    "stratified_hash_sample",
    f"""
    SELECT event_id, event_type FROM events
    WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 2)
          < (CASE {_STRAT_CASE} ELSE '00' END)
    """,
)
def stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum md5-bucket
    thresholds (~50% clicks, ~8% views, ~99.6% purchases, 0% errors) —
    rebalancing skewed event types for training without RNG; membership
    is a pure narrow filter, reproducible on any engine."""
    ev = load(spark, sf_dir, "events")
    bucket = F.substring(F.md5(F.col("event_id").cast("string")), 1, 2)
    thr = None
    for t, h in _STRAT_FRACS.items():
        cond = F.col("event_type") == t
        thr = F.when(cond, F.lit(h)) if thr is None else thr.when(cond, F.lit(h))
    thr = thr.otherwise(F.lit("00"))
    return ev.filter(bucket < thr).select("event_id", "event_type")


@register(
    "approx_percentiles",
    """
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers_exact,
           TRUE AS hll_within_3rsd,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM orders GROUP BY o_orderstatus
    """,
)
def approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (approx_percentile, Greenwald-Khanna)
    with a MEASURED error envelope: GK values are engine-specific, so
    the oracle-checked output asserts each approximate quantile lies
    within 2% (relative) of the exact percentile and the HLL customer
    count within 3x rsd — deterministic for fixed data (both sketches
    are deterministic), hard-gated instead of rows-only."""
    o = load(spark, sf_dir, "orders")
    approx = F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 10000)
    exact = F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))")
    ok = [
        (
            F.abs(approx.getItem(i) - exact.getItem(i))
            <= exact.getItem(i) * F.lit(0.02)
        ).alias(name)
        for i, name in enumerate(["p50_ok", "p90_ok", "p99_ok"])
    ]
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers_exact"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", 0.05)
                - F.countDistinct("o_custkey")
            )
            <= F.countDistinct("o_custkey") * F.lit(0.15)
        ).alias("hll_within_3rsd"),
        *ok,
    )


def _ann_lsh_oracle(n_planes: int = 8, bands: int = 4, k: int = 5) -> str:
    """Exact replay of similarity.lsh_topk: the hyperplanes are
    deterministic literals (make_planes), so the banded signatures,
    candidate set, and cosine re-rank are all SQL-expressible — the same
    construction that backs embedding_neardup's oracle."""
    from .functions.vectors import make_planes

    planes = make_planes(64, n_planes)
    rpb = n_planes // bands
    band_cols = ", ".join(
        f"{_neardup_bucket_sql(planes[b * rpb:(b + 1) * rpb])} AS b{b}"
        for b in range(bands)
    )
    any_band = " OR ".join(f"c.b{b} = q.b{b}" for b in range(bands))
    ids = ", ".join(map(str, _ANN_QUERY_IDS))
    return f"""
    WITH keyed AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {band_cols}
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, v AS qv,
             {", ".join(f"b{b}" for b in range(bands))}
      FROM keyed WHERE vec_id IN ({ids})
    ),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id, q.qv, c.v
      FROM keyed c JOIN q ON c.vec_id <> q.query_id AND ({any_band})
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             ROUND(list_cosine_similarity(qv, v), 4) AS cos
      FROM cand
    )
    SELECT query_id, neighbor_id, cos, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= {k}
    """


@register("ann_lsh_topk", _ann_lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH-bucketed approximate top-k (recall/latency
    trade-off vs ann_cosine_topk; candidates only from matching bands).
    Oracle-backed: the plane literals are shared with the SQL replay."""
    return similarity.lsh_topk(
        load(spark, sf_dir, "embeddings"), _ANN_QUERY_IDS, k=5, n_planes=8, bands=4
    )


from .oracles_media import (  # noqa: E402
    MEDIA_FEATURES_ORACLE,
    MEDIA_PATCHES_VAD_ORACLE,
    MEDIA_RESIZE_ORACLE,
)


@register("media_features", MEDIA_FEATURES_ORACLE)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction: binary payloads -> mapInPandas.
    All three modality paths are REAL pure-stdlib codecs: PNG images
    (pixel histogram), PCM16 WAV audio (duration/rms/zcr/peak +
    amplitude histogram), Y4M video (duration/frames/mean-luma/motion
    + pooled luma histogram) — see operators/multimodal.py DECODERS.
    HARD-gated (round 7): synthetic_media is a pure function of the
    row index, so the output is a byte-determined constant — the
    oracle pins it as a VALUES literal (oracles_media.py)."""
    from .operators.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, 64)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "modality",
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 4).alias(
            "feature_sum"
        ),
        F.size("features").alias("dim"),
    )


@register(
    "streaming_interval_join",
    """
    WITH ev AS (
      SELECT event_id, ts, user_id, value, event_type
      FROM events ORDER BY event_id LIMIT 2000
    ), c AS (SELECT * FROM ev WHERE event_type = 'click'),
       p AS (SELECT * FROM ev WHERE event_type = 'purchase')
    SELECT c.user_id AS user_id,
           c.event_id AS left_event_id, c.ts AS left_ts,
           p.event_id AS right_event_id, p.ts AS right_ts,
           p.value AS right_value
    FROM c JOIN p ON c.user_id = p.user_id
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def streaming_interval_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked interval join over the events table:
    purchases joined to clicks of the same user within 1 hour.  Each
    side arrives as one file micro-batch, so no row is watermark-late
    and the result is deterministic (equals the batch interval join).
    HARD-gated (round 7): the oracle IS that batch interval join —
    the streamed result value-hashes against DuckDB's plain range
    join over the same 2000 events (no projection is lossy: ids,
    timestamps, and values all participate in the hash)."""
    import tempfile
    import uuid

    from .streaming.ingest import streaming_interval_join

    ev = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(2000)
        .select("event_id", "ts", "user_id", "value")
    )
    with tempfile.TemporaryDirectory() as tmp:
        cdir, pdir = f"{tmp}/clicks", f"{tmp}/purchases"
        evs = load(spark, sf_dir, "events").orderBy("event_id").limit(2000)
        evs.filter(F.col("event_type") == "click").select(
            "event_id", "ts", "user_id", "value"
        ).coalesce(1).write.parquet(cdir)
        evs.filter(F.col("event_type") == "purchase").select(
            "event_id", "ts", "user_id", "value"
        ).coalesce(1).write.parquet(pdir)
        cs = spark.readStream.schema(ev.schema).parquet(cdir)
        ps = spark.readStream.schema(ev.schema).parquet(pdir)
        qname = f"sjoin_{uuid.uuid4().hex[:8]}"
        q = (
            streaming_interval_join(cs, ps, within="1 hour")
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.table(qname)
        return out.localCheckpoint(eager=True)


@register(
    "streaming_interval_join_outer",
    """
    WITH ev AS (
      SELECT event_id, ts, user_id, value, event_type
      FROM events ORDER BY event_id LIMIT 2000
    ), c AS (SELECT * FROM ev WHERE event_type = 'click'),
       p AS (SELECT * FROM ev WHERE event_type = 'purchase')
    SELECT c.user_id AS user_id,
           c.event_id AS left_event_id, c.ts AS left_ts,
           p.event_id AS right_event_id, p.ts AS right_ts,
           p.value AS right_value
    FROM c LEFT JOIN p ON c.user_id = p.user_id
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def streaming_interval_join_outer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT-OUTER stream-stream interval join: every click,
    with its within-1h purchase when one exists, else null right-side
    columns — the unmatched-left ("click that never converted") story
    the inner form cannot express.

    Two-micro-batch replay protocol (maxFilesPerTrigger=1, mtimes
    staggered so file order is deterministic): batch 1 carries the real
    events; batch 2 carries one far-future sentinel row PER SIDE (the
    global watermark is the min across inputs, so both sides must
    advance).  Unmatched-left nulls are emitted only by the trailing
    no-data micro-batch, after the watermark (sentinel_ts - 2h) passes
    every left row's window end — Spark's state-expiry-emits-null
    machinery, exercised end-to-end.  Because the watermark ends up
    past ALL real windows, the streamed result equals the batch left
    join, which is exactly what the DuckDB oracle computes (nulls
    participate in the driver's value hash).  Sentinels use key -1/-2
    (absent from data, mutually non-joining) and are filtered out; the
    sentinel left row itself stays in state forever (its own window
    never closes) so it cannot leak into the output."""
    import os
    import tempfile
    import time as _time
    import uuid

    from .streaming.ingest import streaming_interval_join_outer

    evs = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(2000)
        .select("event_id", "ts", "user_id", "value", "event_type")
        .cache()
    )
    max_ts = evs.agg(F.max("ts")).first()[0]  # scalar; sizes the sentinel
    with tempfile.TemporaryDirectory() as tmp:
        cdir, pdir = f"{tmp}/clicks", f"{tmp}/purchases"
        sel = ["event_id", "ts", "user_id", "value"]
        clicks = evs.filter(F.col("event_type") == "click").select(*sel)
        evs.filter(F.col("event_type") == "purchase").select(*sel).coalesce(
            1
        ).write.parquet(pdir)
        clicks.coalesce(1).write.parquet(cdir)
        # sentinel micro-batch: +10h > window(1h) + watermark(2h), so the
        # final watermark passes every real left window's end
        sentinel = (
            spark.range(1)
            .select(
                F.lit(-1).cast("long").alias("event_id"),
                (F.lit(max_ts) + F.expr("INTERVAL 10 HOURS")).alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit(0.0).alias("value"),
            )
        )
        data_parts = {
            (d, n) for d in (cdir, pdir) for n in os.listdir(d) if n.startswith("part-")
        }
        sentinel.coalesce(1).write.mode("append").parquet(cdir)
        sentinel.withColumn("user_id", F.lit(-2).cast("long")).coalesce(
            1
        ).write.mode("append").parquet(pdir)
        # FileStreamSource orders by mtime; pin data strictly before
        # sentinel so no real row arrives below the advanced watermark
        now = _time.time()
        for d in (cdir, pdir):
            for name in os.listdir(d):
                if name.startswith("part-"):
                    t = now - 60 if (d, name) in data_parts else now
                    os.utime(f"{d}/{name}", (t, t))
        schema = clicks.schema
        cs = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(cdir)
        )
        ps = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(pdir)
        )
        qname = f"sjoin_outer_{uuid.uuid4().hex[:8]}"
        q = (
            streaming_interval_join_outer(cs, ps, within="1 hour")
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        out = spark.table(qname).filter(F.col("user_id") >= 0)
        res = spark.createDataFrame(out.collect(), out.schema)
    evs.unpersist()
    return res


@register(
    "ml_lsh_simjoin",
    """
    WITH u AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_aggregate(
                 list_transform(CAST(embedding AS DOUBLE[]), y -> y * y),
                 'sum'))) AS uv
      FROM embeddings
    ), brute AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             sqrt(GREATEST(2.0 - 2.0 * list_inner_product(a.uv, b.uv),
                           0.0)) AS dist
      FROM u a JOIN u b ON a.vec_id < b.vec_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           TRUE AS lsh_subset_of_brute,
           TRUE AS recall_ge_90
    FROM brute WHERE dist <= 1.19
    """,
)
def ml_lsh_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock Spark ML BucketedRandomProjectionLSH similarity self-join
    (SURVEY §4: the built-in scale path next to the hand-rolled
    hyperplane LSH).  Bucket membership depends on the model's random
    projections (seeded, not SQL-replayable), so the gate is a MEASURED
    recall envelope against exact brute force (the approx_distinct
    tactic): one row carrying the exact ground-truth pair count (full
    value check vs the oracle's brute-force count), a strict
    subset boolean (approxSimilarityJoin post-filters true distance,
    so any non-true pair is a bug), and recall >= 0.9 (measured 0.97
    at sf0.001 and sf0.1; deterministic for fixed seed+data).  The
    brute-force leg here is gate-scale instrumentation only — the
    operator under test stays the subquadratic LSH join."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from .functions.vectors import as_double, norm
    from .sources.tables import fan_out

    emb = fan_out(load(spark, sf_dir, "embeddings"))
    vd = as_double(F.col("embedding"))
    unit_arr = F.transform(vd, lambda x: x / norm(vd))
    unit = emb.select(
        "vec_id",
        array_to_vector(unit_arr).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        seed=42,
        bucketLength=0.5,
        numHashTables=4,
    )
    model = lsh.fit(unit)
    # unit vectors: dist = sqrt(2 - 2cos), so 1.19 ~= cosine 0.29 —
    # the same neighborhood the embedding_neardup oracle uses
    joined = model.approxSimilarityJoin(unit, unit, 1.19, distCol="dist")
    lsh_pairs = (
        joined.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("id_a"),
            F.col("datasetB.vec_id").alias("id_b"),
        )
        .distinct()
    )
    u2 = emb.select("vec_id", unit_arr.alias("u"))
    a, b = u2.alias("a"), u2.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.u"), F.col("b.u"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    true_pairs = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.sqrt(F.greatest(F.lit(2.0) - 2.0 * dot, F.lit(0.0))).alias("dist"),
        )
        .filter(F.col("dist") <= 1.19)
        .select("id_a", "id_b")
        .persist()
    )
    n_true = true_pairs.count()
    n_inter = lsh_pairs.join(true_pairs, ["id_a", "id_b"]).count()
    n_extra = lsh_pairs.join(true_pairs, ["id_a", "id_b"], "left_anti").count()
    true_pairs.unpersist()
    return spark.createDataFrame(
        [(n_true, n_extra == 0, (n_inter / n_true if n_true else 1.0) >= 0.9)],
        "n_true_pairs long, lsh_subset_of_brute boolean, recall_ge_90 boolean",
    )


@register("media_resize", MEDIA_RESIZE_ORACLE)
def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize + frame-extract: REAL aspect-preserving PNG
    resize (decode -> nearest-neighbor resample -> re-encode, pure
    stdlib, in mapInPandas) unioned with REAL Y4M frame extraction
    (decode-once fan-out to PNG frames inside the Arrow batch).
    HARD-gated (round 7) against the pinned VALUES oracle — the
    resampled dimensions AND re-encoded byte lengths must match the
    captured constants exactly (oracles_media.py)."""
    from .operators.multimodal import extract_frames, resize_images, synthetic_media

    media = synthetic_media(spark, 64)
    resized = resize_images(media, max_side=32).select(
        "media_id",
        F.lit("resize").alias("op"),
        F.col("new_width").cast("long").alias("out_a"),
        F.col("new_height").cast("long").alias("out_b"),
        F.length("payload").cast("long").alias("out_bytes"),
    )
    frames = extract_frames(media, every_ms=5000)
    frame_counts = frames.groupBy("media_id").agg(
        F.lit("frame_extract").alias("op"),
        F.count(F.lit(1)).alias("out_a"),
        F.min("frame_ts_ms").cast("long").alias("out_b"),
        F.sum(F.length("payload")).cast("long").alias("out_bytes"),
    )
    return resized.unionByName(frame_counts)


@register("media_patches_vad", MEDIA_PATCHES_VAD_ORACLE)
def media_patches_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal tokenization primitives: ViT-style 8x8 image patching
    (decode-once in-batch fan-out, one row per tile with its real
    pixel bytes) unioned with energy-threshold voice-activity segments
    over the PCM16 audio clips — the patch-sequence and
    silence-trimming steps a vision/audio training pipeline runs
    before embedding.  HARD-gated (round 7) against the pinned VALUES
    oracle (oracles_media.py)."""
    from .operators.multimodal import (
        image_patches,
        scene_changes,
        synthetic_media,
        vad_segments,
    )

    media = synthetic_media(spark, 64)
    patches = image_patches(media, patch=8).groupBy("media_id").agg(
        F.lit("image_patches").alias("op"),
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.round(F.avg("mean_intensity"), 4).alias("mean_stat"),
        F.sum(F.length("pixels")).cast("long").alias("out_bytes"),
    )
    vad = vad_segments(media, frame_ms=20).groupBy("media_id").agg(
        F.lit("vad_segments").alias("op"),
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.round(F.avg("mean_energy"), 4).alias("mean_stat"),
        F.sum(F.col("seg_end_ms") - F.col("seg_start_ms")).cast("long").alias(
            "out_bytes"
        ),
    )
    scenes = scene_changes(media, threshold=12.0).groupBy("media_id").agg(
        F.lit("scene_changes").alias("op"),
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.round(F.avg("mean_abs_diff"), 4).alias("mean_stat"),
        F.max("frame_ts_ms").cast("long").alias("out_bytes"),
    )
    return patches.unionByName(vad).unionByName(scenes)


@register(
    "vector_stats",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')), 4) AS l2_norm,
           ROUND(list_aggregate(CAST(embedding AS DOUBLE[]), 'sum') / len(embedding), 4) + 0.0 AS mean_val,
           len(list_filter(CAST(embedding AS DOUBLE[]), x -> x >= 0)) AS n_nonneg
    FROM embeddings
    """,
)
def vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions on the embedding column (transform /
    filter / aggregate) — all JVM-side expression evaluation, no UDF;
    the per-row work scans the array once per measure in a narrow map."""
    from .functions.vectors import as_double

    emb = load(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    sq_sum = F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    total = F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sq_sum), 4).alias("l2_norm"),
        # + 0.0 normalizes IEEE negative zero (round can yield -0.0)
        (F.round(total / F.size("embedding"), 4) + F.lit(0.0)).alias("mean_val"),
        F.size(F.filter(v, lambda x: x >= 0)).alias("n_nonneg"),
    )


@register(
    "grouped_zscore",
    """
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS ssq
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    ), stats AS (
      SELECT event_type, n, s / n AS mu,
             sqrt(GREATEST((ssq - n * (s / n) * (s / n)) / (n - 1), 0))
               AS sd
      FROM g WHERE n >= 2
    )
    SELECT e.event_id, e.event_type,
           ROUND(CASE WHEN st.sd > 0 THEN (e.value - st.mu) / st.sd
                      ELSE 0.0 END, 4) + 0.0 AS zscore
    FROM events e JOIN stats st ON e.event_type = st.event_type
    WHERE e.value IS NOT NULL
    """,
)
def grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map surface: per-event-type z-score
    normalization, each group handed to pandas as one Arrow batch (the
    grouped twin of mapInPandas; state-free twin of
    applyInPandasWithState).  Model of use: per-group featurization
    that genuinely needs pandas/numpy semantics.

    HARD-gated (round 7): the UDF computes mean/std from EXACT
    decimal-quantized sums (values at 1e-6, squares at 1e-12 — the
    same half-up rule as both engines' double->DECIMAL cast) and then
    applies the identical double-expression tree the oracle uses, so
    mu/sd/z are bit-equal on both legs and the 4dp rounded z-scores
    value-hash (the trimmed_mean_udaf tactic extended to a grouped
    map).  Final rounding happens JVM-side with F.round — the same
    rounding pair every other oracled query relies on."""
    import pandas as pd

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )

    def _z(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from decimal import ROUND_HALF_UP, Decimal

        six, twelve = Decimal("0.000001"), Decimal("0.000000000001")
        vals = [float(x) for x in pdf["value"]]
        n = len(vals)
        micros = sum(
            int(Decimal(x).quantize(six, ROUND_HALF_UP) * 1_000_000) for x in vals
        )
        pico = sum(
            int(Decimal(x * x).quantize(twelve, ROUND_HALF_UP) * 10**12)
            for x in vals
        )
        if n < 2:  # oracle's stats CTE drops singleton groups too
            return pd.DataFrame(
                {"event_id": [], "event_type": [], "zscore": []}
            ).astype({"event_id": "int64", "event_type": "str", "zscore": "float64"})
        s = micros / 1e6
        ssq = pico / 1e12
        mu = s / n
        var = (ssq - n * (s / n) * (s / n)) / (n - 1)
        sd = max(var, 0.0) ** 0.5
        z = (pdf["value"] - mu) / sd if sd > 0 else pdf["value"] * 0.0
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "zscore": z,
            }
        )

    raw = ev.groupBy("event_type").applyInPandas(
        _z, "event_id long, event_type string, zscore double"
    )
    return raw.select(
        "event_id",
        "event_type",
        (F.round("zscore", 4) + F.lit(0.0)).alias("zscore"),
    )


# GROUPED_AGG pandas UDAF: completes the Python UDF matrix (scalar
# pandas_udf / grouped-map applyInPandas / mapInPandas / UDTF / stateful
# — this is the custom-AGGREGATE surface).  Decimal-quantized trimmed
# mean so the aggregate is engine-exact and the DuckDB oracle replays
# it with window trimming.
@register(
    "trimmed_mean_udaf",
    """
    WITH v AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           COUNT(*) AS n_used,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                 + 1e-9, 6) AS trimmed_mean
    FROM v
    WHERE rn > n // 10 AND rn <= n - n // 10
    GROUP BY event_type
    """,
)
def trimmed_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean per event type via a GROUPED_AGG pandas UDF —
    the robust-statistics aggregate the built-ins lack.  Inside the
    UDAF every value is quantized to DECIMAL(18,6) exactly as Spark's
    double->decimal cast does (exact binary expansion, half-up), summed
    as exact decimals, and divided as a correctly-rounded double — so
    the trimmed mean is bit-identical to the oracle's window-trimmed
    decimal aggregate regardless of pandas' summation order.

    Scale shape: one groupBy shuffle; Arrow moves each group's values
    once.  The trim itself is order-statistic work a window would sort
    for anyway — here it sorts per group inside the UDAF."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: the module's `from __future__ import
    # annotations` stringifies type hints, so signature inference
    # cannot see pd.Series -> float here
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def _trimmed_mean(v):
        vals = sorted(v.dropna())
        k = len(vals) // 10
        kept = vals[k : len(vals) - k] if k else vals
        if not kept:
            return 0.0
        six = Decimal("0.000001")
        total = sum(Decimal(x).quantize(six, ROUND_HALF_UP) for x in kept)
        return round(float(total) / len(kept) + 1e-9, 6)

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # GROUPED_AGG UDFs cannot mix with native aggregates in one agg();
    # n_used comes from a native pass joined on the tiny type key
    means = ev.groupBy("event_type").agg(_trimmed_mean("value").alias("trimmed_mean"))
    counts = ev.groupBy("event_type").agg(
        F.expr("count(1) - 2 * (count(1) div 10)").alias("n_used")
    )
    return counts.join(means, "event_type").select(
        "event_type", "n_used", "trimmed_mean"
    )


def _analytics_oracle_sql() -> str:
    """DuckDB replay of the EP3 pipeline's RELATIONAL spine: derived
    post/comment corpora -> keyword filter -> schema-aligned union ->
    normalize chain -> lexicon sentiment (the exact _SENTIMENT_REL_SQL
    construction, re-rooted on the derived corpus keyed by source
    doc_id).  The LDA topic matrix is model-backed, so its contract
    rides as measured simplex booleans (TRUE literals here)."""
    norm_post = normalize_sql("concat_ws(' ', title, selftext)")
    norm_comment = normalize_sql("body")
    score = f"ROUND(x / sqrt(x * x + {ALPHA}), 4)"
    return f"""
    WITH base_posts AS (
      SELECT doc_id, CAST(doc_id AS VARCHAR) AS id, lang AS subreddit,
             substring(text, 1, 40) AS title, text AS selftext
      FROM documents WHERE doc_id % 2 = 0
    ), base_comments AS (
      SELECT doc_id, CAST(doc_id - 1 AS VARCHAR) AS id, lang AS subreddit,
             text AS body
      FROM documents WHERE doc_id % 2 = 1
    ), corpus AS (
      SELECT doc_id, id, subreddit, {norm_post} AS text
      FROM base_posts
      WHERE contains(lower(title), 'the') OR contains(lower(selftext), 'the')
      UNION ALL
      SELECT doc_id, id, subreddit, {norm_comment} AS text
      FROM base_comments WHERE contains(lower(body), 'the')
    ), tok AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS word FROM corpus
    ), lex(word, valence) AS (VALUES {_LEX_VALUES}),
    s AS (
      SELECT c.doc_id, COALESCE(SUM(l.valence), 0.0) AS x
      FROM corpus c
      LEFT JOIN tok t ON t.doc_id = c.doc_id
      LEFT JOIN lex l ON l.word = t.word
      GROUP BY c.doc_id
    )
    SELECT c.id, c.subreddit,
           CASE WHEN {score} > {POS_THRESHOLD} THEN 'positive'
                WHEN {score} < {NEG_THRESHOLD} THEN 'negative'
                ELSE 'neutral' END AS sentiment,
           {score} AS sentiment_score,
           'batch-0' AS batch_id,
           TRUE AS topics_nonneg_ok, TRUE AS topics_simplex_ok
    FROM corpus c JOIN s ON c.doc_id = s.doc_id
    """


@register("analytics_pipeline", _analytics_oracle_sql())
def analytics_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL EP3 analytics job (redditProcessor.py:56-156)
    end-to-end as one plan: keyword filter -> schema-aligned union ->
    normalize -> sentiment -> TF-IDF/LDA -> widened topics -> batch
    stamp.  Post/comment corpora are derived deterministically from the
    documents table so the job scales with sf.

    HARD-gated (round 7): the whole relational spine (filters, union,
    normalize chain, sentiment score + bucket, batch stamp) is
    value-hashed against a composed DuckDB replay; the model-backed
    topic matrix rides as MEASURED per-row simplex booleans (k
    non-negative loadings summing to 1 within 1e-9) against TRUE
    literals — the approx_distinct envelope tactic.  Structure stays
    pinned by tests/test_analytics_plan.py."""
    from .plans.analytics import run_analytics

    docs = load(spark, sf_dir, "documents")
    posts = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").cast("string").alias("id"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("created_utc"),
        F.col("lang").alias("subreddit"),
        (F.length("text") % 100).cast("int").alias("score"),
        F.substring("text", 1, 40).alias("title"),
        F.col("text").alias("selftext"),
    )
    comments = docs.filter(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") - 1).cast("string").alias("p_id"),
        F.concat(F.lit("c"), F.col("doc_id").cast("string")).alias("c_id"),
        F.to_timestamp(F.lit("2024-01-01 01:00:00")).alias("created_utc"),
        F.col("lang").alias("subreddit"),
        (F.length("text") % 50).cast("int").alias("score"),
        F.substring("text", 1, 40).alias("title"),
        F.col("text").alias("body"),
    )
    analysis, _names = run_analytics(posts, comments, keyword="the", k=5)
    tcols = [F.col(f"topic_{i}") for i in range(1, 6)]
    total = tcols[0] + tcols[1] + tcols[2] + tcols[3] + tcols[4]
    return analysis.select(
        "id",
        "subreddit",
        "sentiment",
        F.round("sentiment_score", 4).alias("sentiment_score"),
        "batch_id",
        (F.least(*tcols) >= F.lit(0.0)).alias("topics_nonneg_ok"),
        (F.abs(total - F.lit(1.0)) <= F.lit(1e-9)).alias("topics_simplex_ok"),
    )


@register(
    "streaming_cdc_upsert",
    """
    SELECT CAST(i AS BIGINT) AS k,
           CAST(CASE WHEN i < 10 THEN 3000 + i
                     WHEN i BETWEEN 30 AND 49 THEN 1000 + i
                     ELSE i END AS BIGINT) AS seq,
           'v' || CAST(i AS VARCHAR) ||
             (CASE WHEN i < 10 THEN 'c'
                   WHEN i BETWEEN 30 AND 49 THEN 'b'
                   ELSE '' END) AS v
    FROM range(150) t(i)
    WHERE i < 10 OR i >= 30
    """,
)
def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply end-to-end: a changelog stream of upserts and
    delete tombstones through the checkpointed bucketed sink with
    SEQ-AUTHORITATIVE merge (max-seq row wins, tombstones persisted) —
    correct under micro-batch reordering and redelivery, unlike
    arrival-order CDC.  Returns the live view.  HARD-gated (round 7):
    the changelog is formula-generated (150 creates, 50 updates, 30
    deletes, 10 re-creates), so the final live view is the closed-form
    max-seq merge the oracle regenerates with range() — value-hashed,
    including tombstone exclusion and re-creation-after-delete.
    Batch-equivalence vs relational.cdc_apply stays pinned in
    tests/test_streaming_cdc.py."""
    import json as _json
    import tempfile

    from pyspark.sql import types as T

    from .streaming.ingest import (
        read_cdc_table,
        start_cdc_upsert_stream,
        write_queue_batch,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    with tempfile.TemporaryDirectory() as tmp:
        queue, target, ckpt = f"{tmp}/q", f"{tmp}/t", f"{tmp}/c"
        # 150 creates, 50 updates, 30 deletes (some re-created after)
        b1 = [dict(k=k, op="U", seq=k, v=f"v{k}") for k in range(150)]
        b2 = [dict(k=k, op="U", seq=1000 + k, v=f"v{k}b") for k in range(50)]
        b3 = [dict(k=k, op="D", seq=2000 + k, v=None) for k in range(30)]
        b4 = [dict(k=k, op="U", seq=3000 + k, v=f"v{k}c") for k in range(10)]
        for b in (b1, b2, b3, b4):
            write_queue_batch(queue, "cdc", [_json.dumps(b)])
        raw = (
            spark.readStream.schema(
                T.StructType([T.StructField("value", T.StringType(), True)])
            )
            .option("maxFilesPerTrigger", 1)
            .text(f"{queue}/topic=cdc")
        )
        stream = raw.select(
            F.explode(F.from_json("value", T.ArrayType(schema))).alias("r")
        ).select("r.*")
        q = start_cdc_upsert_stream(
            stream, target, ckpt, key="k", op_col="op", seq_cols=["seq"],
            available_now=True, n_buckets=16,
        )
        q.awaitTermination(120)
        out = read_cdc_table(spark, target)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


@register(
    "streaming_upsert",
    """
    SELECT printf('p%04d', i) AS id,
           'u' || CAST(i % 7 AS VARCHAR) AS author,
           (CASE i % 3 WHEN 0 THEN 'sydney' WHEN 1 THEN 'melbourne'
                 ELSE 'brisbane' END) AS subreddit,
           CAST(i % 100 - 10 AS INT) AS score,
           CAST(i % 5 AS INT) AS num_comments
    FROM range(200) t(i)
    """,
)
def streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5/O7/O8/O16/O22/O35-O38 end-to-end: produce JSON batch messages
    onto a file queue (with duplicates + one corrupt message), run the
    Structured Streaming ingest with availableNow, and return the upserted
    table.  HARD-gated (round 7): the queue payload is formula-generated,
    so the post-upsert table is exactly the 200 unique docs — the oracle
    regenerates them with range(); the duplicate batch and the corrupt
    message MUST leave no trace for the hash to match (exactly-once
    upsert + quarantine, value-checked, not just rows-only)."""
    import json
    import tempfile

    from .streaming.ingest import (
        ingest_posts_stream,
        read_bucketed_table,
        start_upsert_stream,
        write_queue_batch,
    )

    docs = [
        {
            "author": f"u{i % 7}",
            "created_utc": f"2024-01-{1 + i % 28:02d}T00:00:00Z",
            "id": f"p{i:04d}",
            "num_comments": i % 5,
            "score": i % 100 - 10,
            "selftext": f"body text {i}",
            "subreddit": ["sydney", "melbourne", "brisbane"][i % 3],
            "title": f"title {i}",
            "url": f"https://example.com/{i}",
        }
        for i in range(200)
    ]
    with tempfile.TemporaryDirectory() as tmp:
        queue = f"{tmp}/queue"
        target = f"{tmp}/posts"
        ckpt = f"{tmp}/ckpt"
        for start in range(0, 200, 50):
            write_queue_batch(queue, "rharvest", [json.dumps(docs[start : start + 50])])
        # redelivery: first batch enqueued twice (O37 dup-risk path)
        write_queue_batch(queue, "rharvest", [json.dumps(docs[0:50])])
        write_queue_batch(queue, "rharvest", ["{not json"])  # quarantine path
        stream = ingest_posts_stream(spark, queue)
        q = start_upsert_stream(stream, target, ckpt, key="id", available_now=True)
        q.awaitTermination(120)
        out = read_bucketed_table(spark, target)
        return spark.createDataFrame(
            out.select(
                "id", "author", "subreddit", "score", "num_comments"
            ).collect(),
            out.select("id", "author", "subreddit", "score", "num_comments").schema,
        )


@register(
    "stateful_user_totals",
    """
    WITH ev AS (
      SELECT user_id, value FROM (
        SELECT * FROM events ORDER BY event_id LIMIT 300)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,6))), 0) AS DOUBLE)
             AS total_value
    FROM ev GROUP BY user_id
    """,
)
def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals accumulated across TWO micro-batches of the
    events table.  HARD-gated (round 7): the state accumulates exact
    integer micro-units (order-free; see _running_totals_fn), so the
    final per-user snapshot value-hashes against the oracle's decimal
    batch aggregate — stream state == batch SUM, by hash."""
    import tempfile
    import uuid

    from .streaming.stateful import running_user_totals

    ev = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(300)
        .select("event_id", "ts", "user_id", "value")
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/events_src"
        # two files -> two micro-batches (maxFilesPerTrigger=1)
        ev.filter(F.col("event_id") < 150).coalesce(1).write.parquet(f"{src}/b0")
        ev.filter(F.col("event_id") >= 150).coalesce(1).write.parquet(f"{src}/b1")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b*")
        )
        totals = running_user_totals(stream)
        qname = f"stateful_totals_{uuid.uuid4().hex[:8]}"
        q = (
            totals.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        updates = spark.table(qname)
        # final snapshot per user = the row with the highest n_events
        final = updates.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.expr("max_by(total_value, n_events)").alias("total_value"),
        )
        return final.localCheckpoint(eager=True)


# Stateful streaming event-type profiles — the applyInPandasWithState
# twin of the protobuf-gated transformWithStateInPandas processor
# (streaming/stateful.py; twin-equivalence pinned in tests).  The final
# per-user state after both micro-batches equals the batch aggregate,
# so this stateful operator gets a FULL value-hash oracle.
@register(
    "stateful_user_profiles",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    ranked AS (
      SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type ASC) AS rk
      FROM c
    ),
    tot AS (
      SELECT user_id, CAST(SUM(n) AS BIGINT) AS total_events,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM c GROUP BY user_id
    )
    SELECT t.user_id, t.total_events, t.n_types,
           r.event_type AS top_type, CAST(r.n AS BIGINT) AS top_type_n
    FROM tot t JOIN ranked r ON t.user_id = r.user_id AND r.rk = 1
    """,
)
def stateful_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from pyspark.sql import Window

    from .streaming.stateful import user_event_profiles_compat

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/events_src"
        ev.filter(F.pmod("event_id", F.lit(2)) == 0).coalesce(1).write.parquet(
            f"{src}/b0"
        )
        ev.filter(F.pmod("event_id", F.lit(2)) == 1).coalesce(1).write.parquet(
            f"{src}/b1"
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b*")
        )
        profiles = user_event_profiles_compat(stream.drop("event_id"))
        qname = f"stateful_profiles_{uuid.uuid4().hex[:8]}"
        q = (
            profiles.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        updates = spark.table(qname)
        # final snapshot = the emission with the highest total_events
        # (each emission for a user strictly grows total_events)
        w = Window.partitionBy("user_id").orderBy(F.desc("total_events"))
        final = (
            updates.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )
        return final.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Correlated-subquery family (TPC-H Q4/Q13/Q17/Q18/Q22/Q15 shapes): the
# decorrelation patterns a warehouse engine must get right — EXISTS ->
# semi join, NOT EXISTS -> anti join, correlated scalar aggregate ->
# broadcast of a pre-aggregated side, HAVING-IN -> join on the filtered
# aggregate, scalar MAX -> single-row broadcast.  At 100 TB every one of
# these keeps the big fact table un-duplicated and ships only keys or
# one-row aggregates.
# ---------------------------------------------------------------------------
@register(
    "order_priority_exists",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate <  TIMESTAMP '1997-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a correlated non-equi residual
    (l_shipdate > o_orderdate) decorrelates to a left-semi join — the
    semi join ships only (orderkey, shipdate) from lineitem and never
    duplicates an order however many lines match.  Date filter is
    pushed into the orders scan."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "customer_order_distribution",
    """
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) per_cust
    GROUP BY n_orders
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join with a predicate INSIDE the join
    condition (not a post-filter — unmatched customers must survive with
    count 0), then a second aggregation over the first's output.  The
    second groupBy is nearly free: it runs on one row per customer."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "small_qty_revenue",
    f"""
    WITH brand_parts AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#12'),
    li AS (SELECT l_partkey, l_quantity, l_extendedprice
           FROM lineitem JOIN brand_parts ON l_partkey = p_partkey),
    part_avg AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) / COUNT(*) AS DOUBLE) AS avg_qty
      FROM li GROUP BY l_partkey
    )
    SELECT ROUND({_dec_sum_sql('l_extendedprice')} / 7.0, 4) AS avg_yearly,
           COUNT(*) AS n_lines
    FROM li JOIN part_avg USING (l_partkey)
    WHERE l_quantity < 0.5 * avg_qty
    """,
)
def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar aggregate (per-part average
    quantity) decorrelated into a groupBy + equi-join back onto the same
    filtered fact.  The per-part average table is tiny (one row per
    brand part) and broadcasts.  The brand-filtered fact is scanned
    twice (once per side) — deliberate: with the brand predicate pushed
    into both scans, re-reading pruned parquet is cheaper at scale than
    shuffling the full fact through a window average.  The average is an
    exact decimal-sum / count so the 0.5*avg boundary compares
    identically in both engines."""
    parts = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .drop("p_partkey")
    )
    part_avg = li.groupBy("l_partkey").agg(
        (dec_sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part_avg), "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.round(dec_sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "large_volume_orders",
    f"""
    WITH big AS (
      SELECT l_orderkey, {_dec_sum_sql('l_quantity')} AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    SELECT c_custkey, o_orderkey, o_totalprice, sum_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on an aggregate, then the qualifying keys
    join back to orders and customer.  The aggregate runs FIRST so the
    join input is already reduced to qualifying orders (a fraction of a
    percent at scale) — never join-then-aggregate here."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(dec_sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
    )


@register(
    "rich_idle_customers",
    f"""
    SELECT c_nationkey, COUNT(*) AS n_cust,
           {_dec_sum_sql('c_acctbal')} AS total_bal
    FROM customer c
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) / COUNT(*) AS DOUBLE)
        FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000.0
      )
    GROUP BY c_nationkey
    """,
)
def rich_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar subquery (global average
    balance — one row, cross-broadcast into the filter) plus NOT EXISTS
    with a pushed filter on the inner side (-> left-anti join on a
    pre-filtered orders projection).  The average is an exact
    decimal-sum / count so the boundary compares identically in both
    engines."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg((dec_sum("c_acctbal") / F.count(F.lit(1))).alias("avg_bal"))
    )
    big_orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000.0)
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(big_orders, c.c_custkey == big_orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dec_sum("c_acctbal").alias("total_bal"),
        )
    )


@register(
    "top_supplier_revenue",
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             {_dec_sum_sql('l_extendedprice * (1 - l_discount)', 6)} AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate once, reuse it twice (revenue table +
    its scalar MAX) — the MAX is a one-row broadcast, not a re-scan, and
    equality on the exact decimal-derived revenue is deterministic.  The
    supplier dimension broadcasts onto the one-row-per-supplier result."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
            "total_rev"
        )
    )
    max_rev = rev.agg(F.max("total_rev").alias("max_rev"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(max_rev))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "streaming_session_windows",
    """
    WITH ev AS (
      SELECT event_id, ts, user_id FROM events ORDER BY event_id LIMIT 3000
    ), lagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN datediff('microsecond',
                               lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id),
                               ts) >= 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS _new
      FROM ev
    ), numbered AS (
      SELECT user_id, ts,
             SUM(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS seq
      FROM lagged
    ), sess AS (
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, seq
    )
    SELECT user_id, session_start, session_end, n_events
    FROM sess WHERE session_end < (SELECT max(ts) FROM ev)
    """,
)
def streaming_session_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization running AS A STREAM (the
    batch gaps-and-islands twin is the oracle-checked `session_windows`):
    two file micro-batches so the second batch's watermark closes and
    emits the first batch's sessions — exercising session-state merge,
    watermark advance, and append-mode finalization.

    HARD-gated (round 7): with a 0-second delay the final watermark is
    exactly max(ts), and append mode emits precisely the sessions whose
    end (last event + gap, gap-exclusive merge: a new event at exactly
    +gap starts a NEW session, hence `>=` in the oracle's island break)
    passed it — a closed form the oracle replays with gaps-and-islands
    plus the watermark filter.  The streamed rows value-hash against
    that replay; the in-flight tail (sessions ending at/after the
    watermark) must NOT be emitted for the hash to match."""
    import tempfile
    import uuid

    from .streaming.ingest import streaming_session_counts

    ev = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(3000)
        .select("event_id", "ts", "user_id")
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/events_src"
        # time-ordered split: batch 1 = older half, batch 2 = newer half,
        # so batch 2's watermark closes every batch-1 session
        med = ev.agg(
            F.expr("percentile_approx(cast(ts AS double), 0.5)").alias("m")
        ).collect()[0]["m"]
        ev.filter(F.col("ts").cast("double") <= med).coalesce(1).write.parquet(
            f"{src}/b0"
        )
        ev.filter(F.col("ts").cast("double") > med).coalesce(1).write.parquet(
            f"{src}/b1"
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b*")
        )
        sess = streaming_session_counts(stream, gap="30 minutes", watermark="0 seconds")
        qname = f"sesswin_{uuid.uuid4().hex[:8]}"
        q = (
            sess.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.table(qname)
        return out.localCheckpoint(eager=True)


def _streaming_neardup_oracle() -> str:
    """DuckDB replay of the TWO-micro-batch store protocol: batch 1
    keep-first-by-id within batch, survivors' band keys become the
    store; batch 2 drops on any store collision or smaller-id
    batch-mate collision.  Shingle/minhash/band SQL is the exact
    _MINHASH machinery re-rooted on the derived two-batch corpus."""
    return f"""
    WITH d200 AS (
      SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 200
    ), b1 AS (
      SELECT doc_id, text FROM d200 ORDER BY doc_id LIMIT 150
    ), b2 AS (
      SELECT doc_id + 1000000 AS doc_id, text || ' near copy suffix' AS text
      FROM (SELECT doc_id, text FROM d200 ORDER BY doc_id LIMIT 50)
      UNION ALL
      SELECT doc_id, text
      FROM (SELECT doc_id, text FROM d200 ORDER BY doc_id DESC LIMIT 50)
    ), corpus AS (
      SELECT 1 AS batch, doc_id, text FROM b1
      UNION ALL SELECT 2, doc_id, text FROM b2
    ), tok AS (
      SELECT batch, doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS w,
             generate_subscripts(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''), 1) AS pos
      FROM corpus
    ), led AS (
      SELECT batch, doc_id, w,
             lead(w, 1) OVER (PARTITION BY batch, doc_id ORDER BY pos) AS w1,
             lead(w, 2) OVER (PARTITION BY batch, doc_id ORDER BY pos) AS w2
      FROM tok
    ), sh AS (
      SELECT DISTINCT batch, doc_id, concat_ws(' ', w, w1, w2) AS shingle
      FROM led WHERE w2 IS NOT NULL
    ), sig AS (
      SELECT batch, doc_id, {_MINHASH_AGGS_SQL}
      FROM sh GROUP BY batch, doc_id
    ), banded AS (
      SELECT batch, doc_id, band, key FROM (
        SELECT batch, doc_id, 0 AS band, md5(concat(h0, '|', h1)) AS key FROM sig
        UNION ALL SELECT batch, doc_id, 1, md5(concat(h2, '|', h3)) FROM sig
        UNION ALL SELECT batch, doc_id, 2, md5(concat(h4, '|', h5)) FROM sig
        UNION ALL SELECT batch, doc_id, 3, md5(concat(h6, '|', h7)) FROM sig
      )
    ), b1_drop AS (
      SELECT DISTINCT a.doc_id
      FROM banded a JOIN banded b
        ON b.band = a.band AND b.key = a.key AND b.doc_id < a.doc_id
      WHERE a.batch = 1 AND b.batch = 1
    ), store AS (
      SELECT DISTINCT band, key FROM banded
      WHERE batch = 1 AND doc_id NOT IN (SELECT doc_id FROM b1_drop)
    ), b2_drop AS (
      SELECT DISTINCT a.doc_id FROM banded a
      WHERE a.batch = 2 AND (
        EXISTS (SELECT 1 FROM store s
                WHERE s.band = a.band AND s.key = a.key)
        OR EXISTS (SELECT 1 FROM banded b
                   WHERE b.batch = 2 AND b.band = a.band
                     AND b.key = a.key AND b.doc_id < a.doc_id))
    )
    SELECT doc_id FROM b1 WHERE doc_id NOT IN (SELECT doc_id FROM b1_drop)
    UNION ALL
    SELECT doc_id FROM b2 WHERE doc_id NOT IN (SELECT doc_id FROM b2_drop)
    """


@register("streaming_neardup_dedup", _streaming_neardup_oracle())
def streaming_neardup_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup AS A STREAM (streaming/neardup.py):
    batch 1 seeds the corpus + band-key store; batch 2 carries 50
    near-copies of batch-1 texts under new ids (must drop) and 50 fresh
    docs (must survive).  Returns the accepted corpus ids.

    HARD-gated (round 7): the store protocol is deterministic given
    the batch split, so the oracle replays BOTH micro-batches in SQL —
    same salted-md5 minhash, same 4x2 banding, same keep-first-by-id
    and store-collision drops — and the accepted id set value-hashes
    against it.  The pytest twin (tests/test_streaming_neardup.py)
    still pins crash-replay idempotency, which SQL cannot express."""
    import os
    import tempfile

    from .streaming.neardup import start_neardup_dedup_stream

    docs = (
        load(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(200)
        .select("doc_id", "text")
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        os.makedirs(src)
        b1 = docs.limit(150)
        seen = docs.limit(50).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" near copy suffix")).alias("text"),
        )
        fresh = docs.orderBy(F.desc("doc_id")).limit(50)
        b1.coalesce(1).write.json(f"{src}/b0")
        seen.unionByName(fresh).coalesce(1).write.json(f"{src}/b1")
        now = 1_700_000_000
        for i, sub in enumerate(["b0", "b1"]):
            for fn in os.listdir(f"{src}/{sub}"):
                os.utime(f"{src}/{sub}/{fn}", (now + i, now + i))
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .json(f"{src}/b*")
        )
        q = start_neardup_dedup_stream(
            stream, f"{tmp}/corpus", f"{tmp}/store", f"{tmp}/ckpt"
        )
        q.awaitTermination(180)
        out = spark.read.parquet(f"{tmp}/corpus").select("doc_id").orderBy("doc_id")
        return out.localCheckpoint(eager=True)


def _streaming_span_cut_oracle() -> str:
    """DuckDB replay of the TWO-micro-batch gram-store protocol:
    batch 1 cuts in-batch duplicated 5-gram spans and its ORIGINAL
    grams seed the store; batch 2 cuts spans duplicated in-batch OR
    present in the store.  Gram hashing / gap merge SQL is the exact
    duplicate_spans oracle machinery re-rooted on the derived
    two-batch corpus; kept tokens = n_tokens minus the disjoint
    span lengths."""
    return f"""
    WITH d200 AS (
      SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 200
    ), b1 AS (
      SELECT doc_id, text FROM d200 ORDER BY doc_id LIMIT 150
    ), b2 AS (
      SELECT doc_id + 1000000 AS doc_id, text
      FROM (SELECT doc_id, text FROM d200 ORDER BY doc_id LIMIT 50)
      UNION ALL
      SELECT doc_id, text
      FROM (SELECT doc_id, text FROM d200 ORDER BY doc_id DESC LIMIT 50)
    ), corpus AS (
      SELECT 1 AS batch, doc_id, text FROM b1
      UNION ALL SELECT 2, doc_id, text FROM b2
    ), tokd AS (
      SELECT batch, doc_id, {_TOKS_SQL} AS t FROM corpus
    ), g AS (
      SELECT batch, doc_id, u.pos,
             ('0x' || substring(md5(u.gram), 1, 15))::BIGINT AS h
      FROM tokd d,
      LATERAL (
        SELECT unnest(generate_series(1, len(t) - 4)) AS pos,
               unnest(list_transform(generate_series(1, len(t) - 4),
                      i -> array_to_string(list_slice(t, i, i + 4), ' '))) AS gram
      ) u
      WHERE len(t) >= 5
    ), dup1 AS (
      SELECT h FROM g WHERE batch = 1 GROUP BY h HAVING COUNT(*) >= 2
    ), store AS (
      SELECT DISTINCT h FROM g WHERE batch = 1
    ), dup2 AS (
      SELECT h FROM g WHERE batch = 2 GROUP BY h HAVING COUNT(*) >= 2
      UNION SELECT h FROM store
    ), hit AS (
      SELECT batch, doc_id, pos FROM g
      WHERE (batch = 1 AND h IN (SELECT h FROM dup1))
         OR (batch = 2 AND h IN (SELECT h FROM dup2))
    ), flagged AS (
      SELECT batch, doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                       OR pos - lag(pos) OVER w > 5 THEN 1 ELSE 0 END AS new_span
      FROM hit WINDOW w AS (PARTITION BY batch, doc_id ORDER BY pos)
    ), grps AS (
      SELECT batch, doc_id, pos,
             SUM(new_span) OVER (PARTITION BY batch, doc_id
                                 ORDER BY pos) AS grp
      FROM flagged
    ), spans AS (
      SELECT batch, doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
      FROM grps GROUP BY batch, doc_id, grp
    ), cutcnt AS (
      SELECT batch, doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS cut_tokens
      FROM spans GROUP BY batch, doc_id
    )
    SELECT t.doc_id, len(t.t) AS n_tokens,
           len(t.t) - COALESCE(c.cut_tokens, 0) AS n_kept_tokens
    FROM tokd t
    LEFT JOIN cutcnt c ON c.batch = t.batch AND c.doc_id = t.doc_id
    """


@register("streaming_span_cut", _streaming_span_cut_oracle())
def streaming_span_cut_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ExactSubstr cut AS A STREAM (streaming/spans.py):
    batch 1 seeds the corpus + gram store; batch 2 re-sends 50 batch-1
    texts under new ids (their full text is a known passage — arrives
    cut to empty) and 50 fresh docs (arrive whole).  Returns per-doc
    kept-token accounting.

    HARD-gated (round 7): the gram-store protocol is deterministic
    given the batch split, so the oracle replays BOTH micro-batches in
    SQL — same 60-bit gram hashes, same in-batch >= 2 rule, same
    store-hit rule, same gap merge — and every doc's
    (n_tokens, n_kept_tokens) value-hashes against it.  Crash-replay
    idempotency stays pytest-pinned (tests/test_streaming_spans.py)."""
    import os
    import tempfile

    from .streaming.spans import start_span_cut_stream

    docs = (
        load(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(200)
        .select("doc_id", "text")
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        os.makedirs(src)
        b1 = docs.limit(150)
        repeats = docs.limit(50).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        fresh = docs.orderBy(F.desc("doc_id")).limit(50)
        b1.coalesce(1).write.json(f"{src}/b0")
        repeats.unionByName(fresh).coalesce(1).write.json(f"{src}/b1")
        now = 1_700_000_000
        for i, sub in enumerate(["b0", "b1"]):
            for fn in os.listdir(f"{src}/{sub}"):
                os.utime(f"{src}/{sub}/{fn}", (now + i, now + i))
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .json(f"{src}/b*")
        )
        q = start_span_cut_stream(
            stream, f"{tmp}/corpus", f"{tmp}/store", f"{tmp}/ckpt"
        )
        q.awaitTermination(180)
        out = (
            spark.read.parquet(f"{tmp}/corpus")
            .select("doc_id", "n_tokens", "n_kept_tokens")
            .orderBy("doc_id")
        )
        return out.localCheckpoint(eager=True)


def _streaming_line_dedup_oracle() -> str:
    """Two-micro-batch replay of the streaming line-dedup protocol
    (streaming/lines.py): batch 1 = first 150 docs, batch 2 = 50
    batch-1 texts re-sent under +1M ids plus the last 50 docs.  The
    store after batch 1 is the distinct line-hash set; batch-2 lines
    hitting it drop, the rest follow the within-batch keeper rule."""
    return f"""
    WITH base AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 200),
    b1 AS (SELECT doc_id, text FROM base ORDER BY doc_id LIMIT 150),
    rep AS (SELECT doc_id + 1000000 AS doc_id, text FROM
            (SELECT doc_id, text FROM base ORDER BY doc_id LIMIT 50)),
    fresh AS (SELECT doc_id, text FROM base ORDER BY doc_id DESC LIMIT 50),
    allb AS (
      SELECT 1 AS batch, doc_id, text FROM b1
      UNION ALL SELECT 2, doc_id, text FROM rep
      UNION ALL SELECT 2, doc_id, text FROM fresh
    ), d AS (SELECT batch, doc_id, {_TOKS_SQL} AS t FROM allb),
    lns AS (
      SELECT batch, doc_id, u.line_no, u.line,
             ('0x' || substring(md5(u.line), 1, 15))::BIGINT AS h
      FROM d, LATERAL (
        SELECT unnest(generate_series(1, CAST(ceil(len(t) / 10.0) AS BIGINT))) AS line_no,
               unnest(list_transform(
                 generate_series(1, CAST(ceil(len(t) / 10.0) AS BIGINT)),
                 i -> array_to_string(list_slice(t, (i - 1) * 10 + 1, i * 10), ' '))) AS line
      ) u
      WHERE len(t) > 0
    ), store AS (SELECT DISTINCT h FROM lns WHERE batch = 1),
    stats AS (
      SELECT batch, h, COUNT(*) AS cnt,
             MIN({{'kid': doc_id, 'kline': line_no}}) AS keeper
      FROM lns GROUP BY batch, h
    ), kept AS (
      SELECT l.batch, l.doc_id, l.line_no, l.line,
             (NOT (l.batch = 2 AND l.h IN (SELECT h FROM store)))
             AND (s.cnt < 2 OR (l.doc_id = (s.keeper).kid
                                AND l.line_no = (s.keeper).kline)) AS keep
      FROM lns l JOIN stats s ON s.batch = l.batch AND s.h = l.h
    ), agg AS (
      SELECT batch, doc_id, COUNT(*) AS n_lines,
             COUNT(*) FILTER (WHERE keep) AS n_kept_lines,
             COALESCE(array_to_string(
               list(line ORDER BY line_no) FILTER (WHERE keep), ' '), '') AS ct
      FROM kept GROUP BY batch, doc_id
    )
    SELECT a0.doc_id,
           CAST(COALESCE(g.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(COALESCE(g.n_kept_lines, 0) AS BIGINT) AS n_kept_lines,
           COALESCE(g.ct, '') AS cleaned_text
    FROM allb a0 LEFT JOIN agg g ON g.batch = a0.batch AND g.doc_id = a0.doc_id
    """


@register("streaming_line_dedup", _streaming_line_dedup_oracle())
def streaming_line_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CCNet line dedup AS A STREAM (streaming/lines.py):
    batch 1 seeds the corpus + line-hash store; batch 2 re-sends 50
    batch-1 texts under new ids (every line already accepted — they
    arrive emptied) and 50 fresh docs (arrive whole, minus any
    boilerplate lines batch 1 already owns).  HARD-gated: the
    line-store protocol is deterministic given the batch split, so the
    oracle replays BOTH micro-batches in SQL — same 60-bit line
    hashes, same store-hit drop, same within-batch keeper rule — and
    every doc's (n_lines, n_kept_lines, cleaned_text) value-hashes
    against it.  Crash-replay idempotency is pytest-pinned
    (tests/test_streaming_lines.py)."""
    import os
    import tempfile

    from .streaming.lines import start_line_dedup_stream

    docs = (
        load(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(200)
        .select("doc_id", "text")
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        os.makedirs(src)
        b1 = docs.limit(150)
        repeats = docs.limit(50).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        fresh = docs.orderBy(F.desc("doc_id")).limit(50)
        b1.coalesce(1).write.json(f"{src}/b0")
        repeats.unionByName(fresh).coalesce(1).write.json(f"{src}/b1")
        now = 1_700_000_000
        for i, sub in enumerate(["b0", "b1"]):
            for fn in os.listdir(f"{src}/{sub}"):
                os.utime(f"{src}/{sub}/{fn}", (now + i, now + i))
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .json(f"{src}/b*")
        )
        q = start_line_dedup_stream(
            stream, f"{tmp}/corpus", f"{tmp}/store", f"{tmp}/ckpt"
        )
        q.awaitTermination(180)
        out = (
            spark.read.parquet(f"{tmp}/corpus")
            .select("doc_id", "n_lines", "n_kept_lines", "cleaned_text")
            .orderBy("doc_id")
        )
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Corpus-frequency operators: global n-gram mining and Zipf diagnostics
# (tokenizer-vocabulary / boilerplate-detection building blocks).
# ---------------------------------------------------------------------------
@register(
    "top_ngrams",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS w,
             generate_subscripts(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''), 1) AS pos
      FROM documents
    ), led AS (
      SELECT doc_id, w,
             lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
             lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM tok
    )
    SELECT concat_ws(' ', w, w1, w2) AS ngram, COUNT(*) AS n_occurrences
    FROM led WHERE w2 IS NOT NULL
    GROUP BY ngram
    ORDER BY n_occurrences DESC, ngram
    LIMIT 100
    """,
)
def top_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.top_ngrams(load(spark, sf_dir, "documents"), "text", n=3, k=100)


@register(
    "zipf_token_stats",
    """
    WITH tf AS (
      SELECT w AS token, COUNT(*) AS n_occurrences
      FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS w
            FROM documents)
      GROUP BY w
      ORDER BY n_occurrences DESC, token
      LIMIT 50
    )
    SELECT token, n_occurrences,
           row_number() OVER (ORDER BY n_occurrences DESC, token) AS rank,
           ROUND(CAST(n_occurrences AS DOUBLE) / MAX(n_occurrences) OVER (), 4) AS rel_freq,
           ROUND(row_number() OVER (ORDER BY n_occurrences DESC, token)
                 * CAST(n_occurrences AS DOUBLE) / MAX(n_occurrences) OVER (), 4) AS zipf_product
    FROM tf
    """,
)
def zipf_token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.zipf_token_stats(load(spark, sf_dir, "documents"), "text", k=50)


# ---------------------------------------------------------------------------
# Round-5 additions: deterministic sketches, weighted shortest paths,
# skyline, differential snapshots, label-leakage detection, inverted
# index — each an oracle-backed classic the surface did not yet cover.

from .operators import sketches  # noqa: E402


# KMV (k-minimum-values) distinct estimator per order priority — the
# mergeable cardinality sketch, built from md5-slice hashes so the
# estimate itself (not just its shape) is exactly oracle-checked,
# unlike the opaque HLL buffer behind approx_distinct.
@register(
    "kmv_distinct_custkeys",
    sketches.kmv_oracle_sql("orders", "o_orderpriority", "o_custkey", k=64),
)
def kmv_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.kmv_distinct(
        load(spark, sf_dir, "orders"), "o_orderpriority", "o_custkey", k=64
    )


# Bloom-filtered semi-join (runtime-filter pattern) with exact
# false-positive accounting: build over BUILDING-segment customers,
# probe the orders fact.
@register(
    "bloom_semi_join_orders",
    sketches.bloom_oracle_sql(
        "orders",
        "o_custkey",
        "SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'",
        m_bits=8192,
        j_hashes=3,
    ),
)
def bloom_semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    return sketches.bloom_semi_join(
        load(spark, sf_dir, "orders"), dim, "o_custkey", "c_custkey",
        m_bits=8192, j_hashes=3,
    )


# Bounded single-source shortest paths (Bellman-Ford, 4 relaxation
# rounds) over the weighted supplier co-supply graph — the weighted
# companion of khop_reachability, exact-integer vs an unrolled oracle.
@register(
    "sssp_cosupply",
    graph.sssp_oracle_sql(source=1, rounds=4, min_orders=2),
)
def sssp_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph.sssp_bellman_ford(
        graph.cosupply_weighted_edges(load(spark, sf_dir, "lineitem"), min_orders=2),
        source=1,
        rounds=4,
    )


# Two-dimensional Pareto skyline over the part catalog: cheapest-for-
# their-size parts (minimize retail price, maximize size), via the
# partition-local-then-global sweep.
@register(
    "pareto_skyline_parts",
    """
    SELECT p_partkey, p_retailprice, p_size
    FROM part b
    WHERE NOT EXISTS (
      SELECT 1 FROM part a
      WHERE a.p_retailprice <= b.p_retailprice AND a.p_size >= b.p_size
        AND (a.p_retailprice < b.p_retailprice OR a.p_size > b.p_size)
    )
    """,
)
def pareto_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.pareto_skyline_2d(
        load(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size"),
        "p_retailprice",
        "p_size",
    )


# Differential snapshot diff: each user's latest event_type as of
# Jan 15 vs Jan 25, with added/changed/unchanged status — the
# warehouse table-diff operator.
@register(
    "snapshot_diff_users",
    """
    WITH a AS (
      SELECT user_id AS key, event_type AS val_t1 FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
      ) WHERE rn = 1
    ),
    b AS (
      SELECT user_id AS key, event_type AS val_t2 FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '2024-01-25 00:00:00'
      ) WHERE rn = 1
    )
    SELECT COALESCE(a.key, b.key) AS key, val_t1, val_t2,
           CASE WHEN val_t1 IS NULL THEN 'added'
                WHEN val_t2 IS NULL THEN 'removed'
                WHEN val_t1 = val_t2 THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM a FULL OUTER JOIN b ON a.key = b.key
    """,
)
def snapshot_diff_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return relational.snapshot_diff(
        load(spark, sf_dir, "events"),
        key_col="user_id",
        attr_col="event_type",
        ts_col="ts",
        order_cols=["ts", "event_id"],
        t1="2024-01-15 00:00:00",
        t2="2024-01-25 00:00:00",
    )


# Token-label chi-square: which tokens most strongly predict a
# document's source — the label-leakage / boilerplate-shortcut
# detector for training corpora.
@register(
    "token_label_leakage",
    f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, source AS s,
             unnest(list_transform({_TOKS_SQL}, x -> lower(x))) AS t
      FROM documents
    ),
    nd AS (SELECT COUNT(*) AS n FROM documents),
    tok AS (SELECT t, COUNT(*) AS nt FROM dt GROUP BY t),
    lab AS (SELECT source AS s, COUNT(*) AS ns FROM documents GROUP BY source),
    pres AS (SELECT t, s, COUNT(*) AS o FROM dt GROUP BY t, s),
    grid AS (
      SELECT tok.t, tok.nt, lab.s, lab.ns, COALESCE(pres.o, 0) AS o, nd.n
      FROM tok CROSS JOIN lab
      LEFT JOIN pres ON pres.t = tok.t AND pres.s = lab.s
      CROSS JOIN nd
      WHERE tok.nt >= 5 AND tok.nt < nd.n
    ),
    cells AS (
      SELECT t, nt,
             (o - nt * ns * 1.0 / n) * (o - nt * ns * 1.0 / n)
             * (1.0 / (nt * ns * 1.0 / n) + 1.0 / (ns - nt * ns * 1.0 / n)) AS c
      FROM grid
    )
    SELECT t AS token, CAST(MIN(nt) AS BIGINT) AS doc_freq,
           ROUND(SUM(CAST(ROUND(c * 1000000) AS BIGINT)) / 1000000.0
                 + 1e-9, 6) AS chi2
    FROM cells GROUP BY t
    ORDER BY chi2 DESC, token LIMIT 40
    """,
)
def token_label_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_label_chi2(
        load(spark, sf_dir, "documents"), "source", "text", min_df=5, top_n=40
    )


# Materialized inverted index: sorted postings + df/cf for the most
# frequent terms — the build step behind the ranked-search queries.
@register(
    "inverted_index_terms",
    f"""
    WITH td AS (
      SELECT t, doc_id, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest(list_transform({_TOKS_SQL}, x -> lower(x))) AS t
        FROM documents
      ) GROUP BY t, doc_id
    )
    SELECT t AS term,
           CAST(COUNT(*) AS BIGINT) AS doc_freq,
           CAST(SUM(tf) AS BIGINT) AS coll_freq,
           list_sort(list(doc_id)) AS postings
    FROM td GROUP BY t
    HAVING COUNT(*) >= 5
    ORDER BY doc_freq DESC, term LIMIT 50
    """,
)
def inverted_index_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.inverted_index(
        load(spark, sf_dir, "documents"), "doc_id", "text", min_df=5, top_n=50
    )


# Positional phrase + proximity search (ES match_phrase / slop
# semantics over a token-position inverted index): exact consecutive
# "window join" occurrences plus slop-3 co-occurrence, top 20 docs.
# Deterministic total order (unique doc_id tiebreak) so the LIMIT set
# is stable on both engines.
_PHRASE_SLOP_ORACLE = f"""
    WITH p AS (
      SELECT doc_id, u.pos, u.t FROM (
        SELECT doc_id, list_transform({_TOKS_SQL}, x -> lower(x)) AS tk
        FROM documents) d,
      LATERAL (SELECT unnest(generate_series(1, len(tk))) AS pos,
                      unnest(tk) AS t) u
      WHERE len(tk) > 0
    ), q AS (SELECT * FROM p WHERE t IN ('window', 'join')),
    ph AS (
      SELECT a.doc_id, a.pos
      FROM q a JOIN q b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      WHERE a.t = 'window' AND b.t = 'join'
    ), phagg AS (
      SELECT doc_id, COUNT(*) AS phrase_hits, MIN(pos) AS first_pos
      FROM ph GROUP BY doc_id
    ), nr AS (
      SELECT a.doc_id, COUNT(*) AS near_hits
      FROM q a JOIN q b ON a.doc_id = b.doc_id
       AND abs(a.pos - b.pos) <= 3 AND a.pos <> b.pos
      WHERE a.t = 'window' AND b.t = 'join'
      GROUP BY a.doc_id
    )
    SELECT p0.doc_id, CAST(p0.phrase_hits AS BIGINT) AS phrase_hits,
           CAST(COALESCE(n.near_hits, 0) AS BIGINT) AS near_hits,
           CAST(p0.first_pos AS BIGINT) AS first_pos
    FROM phagg p0 LEFT JOIN nr n USING (doc_id)
    ORDER BY phrase_hits DESC, near_hits DESC, doc_id LIMIT 20
    """


@register("phrase_search_slop", _PHRASE_SLOP_ORACLE)
def phrase_search_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.phrase_search(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        ["window", "join"],
        prox_window=3,
        top_n=20,
    )


@register("search_index_phrase", _PHRASE_SLOP_ORACLE)
def search_index_phrase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase/proximity search served OFF THE STORE (ES match_phrase
    over a positional inverted index, vs `phrase_search_slop`'s
    corpus scan): the index is built once with positions=True, the
    phrase terms' buckets prune on disk, and the ranking body is the
    SHARED textstats.phrase_rank_from_postings — the store must answer
    byte-identically to the scan (same oracle, verbatim)."""
    import tempfile

    from .operators import search_index as si

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/searchidx"
        si.search_index_build(docs, idx, positions=True).collect()
        out = si.search_index_phrase_query(
            spark, idx, ["window", "join"], prox_window=3, k=20
        )
        return out.localCheckpoint(eager=True)


# Tokenizer FERTILITY by language (tokens-per-word, the multilingual
# tokenizer-equity metric XLM-R/mT5 report per language): learn 12 BPE
# merges on the corpus, encode, aggregate per lang.  The oracle reuses
# the unrolled BPE CTE chain with a per-language tail.
def _tokenizer_fertility_oracle() -> str:
    from .operators.bpe import _bpe_cte_prefix

    return (
        _bpe_cte_prefix(12)
        + """,
    doc_words AS MATERIALIZED (
      SELECT doc_id, w, COUNT(*) AS n FROM (
        SELECT doc_id,
               unnest(list_transform(
                 list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''),
                 x -> lower(x))) AS w
        FROM documents
      ) GROUP BY doc_id, w
    ),
    enc AS MATERIALIZED (
      SELECT w, len(syms) AS n_bpe FROM v12
    ),
    per_doc AS (
      SELECT doc_id, SUM(n) AS n_words, SUM(n * n_bpe) AS n_bpe
      FROM doc_words JOIN enc USING (w) GROUP BY doc_id
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_words) AS BIGINT) AS n_words,
           CAST(SUM(p.n_bpe) AS BIGINT) AS n_bpe_tokens,
           ROUND(SUM(p.n_bpe) / (1.0 * SUM(p.n_words)) + 1e-9, 4) AS fertility
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """
    )


@register("tokenizer_fertility", _tokenizer_fertility_oracle())
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn-then-encode BPE fertility per language: how many BPE
    tokens each language pays per word under a shared vocabulary — the
    per-language tokenization-cost audit every multilingual training
    mix needs (a high-fertility language is under-served by the
    vocabulary).  Rides the hard-oracled bpe_merges/bpe_encode
    machinery (operators/bpe.py); one extra lang join + groupBy."""
    from .operators.bpe import bpe_encode_stats, learn_bpe_merges

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    merges = [
        (r.left, r.right)
        for r in learn_bpe_merges(docs, "text", n_merges=12).collect()
    ]
    stats = bpe_encode_stats(docs, "doc_id", "text", merges)
    return (
        stats.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_bpe_tokens")
                / (F.lit(1.0) * F.sum("n_words"))
                + F.lit(1e-9),
                4,
            ).alias("fertility"),
        )
    )


# Gopher/MassiveText composite quality gate (Rae et al. 2021 App. A):
# per-rule booleans + conjunction, every ratio compared in EXACT
# integer arithmetic (3n <= sum_len <= 10n etc.) so both engines agree
# bit-for-bit with no float division anywhere.
@register(
    "gopher_quality_gate",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ), base AS (
      SELECT doc_id, len(tk) AS n,
             COALESCE(list_sum(list_transform(tk, x -> length(x))), 0) AS sum_len,
             len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS alpha_cnt,
             len(list_intersect(list_distinct(tk),
                 ['the','be','to','of','and','that','have','with','a'])) AS stop_hits
      FROM t
    ), bg AS (
      SELECT doc_id, MAX(c) AS top_bg, SUM(c) AS n_bg FROM (
        SELECT doc_id, g, COUNT(*) AS c FROM (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(tk) - 1),
                        i -> tk[i] || ' ' || tk[i + 1])) AS g
          FROM t WHERE len(tk) >= 2)
        GROUP BY doc_id, g)
      GROUP BY doc_id
    ), rules AS (
      SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_words,
             (b.n >= 50 AND b.n <= 100000) AS words_ok,
             (b.sum_len >= 3 * b.n AND b.sum_len <= 10 * b.n) AS mean_len_ok,
             (5 * b.alpha_cnt >= 4 * b.n) AS alpha_ok,
             (b.stop_hits >= 2) AS stop_ok,
             COALESCE(5 * g.top_bg <= g.n_bg, TRUE) AS bigram_ok
      FROM base b LEFT JOIN bg g USING (doc_id)
    )
    SELECT doc_id, n_words, words_ok, mean_len_ok, alpha_ok, stop_ok,
           bigram_ok,
           (words_ok AND mean_len_ok AND alpha_ok AND stop_ok
            AND bigram_ok) AS pass_gate
    FROM rules
    """,
)
def gopher_quality_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.gopher_quality_gate(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


# Batch-prep CAPSTONE: Gopher gate -> shard -> greedy token packing ->
# per-pack stats, the "prepare training batches" pipeline composed as
# ONE plan with ONE composed oracle (gate CTE reused verbatim).  Packs
# are 2048-token budgeted within pmod-32 shards (the scale-safe
# sequence_packing shape); fill_frac is sum/2048, which can never tie
# at 4 decimals (2048 is dyadic, 5e-5 is not).
@register(
    "training_batch_prepare",
    f"""
    WITH gate AS ({_ORACLES["gopher_quality_gate"]}),
    kept AS (
      SELECT doc_id, doc_id % 32 AS shard, n_words AS n_tok
      FROM gate WHERE pass_gate
    ), c AS (
      SELECT doc_id, shard, n_tok,
             CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM kept
    ), p AS (
      SELECT doc_id, shard, n_tok,
             shard * {1 << 32} + CAST(FLOOR((cum - n_tok) / 2048) AS BIGINT)
               AS pack_id
      FROM c
    )
    SELECT shard, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(n_tok) AS BIGINT) / 2048.0, 4) AS fill_frac
    FROM p GROUP BY shard, pack_id
    """,
)
def training_batch_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import packing

    gate = textstats.gopher_quality_gate(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )
    kept = gate.filter(F.col("pass_gate")).select(
        "doc_id", F.col("n_words").alias("n_tok")
    )
    packed = packing.pack_sequences(kept, 2048, n_shards=32)
    return packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.round(
            F.sum("n_tok").cast("long") / F.lit(2048.0), 4
        ).alias("fill_frac"),
    )


# Daily OHLC bars per event type — timeseries candlestick downsampling
# (open/close via strict (ts, event_id) order, exact-decimal mean).
@register(
    "ohlc_daily_bars",
    """
    WITH marked AS (
      SELECT CAST(ts AS DATE) AS bar_date, event_type AS key, value AS v,
             row_number() OVER (PARTITION BY CAST(ts AS DATE), event_type
                                ORDER BY ts ASC, event_id ASC) AS ra,
             row_number() OVER (PARTITION BY CAST(ts AS DATE), event_type
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM events
    )
    SELECT bar_date, key,
           ROUND(MAX(CASE WHEN ra = 1 THEN v END), 4) AS open,
           ROUND(MAX(v), 4) AS high,
           ROUND(MIN(v), 4) AS low,
           ROUND(MAX(CASE WHEN rd = 1 THEN v END), 4) AS close,
           COUNT(*) AS volume,
           ROUND(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                 + 1e-9, 4) AS mean_value
    FROM marked GROUP BY bar_date, key
    """,
)
def ohlc_daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.ohlc_bars(load(spark, sf_dir, "events"))


# Per-event-type OLS trend of daily totals: closed-form slope/intercept
# over exact integer sums — drift/growth monitoring as one aggregate.
@register(
    "daily_trend_ols",
    """
    WITH daily AS (
      SELECT event_type AS key,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT key, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY key
    )
    SELECT key, CAST(n AS BIGINT) AS n_days,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6) AS slope_per_day,
           ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6) AS intercept
    FROM stats
    """,
)
def daily_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.daily_trend(load(spark, sf_dir, "events"))


# Matryoshka truncation evaluation: recall@10 of 16-dim-prefix cosine
# search vs the full 64-dim ground truth, per query.
_TRUNC_DIMS, _TRUNC_K = 16, 10


@register(
    "ann_truncation_recall",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})
    ),
    full_ranked AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND(list_cosine_similarity(q.qv,
                         CAST(e.embedding AS DOUBLE[])), 4) DESC, e.vec_id
               ) AS rk
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
      ) WHERE rk <= {_TRUNC_K}
    ),
    trunc_ranked AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND(list_cosine_similarity(q.qv[1:{_TRUNC_DIMS}],
                         CAST(e.embedding AS DOUBLE[])[1:{_TRUNC_DIMS}]), 4)
                         DESC, e.vec_id
               ) AS rk
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
      ) WHERE rk <= {_TRUNC_K}
    )
    SELECT f.query_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_overlap,
           ROUND(COUNT(t.neighbor_id) / {float(_TRUNC_K)}, 4) AS recall_at_k
    FROM (SELECT DISTINCT query_id FROM full_ranked) f
    LEFT JOIN (
      SELECT tr.query_id, tr.neighbor_id
      FROM trunc_ranked tr JOIN full_ranked fr
        ON fr.query_id = tr.query_id AND fr.neighbor_id = tr.neighbor_id
    ) t ON t.query_id = f.query_id
    GROUP BY f.query_id
    """,
)
def ann_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.truncation_recall(
        load(spark, sf_dir, "embeddings"), _ANN_QUERY_IDS,
        dims=_TRUNC_DIMS, k=_TRUNC_K,
    )


# Frequent sequential patterns (contiguous trigram paths) ranked by
# distinct-user support — sequential-pattern mining over event streams.
@register(
    "frequent_event_paths",
    """
    WITH tri AS (
      SELECT user_id AS u,
             event_type || '>' ||
             lead(event_type, 1) OVER w || '>' ||
             lead(event_type, 2) OVER w AS path,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (SELECT u, path FROM tri WHERE t3 IS NOT NULL),
    occ AS (SELECT path, COUNT(*) AS n_occurrences FROM paths GROUP BY path),
    sup AS (
      SELECT path, COUNT(*) AS support
      FROM (SELECT DISTINCT u, path FROM paths) GROUP BY path
    )
    SELECT s.path, s.support, o.n_occurrences
    FROM sup s JOIN occ o ON s.path = o.path
    WHERE s.support >= 2
    ORDER BY s.support DESC, o.n_occurrences DESC, s.path
    LIMIT 30
    """,
)
def frequent_event_paths_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.frequent_event_paths(
        load(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        "event_id", min_support=2, top_n=30,
    )


# Day-of-week seasonal anomaly detection on daily value totals —
# exact-integer moments, rounded-z deterministic flagging.
@register(
    "seasonal_anomaly_days",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    dowd AS (SELECT day, y, dayofweek(day) + 1 AS dow FROM daily),
    base AS (
      SELECT dow, COUNT(*) AS n,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM dowd GROUP BY dow
    )
    SELECT d.day, CAST(d.dow AS INT) AS dow,
           ROUND(d.y / 100.0, 2) AS daily_total,
           ROUND(CAST(b.sy AS DOUBLE) / b.n / 100.0 + 1e-9, 4) AS dow_mean,
           CASE WHEN b.n * b.syy - b.sy * b.sy > 0 THEN
             ROUND(ABS(d.y - CAST(b.sy AS DOUBLE) / b.n)
                   / (SQRT(CAST(b.n * b.syy - b.sy * b.sy AS DOUBLE)) / b.n)
                   + 1e-9, 4)
           END AS z_score,
           COALESCE(CASE WHEN b.n * b.syy - b.sy * b.sy > 0 THEN
             ROUND(ABS(d.y - CAST(b.sy AS DOUBLE) / b.n)
                   / (SQRT(CAST(b.n * b.syy - b.sy * b.sy AS DOUBLE)) / b.n)
                   + 1e-9, 4) > 2.0
           END, FALSE) AS is_anomaly
    FROM dowd d JOIN base b ON d.dow = b.dow
    """,
)
def seasonal_anomaly_days_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.seasonal_anomaly_days(load(spark, sf_dir, "events"))


# Per-node local clustering coefficient over the co-supply graph —
# neighborhood density on top of the degree-oriented triangle count.
# min_orders=5: the synthetic co-purchase pattern makes the co-supply
# graph near-complete at 3 (213k edges / 1000 suppliers at sf0.1, mean
# degree ~428 — an adversarial density no real supply graph has); 5
# keeps a dense-but-plausible ~95-degree graph and the same semantics.
@register(
    "clustering_coefficient",
    graph.clustering_coefficient_oracle_sql(min_orders=5),
)
def clustering_coefficient_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph.clustering_coefficient(
        graph.cosupply_edges(load(spark, sf_dir, "lineitem"), min_orders=5)
    )


# k-anonymity / l-diversity audit on the customer table: QI =
# (nation, market segment), sensitive = account-balance band — the
# privacy gate beside pii_scrub.
@register(
    "k_anonymity_audit",
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 2000) AS BIGINT))
                AS BIGINT) AS n_sensitive_distinct,
           COUNT(*) < 5 AS k_violation,
           COUNT(DISTINCT CAST(FLOOR(c_acctbal / 2000) AS BIGINT)) < 2
             AS l_violation
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def k_anonymity_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.k_anonymity_audit(
        load(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"],
        F.floor(F.col("c_acctbal") / 2000).cast("long"),
        k=5,
        l_div=2,
    )


# CUSUM change-point per event type on daily totals — exact-integer
# argmax of the cumulative deviation from the series mean.
@register(
    "cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type AS key, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT key, day,
             SUM(y) OVER (PARTITION BY key ORDER BY day) AS c,
             row_number() OVER (PARTITION BY key ORDER BY day) AS i,
             SUM(y) OVER (PARTITION BY key) AS tot,
             COUNT(*) OVER (PARTITION BY key) AS n
      FROM daily
    ),
    dev AS (
      SELECT key, day, n, CAST(n * c - i * tot AS BIGINT) AS ns,
             row_number() OVER (PARTITION BY key
                                ORDER BY ABS(n * c - i * tot) DESC, day ASC)
               AS rk
      FROM cum
    )
    SELECT key, day AS changepoint_day, CAST(n AS BIGINT) AS n_days,
           ROUND(CAST(ABS(ns) AS DOUBLE) / n / 100.0 + 1e-9, 4)
             AS max_cusum_dev
    FROM dev WHERE rk = 1
    """,
)
def cusum_changepoint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.cusum_changepoint(load(spark, sf_dir, "events"))


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p!r}" for d, p in sorted(relational.BENFORD_P.items())
)


# Benford first-digit audit of order totals — the fraud/synthetic-data
# detector; expectation constants are shared literals on both engines.
@register(
    "benford_digit_audit",
    f"""
    WITH counts AS (
      SELECT CAST(substring(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS INT) AS digit,
             COUNT(*) AS n_obs
      FROM orders WHERE o_totalprice > 0
      GROUP BY 1
    ),
    tot AS (SELECT SUM(n_obs) AS n FROM counts)
    SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
           ROUND(n * p + 1e-9, 4) AS n_expected,
           ROUND((n_obs - n * p) * (n_obs - n * p) / (n * p) + 1e-9, 4)
             AS chi2_contrib
    FROM (SELECT digit, n_obs,
                 CAST(CASE digit {_BENFORD_CASE} END AS DOUBLE) AS p
          FROM counts)
    CROSS JOIN tot
    """,
)
def benford_digit_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.benford_digit_audit(
        load(spark, sf_dir, "orders"), "o_totalprice"
    )


from .operators import recommend  # noqa: E402

_REC_SEEDS = [1, 2, 4]


# User-neighborhood collaborative filtering: top-5 part recommendations
# per seed customer from the 10 most cosine-similar co-purchasers.
@register(
    "copurchase_recommendations",
    recommend.recommend_oracle_sql(_REC_SEEDS, k_neighbors=10, top_n=5),
)
def copurchase_recommendations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return recommend.copurchase_recommendations(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "orders"),
        _REC_SEEDS,
        k_neighbors=10,
        top_n=5,
    )


# Train/test split hygiene: after an md5 hash split, count exact-content
# collisions across the split boundary (leaked eval docs).
@register(
    "split_leakage_check",
    """
    WITH tagged AS (
      SELECT doc_id, md5(text) AS fp,
             CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10 < 8 AS is_train
      FROM documents
    ),
    train AS (SELECT doc_id, fp FROM tagged WHERE is_train),
    test AS (SELECT doc_id, fp FROM tagged WHERE NOT is_train),
    leaks AS (
      SELECT t.doc_id AS test_doc, COUNT(*) AS n_train_dups
      FROM test t JOIN train r ON t.fp = r.fp
      GROUP BY t.doc_id
    )
    SELECT (SELECT COUNT(*) FROM train) AS n_train,
           (SELECT COUNT(*) FROM test) AS n_test,
           CAST(COALESCE(SUM(n_train_dups), 0) AS BIGINT) AS n_leaked_pairs,
           CAST(COUNT(*) AS BIGINT) AS n_leaked_test_docs
    FROM leaks
    """,
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-hygiene audit: md5(doc_id) hash split (80/20, same rule as
    `hash_split_sample`) followed by an exact-content fingerprint join
    across the boundary — the leakage check every training pipeline
    runs before an eval set is trusted.  One fingerprint join keyed on
    content hash; counts only, never a transfer."""
    docs = load(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 10
            < 8
        ).alias("is_train"),
    )
    train = tagged.filter(F.col("is_train")).select(
        F.col("doc_id").alias("_tr"), "fp"
    )
    test = tagged.filter(~F.col("is_train")).select(
        F.col("doc_id").alias("_te"), "fp"
    )
    leaks = (
        test.join(train, "fp")
        .groupBy("_te")
        .agg(F.count(F.lit(1)).alias("n_train_dups"))
    )
    n_train = train.agg(F.count(F.lit(1)).alias("n_train"))
    n_test = test.agg(F.count(F.lit(1)).alias("n_test"))
    agg = leaks.agg(
        F.coalesce(F.sum("n_train_dups"), F.lit(0))
        .cast("long")
        .alias("n_leaked_pairs"),
        F.count(F.lit(1)).cast("long").alias("n_leaked_test_docs"),
    )
    return n_train.crossJoin(n_test).crossJoin(agg)


# Flesch reading-ease / FK grade with a deterministic vowel-group
# syllable heuristic — linguistic-complexity quality signal.
@register(
    "readability_scores",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks,
             GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences
      FROM documents
    ),
    m AS (
      SELECT doc_id, n_sentences,
             GREATEST(len(toks), 1) AS n_words,
             -- COALESCE: DuckDB's list_sum over an EMPTY token list is
             -- NULL where Spark's F.aggregate seed gives 0 (zero-token
             -- documents; latent divergence flagged in round-5 advice)
             COALESCE(list_sum(list_transform(toks, w ->
               GREATEST(len(regexp_extract_all(lower(w), '[aeiouy]+')), 1))), 0)
               AS n_syllables
      FROM t
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) + 1e-9, 4)
             AS flesch_ease,
           ROUND(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                 + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                 - 15.59 + 1e-9, 4) AS fk_grade
    FROM m
    """,
)
def readability_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.readability_scores(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


# Winsorization report per event type — robust heavy-tail treatment
# with exact percentile_cont bounds and decimal-exact means.
@register(
    "winsorize_values",
    """
    WITH bounds AS (
      SELECT event_type AS g,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n_rows,
           ROUND(MIN(b.lo) + 1e-9, 4) AS p_lo,
           ROUND(MIN(b.hi) + 1e-9, 4) AS p_hi,
           CAST(SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_lo,
           CAST(SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_hi,
           ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) + 1e-9, 4) AS mean_raw,
           ROUND(CAST(SUM(CAST(LEAST(GREATEST(e.value, b.lo), b.hi)
                              AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*) + 1e-9, 4) AS mean_winsorized
    FROM events e JOIN bounds b ON b.g = e.event_type
    GROUP BY e.event_type
    """,
)
def winsorize_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.winsorize_stats(
        load(spark, sf_dir, "events"), "event_type", "value"
    )


# Empirical-CDF normalization of document lengths — rank-based feature
# scaling without a global row sort (distinct-domain cumsum broadcast).
@register(
    "ecdf_normalize_lengths",
    """
    WITH counts AS (
      SELECT n_chars AS v, COUNT(*) AS c FROM documents GROUP BY n_chars
    ),
    cum AS (
      SELECT v, SUM(c) OVER (ORDER BY v) AS cumc,
             SUM(c) OVER () AS n
      FROM counts
    )
    SELECT d.doc_id, d.n_chars,
           ROUND(CAST(cum.cumc AS DOUBLE) / cum.n + 1e-9, 4) AS ecdf
    FROM documents d JOIN cum ON cum.v = d.n_chars
    """,
)
def ecdf_normalize_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.ecdf_normalize(
        load(spark, sf_dir, "documents"), "doc_id", "n_chars"
    )


# Rolling Bollinger bands on daily totals per event type — trailing
# 7-day mean ± 2σ breakout detection from exact integer window sums.
@register(
    "bollinger_breakouts",
    """
    WITH daily AS (
      SELECT event_type AS key, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    rolled AS (
      SELECT key, day, y,
             COUNT(*) OVER w AS n,
             SUM(y) OVER w AS sy,
             SUM(y * y) OVER w AS syy
      FROM daily
      WINDOW w AS (PARTITION BY key ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT key, day,
           ROUND(y / 100.0, 2) AS daily_total,
           CASE WHEN n = 7
                THEN ROUND(CAST(sy AS DOUBLE) / n / 100.0 + 1e-9, 4)
           END AS rolling_mean,
           CASE WHEN n = 7 AND n * syy - sy * sy > 0
                THEN ROUND((y - CAST(sy AS DOUBLE) / n)
                     / (SQRT(CAST(n * syy - sy * sy AS DOUBLE)) / n)
                     + 1e-9, 4)
           END AS z_score,
           COALESCE(ABS(CASE WHEN n = 7 AND n * syy - sy * sy > 0
                THEN ROUND((y - CAST(sy AS DOUBLE) / n)
                     / (SQRT(CAST(n * syy - sy * sy AS DOUBLE)) / n)
                     + 1e-9, 4)
           END) > 2.0, FALSE) AS is_breakout
    FROM rolled
    """,
)
def bollinger_breakouts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.bollinger_bands(load(spark, sf_dir, "events"))


# Customer-spend concentration: exact tied-rank Gini + top-decile share
# over per-customer order totals — the inequality audit for source or
# customer contribution.
@register(
    "spend_concentration",
    """
    WITH totals AS (
      SELECT o_custkey AS k,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS v
      FROM orders GROUP BY o_custkey
    ),
    vals AS (SELECT v, COUNT(*) AS c FROM totals GROUP BY v),
    cum AS (
      SELECT v, c,
             SUM(c) OVER (ORDER BY v) AS cumc,
             SUM(c) OVER () AS n,
             SUM(v * c) OVER () AS s
      FROM vals
    ),
    agg AS (
      SELECT MIN(n) AS n, MIN(s) AS s,
             SUM(v * c * (2 * cumc - c + 1)) AS ranksum2,
             SUM(v * GREATEST(0, LEAST(c, cumc - (n - CAST(CEIL(n / 10.0) AS BIGINT)))))
               AS topsum
      FROM cum
    )
    SELECT CAST(n AS BIGINT) AS n_keys,
           ROUND(s / 100.0, 2) AS total_value,
           ROUND(CAST(ranksum2 AS DOUBLE) / (CAST(n AS DOUBLE) * s)
                 - CAST(n + 1 AS DOUBLE) / n + 1e-9, 6) AS gini,
           ROUND(CAST(topsum AS DOUBLE) / s + 1e-9, 6) AS top_decile_share
    FROM agg
    """,
)
def spend_concentration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.concentration_report(
        load(spark, sf_dir, "orders"), "o_custkey", "o_totalprice"
    )


# Mergeable fixed-grid histogram quantile sketch with measured error
# vs the exact percentile — the oracle-checkable counterpart of the
# rows-only approx_percentile.
@register(
    "histogram_quantile_sketch",
    sketches.histogram_quantiles_oracle_sql(
        "events", "value", [0.5, 0.95, 0.99], n_buckets=256
    ),
)
def histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.histogram_quantiles(
        load(spark, sf_dir, "events"), "value", [0.5, 0.95, 0.99], n_buckets=256
    )


# Unicode-script profile (round 6): the synthetic corpus is pure ASCII,
# so both engines deterministically INJECT per-doc CJK/Cyrillic/Arabic
# runs from doc_id (pii_scrub precedent) — proving the per-script
# counters fire on every row.  Ranges are explicit code points
# (identical Java-regex/RE2 semantics; \p{script} spellings and
# Unicode tables differ between engines).
@register(
    "unicode_script_profile",
    f"""
    WITH aug AS (
      SELECT doc_id,
             text || repeat('中', doc_id % 5)
                  || repeat('ж', doc_id % 3)
                  || repeat('م', doc_id % 2) AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(length(t) AS BIGINT) AS n_chars,
           CAST(len(regexp_extract_all(t, '[A-Za-z]')) AS BIGINT) AS n_latin,
           CAST(len(regexp_extract_all(t, '[中]')) AS BIGINT) AS n_cjk,
           CAST(len(regexp_extract_all(t, '[ж]')) AS BIGINT) AS n_cyrillic,
           CAST(len(regexp_extract_all(t, '[م]')) AS BIGINT) AS n_arabic,
           CAST(length(t) - len(regexp_extract_all(t, '[A-Za-z]'))
                - len(regexp_extract_all(t, '[中]'))
                - len(regexp_extract_all(t, '[ж]'))
                - len(regexp_extract_all(t, '[م]')) AS BIGINT) AS n_other,
           ROUND(len(regexp_extract_all(t, '[A-Za-z]'))
                 / GREATEST(length(t), 1) + 1e-9, 4) AS latin_ratio,
           (len(regexp_extract_all(t, '[中]'))
            + len(regexp_extract_all(t, '[ж]'))
            + len(regexp_extract_all(t, '[م]')))
             > length(t) / 10 AS nonlatin_flag
    FROM aug
    """,
)
def unicode_script_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.expr("repeat('中', CAST(doc_id % 5 AS INT))"),
            F.expr("repeat('ж', CAST(doc_id % 3 AS INT))"),
            F.expr("repeat('م', CAST(doc_id % 2 AS INT))"),
        ).alias("t"),
    )
    return textstats.unicode_script_profile(docs, "doc_id", "t")


# Token-frequency spectrum in exact log2 buckets — the Zipf/head-tail
# corpus diagnostic; floor(log2(f)) via length(bin(f)) - 1 is pure
# integer/string arithmetic in both engines.
@register(
    "zipf_token_spectrum",
    f"""
    WITH toks AS (
      SELECT unnest(list_transform({_TOKS_SQL}, x -> lower(x))) AS t
      FROM documents
    ),
    freqs AS (SELECT t, COUNT(*) AS f FROM toks GROUP BY t)
    SELECT CAST(length(bin(f)) - 1 AS INT) AS log2_freq_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(f) AS BIGINT) AS total_occurrences,
           CAST(MIN(f) AS BIGINT) AS min_freq,
           CAST(MAX(f) AS BIGINT) AS max_freq
    FROM freqs GROUP BY 1
    """,
)
def zipf_token_spectrum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.zipf_token_spectrum(
        load(spark, sf_dir, "documents"), "text"
    )


# Deterministic stratified split with exact per-source proportions —
# md5-rank within stratum; the per-mille cuts are pure integer
# comparisons on both engines (float ceil can split an exact multiple
# differently).
@register(
    "stratified_split",
    """
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN (rn - 1) * 1000 < n * 800 THEN 'train'
                WHEN (rn - 1) * 1000 < n * 900 THEN 'val'
                ELSE 'test' END AS split
    FROM ranked
    """,
)
def stratified_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.stratified_split(
        load(spark, sf_dir, "documents"), "source", "doc_id"
    )


# First/last-touch attribution: strict-lookback banded range join +
# struct-ordered arg-min/arg-max (lexicographic in both engines, so
# simultaneous touches tie deterministically on the event id).
@register(
    "touch_attribution",
    """
    WITH touches AS (
      SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
             event_id AS tid
      FROM events WHERE event_type = 'click'
    ),
    convs AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS csec,
             event_id AS conversion_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.conversion_id, c.user_id,
           (min({'s': t.tsec, 'e': t.tid})).e AS first_touch_id,
           (max({'s': t.tsec, 'e': t.tid})).e AS last_touch_id,
           CAST(COUNT(t.tid) AS BIGINT) AS n_touches
    FROM convs c LEFT JOIN touches t
      ON t.u = c.user_id AND t.tsec < c.csec
     AND t.tsec >= c.csec - 7 * 86400
    GROUP BY c.conversion_id, c.user_id
    """,
)
def touch_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.touch_attribution(
        load(spark, sf_dir, "events"), "user_id", "ts", "event_type", "event_id"
    )


# Cross-source shingle-duplication matrix: per ordered source pair,
# shared distinct 3-gram shingles + overlap coefficient — the corpus-
# mix hygiene report (weigh syndicated content once, not twice).
@register(
    "cross_source_duplication",
    f"""
    WITH sh AS (
      SELECT DISTINCT source AS s, md5(shingle) AS h FROM (
        SELECT source,
               list_aggregate(toks[i:i+2], 'string_agg', ' ') AS shingle
        FROM (
          SELECT source, {_TOKS_SQL} AS toks FROM documents
        ), LATERAL (
          SELECT unnest(generate_series(1, GREATEST(len(toks) - 2, 0))) AS i
        )
      )
    ),
    sizes AS (SELECT s, COUNT(*) AS n FROM sh GROUP BY s),
    pairs AS (
      SELECT a.s AS source_a, b.s AS source_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b ON a.h = b.h AND a.s < b.s
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b,
           CAST(p.n_shared AS BIGINT) AS n_shared,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           ROUND(p.n_shared / LEAST(sa.n, sb.n) + 1e-9, 4) AS overlap_coeff
    FROM pairs p
    JOIN sizes sa ON sa.s = p.source_a
    JOIN sizes sb ON sb.s = p.source_b
    """,
)
def cross_source_duplication_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.cross_source_duplication(
        load(spark, sf_dir, "documents"), "source", "text"
    )


# Linear multi-touch attribution: conversion value splits evenly over
# lookback-window touches; per-pair share rounded once to a 1e-6
# scaled integer, per-touch rollup an exact integer sum.
@register(
    "linear_attribution",
    """
    WITH touches AS (
      SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
             event_id AS touch_id
      FROM events WHERE event_type = 'click'
    ),
    convs AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS csec,
             event_id AS cid, value AS v
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT t.touch_id, c.user_id, c.cid,
             CAST(ROUND(c.v * 1000000.0
                        / COUNT(*) OVER (PARTITION BY c.cid)) AS BIGINT)
               AS share_e6
      FROM convs c JOIN touches t
        ON t.u = c.user_id AND t.tsec < c.csec
       AND t.tsec >= c.csec - 7 * 86400
    )
    SELECT touch_id, user_id,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           ROUND(SUM(share_e6) / 1000000.0 + 1e-9, 4) AS attributed_value
    FROM j GROUP BY touch_id, user_id
    """,
)
def linear_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.linear_touch_attribution(
        load(spark, sf_dir, "events"),
        "user_id", "ts", "event_type", "event_id", "value",
    )


# ---------------------------------------------------------------------------
# Round-8 additions: budget selection, dedup yield audit, hashed linear
# classifier, personalized PageRank, JL projection recall
# ---------------------------------------------------------------------------


_TOKEN_BUDGET = 20000

# Budget-constrained corpus selection: rank by lexical diversity
# (distinct-token ratio, id tie-break) and keep the ranking prefix
# whose cumulative tokens fit a fixed budget — the "choose 1T of 10T
# tokens" cut every fixed-compute run ends with.  Spark leg rides the
# range-partitioned prefix sum (with_global_cumsum), never a
# single-partition window.
@register(
    "token_budget_select",
    f"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x <> '')) AS n_tokens,
             len(list_distinct(list_filter(
                 regexp_split_to_array(text, '\\s+'), x -> x <> '')))
               AS n_distinct
      FROM documents
    ), d AS (
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens > 0 THEN n_distinct * 1.0 / n_tokens
                  ELSE 0.0 END AS diversity
      FROM t
    ), c AS (
      SELECT doc_id, n_tokens, diversity,
             SUM(n_tokens) OVER (ORDER BY diversity DESC, doc_id)
               AS cum_tokens
      FROM d
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(diversity + 1e-9, 6) AS diversity,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= {_TOKEN_BUDGET}
    """,
)
def token_budget_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.token_budget_select(
        load(spark, sf_dir, "documents"), "doc_id", "text", _TOKEN_BUDGET
    )


# Dedup yield audit: one-row report of what keep-one-per-cluster
# MinHash-LSH dedup would do to the corpus — doc and TOKEN yield, the
# number a data team actually budgets with (corpus size after dedup).
@register(
    "dedup_yield_report",
    f"""
    WITH RECURSIVE {{_SHINGLE_SQL}}, sig AS (
      SELECT doc_id, {{_MINHASH_AGGS_SQL}}
      FROM sh GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, band, key FROM (
        SELECT doc_id, 0 AS band, md5(concat(h0, '|', h1)) AS key FROM sig
        UNION ALL SELECT doc_id, 1, md5(concat(h2, '|', h3)) FROM sig
        UNION ALL SELECT doc_id, 2, md5(concat(h4, '|', h5)) FROM sig
        UNION ALL SELECT doc_id, 3, md5(concat(h6, '|', h7)) FROM sig
      )
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), closure(node, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT c.node, e.dst FROM closure c JOIN edges e ON e.src = c.r
    ), lab AS (
      SELECT node, MIN(r) AS label FROM closure GROUP BY node
    ), toks AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ), tot AS (
      SELECT COUNT(*) AS n_docs, SUM(n_tokens) AS tokens_total FROM toks
    ), clus AS (
      SELECT label, COUNT(*) AS sz FROM lab GROUP BY label
    ), cagg AS (
      SELECT COUNT(*) AS n_clusters, SUM(sz) AS n_dup_docs,
             MAX(sz) AS largest_cluster
      FROM clus
    ), dagg AS (
      SELECT COUNT(*) AS n_dropped,
             COALESCE(SUM(t.n_tokens), 0) AS tokens_dropped
      FROM lab l JOIN toks t ON t.doc_id = l.node
      WHERE l.node <> l.label
    )
    SELECT CAST(tot.n_docs AS BIGINT) AS n_docs,
           CAST(tot.tokens_total AS BIGINT) AS tokens_total,
           CAST(COALESCE(cagg.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
           CAST(COALESCE(cagg.n_clusters, 0) AS BIGINT) AS n_clusters,
           CAST(COALESCE(cagg.largest_cluster, 0) AS BIGINT)
             AS largest_cluster,
           CAST(dagg.n_dropped AS BIGINT) AS n_dropped,
           CAST(dagg.tokens_dropped AS BIGINT) AS tokens_dropped,
           ROUND((tot.tokens_total - dagg.tokens_dropped) * 1.0
                 / tot.tokens_total + 1e-9, 6) AS token_yield
    FROM tot CROSS JOIN cagg CROSS JOIN dagg
    """.replace("{_SHINGLE_SQL}", _SHINGLE_SQL)
       .replace("{_MINHASH_AGGS_SQL}", _MINHASH_AGGS_SQL),
)
def dedup_yield_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What keep-one-per-cluster dedup does to the corpus, in one row:
    doc counts, cluster shape, and TOKEN yield.  Pure composition of
    the existing MinHash-LSH pipeline (signatures -> banded candidates
    -> connected components) with exact integer token accounting —
    the pre-flight report before committing a multi-day dedup job."""
    from .functions.text import tokens as _tokens

    docs = load(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=_MINHASH_K)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", num_hashes=_MINHASH_K, bands=4)
    comp = dedup.connected_components(pairs)
    toks = docs.select("doc_id", F.size(_tokens("text")).alias("n_tokens"))
    tot = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens_total"),
    )
    clus = comp.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    cagg = clus.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("n_clusters"),
        F.coalesce(F.sum("sz"), F.lit(0)).alias("n_dup_docs"),
        F.coalesce(F.max("sz"), F.lit(0)).alias("largest_cluster"),
    )
    dagg = (
        comp.filter(F.col("node") != F.col("label"))
        .join(toks, comp["node"] == toks["doc_id"])
        .agg(
            F.count(F.lit(1)).alias("n_dropped"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("tokens_dropped"),
        )
    )
    return (
        tot.crossJoin(cagg)
        .crossJoin(dagg)
        .select(
            F.col("n_docs").cast("long"),
            F.col("tokens_total").cast("long"),
            F.col("n_dup_docs").cast("long"),
            F.col("n_clusters").cast("long"),
            F.col("largest_cluster").cast("long"),
            F.col("n_dropped").cast("long"),
            F.col("tokens_dropped").cast("long"),
            F.round(
                (F.col("tokens_total") - F.col("tokens_dropped"))
                / F.col("tokens_total")
                + F.lit(1e-9),
                6,
            ).alias("token_yield"),
        )
    )


# fastText-style hashed linear classifier (Joulin et al. 2017 bag of
# hashed n-grams): deterministic pseudo-weights make the full scorer
# value-hash-verifiable; a trained model swaps in a broadcast
# bucket->weight table without touching the plan.
@register(
    "fasttext_hash_score",
    """
    WITH lst AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS ts
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS pos
      FROM lst
    ), bi AS (
      SELECT doc_id, w,
             lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
      FROM tok
    ), feats AS (
      SELECT doc_id, w AS f FROM tok
      UNION ALL
      SELECT doc_id, concat_ws(' ', w, w1) FROM bi WHERE w1 IS NOT NULL
    ), scored AS (
      SELECT doc_id,
             ((('0x' || substring(md5(f), 1, 8))::BIGINT % 4096)
              * 2654435761) % 2001 - 1000 AS w_e3
      FROM feats
    ), per AS (
      SELECT doc_id, COUNT(*) AS nf, SUM(w_e3) AS logit FROM scored
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.nf, 0) AS BIGINT) AS n_features,
           CAST(COALESCE(per.logit, 0) AS BIGINT) AS logit_e3,
           CASE WHEN COALESCE(per.logit, 0) > 0 THEN 'keep' ELSE 'drop' END
             AS label
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
)
def fasttext_hash_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.hashed_linear_score(
        load(spark, sf_dir, "documents"), "doc_id", "text", n_buckets=4096
    )


_PPR_SEEDS = [0, 2]  # the khop seed customers (cnode = custkey * 2)


@register(
    "personalized_pagerank",
    graph.personalized_pagerank_oracle_sql(_PPR_SEEDS, iters=3),
)
def personalized_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a seed customer set over the
    co-purchase graph — "related suppliers/customers for THESE
    customers", the retrieval twin of the global pagerank_copurchase.
    Exact BIGINT x10^12 arithmetic vs an unrolled DuckDB oracle;
    output bounded to the seeds' iters-hop neighborhood."""
    ranks = graph.personalized_pagerank(
        graph.bipartite_copurchase_edges(
            load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders")
        ),
        _PPR_SEEDS,
        iters=3,
    )
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("node_key"),
        "ppr_e12",
    )


_JL_DIM, _JL_SEED, _JL_K = 16, 7, 5


def _jl_recall_oracle() -> str:
    """Oracle for jl_projection_recall: project through the SAME
    literal planes (left-associated sums reproduce the engine's
    sequential fold bitwise), brute-force top-k in both spaces, join,
    and compute the retrieval_eval_metrics triple with the shared
    pre-rounded discount literals."""
    from .functions.vectors import make_planes
    from .operators.similarity import _dcg_discount_literals

    planes = make_planes(64, _JL_DIM, seed=_JL_SEED)
    proj_exprs = ", ".join(
        "(" + " + ".join(f"v[{i + 1}]*{planes[j][i]!r}" for i in range(64)) + ")"
        for j in range(_JL_DIM)
    )
    disc = _dcg_discount_literals(_JL_K)
    idcg = sum(disc.values())
    disc_case = " ".join(f"WHEN {i} THEN {v!r}" for i, v in disc.items())
    ids = ", ".join(map(str, _ANN_QUERY_IDS))
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), proj AS (
      SELECT vec_id, [{proj_exprs}] AS p FROM base
    ), q AS (
      SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id IN ({ids})
    ), qp AS (
      SELECT vec_id AS query_id, p AS qp FROM proj WHERE vec_id IN ({ids})
    ), exact AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT q.query_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY ROUND(list_cosine_similarity(q.qv, b.v), 4) DESC,
                          b.vec_id) AS rk
        FROM base b CROSS JOIN q WHERE b.vec_id <> q.query_id
      ) WHERE rk <= {_JL_K}
    ), approx AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT qp.query_id, pr.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qp.query_id
                 ORDER BY ROUND(list_cosine_similarity(qp.qp, pr.p), 4) DESC,
                          pr.vec_id) AS rk
        FROM proj pr CROSS JOIN qp WHERE pr.vec_id <> qp.query_id
      ) WHERE rk <= {_JL_K}
    ), j AS (
      SELECT a.query_id, a.rk AS rka, e.rk AS rke
      FROM approx a LEFT JOIN exact e
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    )
    SELECT query_id,
           CAST(COUNT(rke) AS BIGINT) AS n_overlap,
           ROUND(COUNT(rke) / {float(_JL_K)}, 4) AS recall_at_k,
           COALESCE(MAX(CASE WHEN rke = 1 THEN ROUND(1.0 / rka, 6) END), 0.0)
             AS mrr,
           ROUND(CAST(SUM(CAST(CASE WHEN rke IS NOT NULL
                        THEN (CASE rka {disc_case} END)
                        ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
                 / {idcg!r} + 1e-9, 4) AS ndcg_at_k
    FROM j GROUP BY query_id
    """


@register("jl_projection_recall", _jl_recall_oracle())
def jl_projection_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a measured
    retrieval-quality bill: project 64d embeddings to 16d through
    deterministic literal planes, then score projected-space top-k
    against full-space ground truth (recall@k / MRR / nDCG@k) — the
    audit that justifies running ANN at a quarter of the cosine cost.
    The projection is a pure narrow map (no shuffle added to any
    downstream consumer)."""
    emb = load(spark, sf_dir, "embeddings")
    proj = similarity.jl_project(
        emb, out_dim=_JL_DIM, seed=_JL_SEED, in_dim=64
    )
    approx = similarity.brute_force_topk(
        proj, _ANN_QUERY_IDS, k=_JL_K, vec_col="proj"
    )
    exact = similarity.brute_force_topk(emb, _ANN_QUERY_IDS, k=_JL_K)
    return similarity.retrieval_eval_metrics(approx, exact, k=_JL_K)


# Incremental snapshot-vs-corpus dedup: odd doc_ids play the "new
# crawl batch", even ones the standing corpus.  Signature per doc is
# side-independent, so the oracle computes once over all documents and
# splits by parity — exactly what the engine's per-side calls produce.
@register(
    "incremental_dedup",
    f"""
    WITH RECURSIVE {{_SHINGLE_SQL}}, sig AS (
      SELECT doc_id, {{_MINHASH_AGGS_SQL}}
      FROM sh GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, band, key FROM (
        SELECT doc_id, 0 AS band, md5(concat(h0, '|', h1)) AS key FROM sig
        UNION ALL SELECT doc_id, 1, md5(concat(h2, '|', h3)) FROM sig
        UNION ALL SELECT doc_id, 2, md5(concat(h4, '|', h5)) FROM sig
        UNION ALL SELECT doc_id, 3, md5(concat(h6, '|', h7)) FROM sig
      )
    ), norm AS (
      SELECT doc_id, {normalize_sql("text")} AS nt FROM documents
    ), fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> ''))), ' ')) AS fp
      FROM norm
    ), new_docs AS (
      SELECT doc_id FROM documents WHERE doc_id % 2 = 1
    ), exact AS (
      SELECT DISTINCT f.doc_id FROM fp f
      WHERE f.doc_id % 2 = 1
        AND EXISTS (SELECT 1 FROM fp h
                    WHERE h.doc_id % 2 = 0 AND h.fp = f.fp)
    ), near AS (
      SELECT DISTINCT b.doc_id FROM banded b
      WHERE b.doc_id % 2 = 1
        AND EXISTS (SELECT 1 FROM banded h
                    WHERE h.doc_id % 2 = 0
                      AND h.band = b.band AND h.key = b.key)
    )
    SELECT n.doc_id,
           (e.doc_id IS NOT NULL) AS exact_dup,
           (r.doc_id IS NOT NULL) AS near_dup,
           (e.doc_id IS NULL AND r.doc_id IS NULL) AS kept
    FROM new_docs n
    LEFT JOIN exact e ON e.doc_id = n.doc_id
    LEFT JOIN near r ON r.doc_id = n.doc_id
    """.replace("{_SHINGLE_SQL}", _SHINGLE_SQL)
       .replace("{_MINHASH_AGGS_SQL}", _MINHASH_AGGS_SQL),
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    new_df = docs.filter(F.col("doc_id") % 2 == 1)
    hist_df = docs.filter(F.col("doc_id") % 2 == 0)
    return dedup.incremental_dedup_flags(
        new_df, hist_df, "doc_id", "text", num_hashes=_MINHASH_K, bands=4
    )


_LG_BATCH = 32


# Length-grouped inference batching with the padding bill per batch.
@register(
    "length_grouped_batches",
    f"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ), r AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
      FROM t
    ), b AS (
      SELECT (rn - 1) // {_LG_BATCH} AS batch_id, n_tokens FROM r
    ), per AS (
      SELECT batch_id, COUNT(*) AS n_docs, MAX(n_tokens) AS max_tokens,
             SUM(n_tokens) AS sum_tokens
      FROM b GROUP BY batch_id
    )
    SELECT CAST(batch_id AS BIGINT) AS batch_id,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(max_tokens AS BIGINT) AS max_tokens,
           CAST(sum_tokens AS BIGINT) AS sum_tokens,
           ROUND(CASE WHEN max_tokens > 0 AND n_docs > 0
                      THEN 1.0 - sum_tokens * 1.0 / (n_docs * max_tokens)
                      ELSE 0.0 END + 1e-9, 6) AS pad_frac
    FROM per
    """,
)
def length_grouped_batches_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing.length_grouped_batches(
        load(spark, sf_dir, "documents"), "doc_id", "text", batch_size=_LG_BATCH
    )


# Classifier-vs-rule-gate agreement matrix: where the fastText-style
# hashed scorer and the Gopher integer-rule gate agree/disagree — the
# calibration cross-check run before trusting either as THE corpus
# filter.  Composes the two registered oracles verbatim.
@register(
    "quality_gate_agreement",
    f"""
    WITH gate AS ({{GOPHER}}),
         ft AS ({{FT}})
    SELECT g.pass_gate, f.label, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM gate g JOIN ft f ON g.doc_id = f.doc_id
    GROUP BY 1, 2
    """.replace("{GOPHER}", _ORACLES["gopher_quality_gate"])
       .replace("{FT}", _ORACLES["fasttext_hash_score"]),
)
def quality_gate_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    gate = textstats.gopher_quality_gate(docs, "doc_id", "text").select(
        "doc_id", "pass_gate"
    )
    ft = textstats.hashed_linear_score(docs, "doc_id", "text").select(
        "doc_id", "label"
    )
    return (
        gate.join(ft, "doc_id")
        .groupBy("pass_gate", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def _streaming_incremental_dedup_oracle() -> str:
    """Two-micro-batch replay of the streaming incremental-dedup
    protocol (streaming/incremental.py): batch 1 = first 150 docs
    (empty store; within-batch exact keeps min id), store = KEPT
    batch-1 docs' distinct fingerprints + band keys; batch 2 = 50
    batch-1 texts re-sent under +1M ids plus the last 50 docs, flagged
    against that store plus the same within-batch exact rule."""
    aggs = _MINHASH_AGGS_SQL
    return f"""
    WITH base AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 200),
    b1 AS (SELECT doc_id, text FROM base ORDER BY doc_id LIMIT 150),
    rep AS (SELECT doc_id + 1000000 AS doc_id, text FROM
            (SELECT doc_id, text FROM base ORDER BY doc_id LIMIT 50)),
    fresh AS (SELECT doc_id, text FROM base ORDER BY doc_id DESC LIMIT 50),
    allb AS (
      SELECT 1 AS batch, doc_id, text FROM b1
      UNION ALL SELECT 2, doc_id, text FROM rep
      UNION ALL SELECT 2, doc_id, text FROM fresh
    ), norm AS (
      SELECT batch, doc_id, {normalize_sql("text")} AS nt FROM allb
    ), fp AS (
      SELECT batch, doc_id,
             md5(array_to_string(list_sort(list_distinct(
               list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> ''))), ' ')) AS fp
      FROM norm
    ), tok AS (
      SELECT batch, doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS pos
      FROM (SELECT batch, doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> '') AS ts
            FROM allb)
    ), led AS (
      SELECT batch, doc_id, w,
             lead(w, 1) OVER (PARTITION BY batch, doc_id ORDER BY pos) AS w1,
             lead(w, 2) OVER (PARTITION BY batch, doc_id ORDER BY pos) AS w2
      FROM tok
    ), sh AS (
      SELECT DISTINCT batch, doc_id, concat_ws(' ', w, w1, w2) AS shingle
      FROM led WHERE w2 IS NOT NULL
    ), sig AS (
      SELECT batch, doc_id, {aggs}
      FROM sh GROUP BY batch, doc_id
    ), banded AS (
      SELECT batch, doc_id, band, key FROM (
        SELECT batch, doc_id, 0 AS band, md5(concat(h0, '|', h1)) AS key FROM sig
        UNION ALL SELECT batch, doc_id, 1, md5(concat(h2, '|', h3)) FROM sig
        UNION ALL SELECT batch, doc_id, 2, md5(concat(h4, '|', h5)) FROM sig
        UNION ALL SELECT batch, doc_id, 3, md5(concat(h6, '|', h7)) FROM sig
      )
    ), kid AS (
      SELECT batch, fp, MIN(doc_id) AS kid FROM fp GROUP BY batch, fp
    ), b1flags AS (
      SELECT f.doc_id, f.fp,
             (f.doc_id <> k.kid) AS exact_dup,
             FALSE AS near_dup,
             (f.doc_id = k.kid) AS kept
      FROM fp f JOIN kid k ON k.batch = 1 AND k.fp = f.fp
      WHERE f.batch = 1
    ), store_fp AS (
      SELECT DISTINCT fp FROM b1flags WHERE kept
    ), store_bk AS (
      SELECT DISTINCT b.band, b.key
      FROM banded b JOIN b1flags f ON f.doc_id = b.doc_id AND f.kept
      WHERE b.batch = 1
    ), b2flags AS (
      SELECT f.doc_id,
             (f.fp IN (SELECT fp FROM store_fp)
              OR f.doc_id <> k.kid) AS exact_dup,
             EXISTS (SELECT 1 FROM banded b JOIN store_bk s
                     ON b.band = s.band AND b.key = s.key
                     WHERE b.batch = 2 AND b.doc_id = f.doc_id) AS near_dup
      FROM fp f JOIN kid k ON k.batch = 2 AND k.fp = f.fp
      WHERE f.batch = 2
    )
    SELECT doc_id, exact_dup, near_dup, kept FROM b1flags
    UNION ALL
    SELECT doc_id, exact_dup, near_dup,
           (NOT exact_dup AND NOT near_dup) AS kept
    FROM b2flags
    """


@register("streaming_incremental_dedup", _streaming_incremental_dedup_oracle())
def streaming_incremental_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot-vs-corpus dedup AS A STREAM
    (streaming/incremental.py): batch 1 seeds the fingerprint + band-key
    stores with its KEPT docs; batch 2 re-sends 50 batch-1 texts under
    new ids (flagged exact+near against the store) plus 50 fresh docs.
    HARD-gated: the store protocol is deterministic given the batch
    split, so the oracle replays BOTH micro-batches in SQL — same
    fingerprints, same minhash band keys, same keep-min-id rule — and
    every doc's (exact_dup, near_dup, kept) value-hashes against it.
    Crash-replay idempotency is pytest-pinned
    (tests/test_streaming_incremental.py)."""
    import os
    import tempfile

    from .streaming.incremental import start_incremental_dedup_stream

    docs = (
        load(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(200)
        .select("doc_id", "text")
    )
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        os.makedirs(src)
        b1 = docs.limit(150)
        repeats = docs.limit(50).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        fresh = docs.orderBy(F.desc("doc_id")).limit(50)
        b1.coalesce(1).write.json(f"{src}/b0")
        repeats.unionByName(fresh).coalesce(1).write.json(f"{src}/b1")
        now = 1_700_000_000
        for i, sub in enumerate(["b0", "b1"]):
            for fn in os.listdir(f"{src}/{sub}"):
                os.utime(f"{src}/{sub}/{fn}", (now + i, now + i))
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .json(f"{src}/b*")
        )
        q = start_incremental_dedup_stream(
            stream, f"{tmp}/flags", f"{tmp}/fps", f"{tmp}/bks", f"{tmp}/ckpt"
        )
        q.awaitTermination(180)
        out = (
            spark.read.parquet(f"{tmp}/flags")
            .select("doc_id", "exact_dup", "near_dup", "kept")
            .orderBy("doc_id")
        )
        return out.localCheckpoint(eager=True)


_UNIMAX_BUDGET, _UNIMAX_EPOCHS = 1000, 4


# UniMax mixture allocation (Chung et al. 2023): equal-share waterfill
# over sources with a per-source epoch cap — the successor to
# temperature sampling (mixture_sample) for multilingual budgets.
@register(
    "unimax_allocation",
    f"""
    WITH counts AS (
      SELECT source AS grp, COUNT(*) AS n_docs FROM documents GROUP BY 1
    ), caps AS (
      SELECT grp, n_docs, n_docs * {_UNIMAX_EPOCHS} AS cap_docs FROM counts
    ), marked AS (
      SELECT grp, n_docs, cap_docs,
             row_number() OVER (ORDER BY cap_docs, grp) AS i,
             COALESCE(SUM(cap_docs) OVER (ORDER BY cap_docs, grp
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef,
             COUNT(*) OVER () AS n
      FROM caps
    ), flagged AS (
      SELECT *,
             cap_docs * (n - i + 1) <= {_UNIMAX_BUDGET} - bef AS capped
      FROM marked
    ), tot AS (
      SELECT COALESCE(SUM(CASE WHEN capped THEN cap_docs END), 0) AS s,
             COALESCE(SUM(CASE WHEN NOT capped THEN 1 END), 0) AS k
      FROM flagged
    )
    SELECT grp AS source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(cap_docs AS BIGINT) AS cap_docs,
           ROUND(CASE WHEN capped THEN CAST(cap_docs AS DOUBLE)
                      ELSE ({_UNIMAX_BUDGET} - s) * 1.0 / k END + 1e-9, 4)
             AS allocated,
           ROUND((CASE WHEN capped THEN CAST(cap_docs AS DOUBLE)
                       ELSE ({_UNIMAX_BUDGET} - s) * 1.0 / k END) / n_docs
                 + 1e-9, 4) AS epochs
    FROM flagged CROSS JOIN tot
    """,
)
def unimax_allocation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.unimax_allocation(
        load(spark, sf_dir, "documents"),
        "source",
        budget_docs=_UNIMAX_BUDGET,
        epoch_cap=_UNIMAX_EPOCHS,
    )


_EPOCH_SHARDS = 8


# Deterministic per-epoch training order: every epoch is a different
# but REPRODUCIBLE permutation (md5 of id#epoch), with the shard
# assignment riding the same ranking — the "shuffle each epoch, same
# shuffle on every re-run / every worker" contract data loaders need.
@register(
    "epoch_shuffle",
    f"""
    WITH e AS (
      SELECT doc_id, epoch,
             md5(CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR))
               AS draw
      FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS epoch)
    ), r AS (
      SELECT doc_id, epoch,
             row_number() OVER (PARTITION BY epoch ORDER BY draw, doc_id)
               AS pos
      FROM e
    )
    SELECT doc_id, CAST(epoch AS INT) AS epoch,
           CAST(pos AS BIGINT) AS pos,
           CAST((pos - 1) % {_EPOCH_SHARDS} AS BIGINT) AS shard
    FROM r
    """,
)
def epoch_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch deterministic shuffle + shard assignment.  Each epoch
    ranks documents by md5(id#epoch) — a different full permutation per
    epoch, identical on every run and every engine — and deals them
    round-robin into shards.  Scale shape: the per-epoch ranking rides
    `with_global_row_numbers` (range-partitioned sort, no
    single-partition window); two epochs = two narrow passes unioned."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    outs = []
    for epoch in (0, 1):
        draw = F.md5(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit("#"),
                F.lit(str(epoch)),
            )
        )
        ranked = relational.with_global_row_numbers(
            docs.withColumn("draw", draw),
            [F.asc("draw"), F.asc("doc_id")],
            col_name="pos",
        )
        outs.append(
            ranked.select(
                "doc_id",
                F.lit(epoch).cast("int").alias("epoch"),
                F.col("pos").cast("long").alias("pos"),
                F.pmod(F.col("pos") - 1, F.lit(_EPOCH_SHARDS))
                .cast("long")
                .alias("shard"),
            )
        )
    return outs[0].unionByName(outs[1])


# C4-style blocklist gate: drop any document containing a blocklisted
# token (the "List of Dirty, Naughty..." rule in C4's cleaning,
# Raffel et al. 2020).  The synthetic corpus has no real badwords, so
# the blocklist is HASH-DEFINED over the corpus vocabulary (md5 prefix
# < '04' ≈ 1.6% of distinct tokens — the stratified_hash_sample
# tactic): the gate mechanics (broadcast list, positional first hit,
# any-hit drop) are fully exercised and SQL-replayable; a real
# deployment swaps in its curated list as the same broadcast join.
@register(
    "badwords_filter",
    """
    WITH tok AS (
      SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS pos
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS ts
            FROM documents)
    ), hits AS (
      SELECT doc_id, COUNT(*) AS n_blocked_hits, MIN(pos) AS first_hit_pos
      FROM tok WHERE substring(md5(w), 1, 2) < '04'
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_blocked_hits, 0) AS BIGINT) AS n_blocked_hits,
           CAST(h.first_hit_pos AS BIGINT) AS first_hit_pos,
           (h.doc_id IS NOT NULL) AS is_blocked
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
)
def badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist document gate: lowercase-tokenize, flag tokens on the
    (hash-defined) blocklist, report per doc the hit count and the
    1-based position of the first hit, and the C4 any-hit drop verdict.
    Scale shape: the block test is a pure column predicate on the
    exploded tokens (a real curated list broadcasts instead — same
    plan); one doc-keyed partial-agg shuffle; the corpus text never
    moves."""
    from .functions.text import tokens as _tokens

    docs = load(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id",
        F.posexplode(_tokens(F.lower(F.col("text")))).alias("pos0", "w"),
    )
    hits = (
        ex.filter(F.substring(F.md5("w"), 1, 2) < "04")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocked_hits"),
            (F.min("pos0") + 1).alias("first_hit_pos"),
        )
        .withColumn("_hit", F.lit(True))
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_blocked_hits", F.lit(0)).cast("long").alias("n_blocked_hits"),
        F.col("first_hit_pos").cast("long").alias("first_hit_pos"),
        F.coalesce("_hit", F.lit(False)).alias("is_blocked"),
    )


# Curriculum staging CAPSTONE: order the corpus easy -> hard by a
# composite of exact integer difficulty ranks (length, mean word
# length, lexical diversity) and deal it into 4 training stages — the
# curriculum-learning data prep step.  RFM-shaped: three fused lazy
# rank passes (pins protocol) + one ntile pass, all on
# range-partitioned row numbers — no single-partition window over doc
# rows at any corpus size.
@register(
    "curriculum_stages",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
               AS ts
      FROM documents
    ), sig AS (
      SELECT doc_id, len(ts) AS n_tokens,
             COALESCE(list_sum(list_transform(ts, x -> length(x))), 0)
               AS sum_len,
             len(list_distinct(ts)) AS n_distinct
      FROM t
    ), m AS (
      SELECT doc_id, n_tokens,
             CASE WHEN n_tokens > 0 THEN sum_len * 1.0 / n_tokens
                  ELSE 0.0 END AS mean_wlen,
             CASE WHEN n_tokens > 0 THEN n_distinct * 1.0 / n_tokens
                  ELSE 0.0 END AS ttr
      FROM sig
    ), rk AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens, doc_id) AS rank_len,
             row_number() OVER (ORDER BY mean_wlen, doc_id) AS rank_wlen,
             row_number() OVER (ORDER BY ttr, doc_id) AS rank_ttr
      FROM m
    ), comp AS (
      SELECT doc_id, n_tokens, rank_len, rank_wlen, rank_ttr,
             rank_len + rank_wlen + rank_ttr AS difficulty
      FROM rk
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(rank_len AS BIGINT) AS rank_len,
           CAST(rank_wlen AS BIGINT) AS rank_wlen,
           CAST(rank_ttr AS BIGINT) AS rank_ttr,
           CAST(difficulty AS BIGINT) AS difficulty,
           CAST(ntile(4) OVER (ORDER BY difficulty, doc_id) AS INT) AS stage
    FROM comp
    """,
)
def curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import tokens as _tokens
    from .operators.relational import ntile_from_rank, with_global_row_numbers

    toks = _tokens("text")
    sig = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)),
            F.lit(0),
            lambda a, x: a + x,
        ).alias("sum_len"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    m = sig.select(
        "doc_id",
        "n_tokens",
        F.when(
            F.col("n_tokens") > 0, F.col("sum_len") / F.col("n_tokens")
        ).otherwise(F.lit(0.0)).alias("mean_wlen"),
        F.when(
            F.col("n_tokens") > 0, F.col("n_distinct") / F.col("n_tokens")
        ).otherwise(F.lit(0.0)).alias("ttr"),
    ).persist()
    pins: list = []
    try:
        axes = {
            "rank_len": [F.asc("n_tokens"), F.asc("doc_id")],
            "rank_wlen": [F.asc("mean_wlen"), F.asc("doc_id")],
            "rank_ttr": [F.asc("ttr"), F.asc("doc_id")],
        }
        out = m.select("doc_id", "n_tokens")
        for name, order in axes.items():
            ranked = with_global_row_numbers(
                m, order, col_name=name, checkpoint=False, pins=pins
            ).select("doc_id", name)
            out = out.join(ranked, "doc_id")
        out = out.withColumn(
            "difficulty",
            F.col("rank_len") + F.col("rank_wlen") + F.col("rank_ttr"),
        )
        n_df = F.broadcast(m.agg(F.count(F.lit(1)).alias("_n")))
        staged = with_global_row_numbers(
            out,
            [F.asc("difficulty"), F.asc("doc_id")],
            col_name="_srn",
            checkpoint=False,
            pins=pins,
        )
        final = staged.crossJoin(n_df).select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("rank_len").cast("long").alias("rank_len"),
            F.col("rank_wlen").cast("long").alias("rank_wlen"),
            F.col("rank_ttr").cast("long").alias("rank_ttr"),
            F.col("difficulty").cast("long").alias("difficulty"),
            ntile_from_rank(F.col("_srn"), F.col("_n"), 4).alias("stage"),
        )
        final = final.localCheckpoint(eager=True)
    finally:
        m.unpersist()
        for p in pins:
            p.unpersist()
    return final


# Interpolated Kneser-Ney bigram perplexity — the KenLM/CCNet
# smoothing, vs lm_perplexity's add-k.  Same libm-log contract as the
# add-k oracle (round 4 after +1e-9).
@register(
    "kneser_ney_perplexity",
    """
    WITH tok AS (
      SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS pos
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS ts
            FROM documents)
    ), bg AS (
      SELECT doc_id, w AS prev,
             lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS cur
      FROM tok
    ), per_doc AS (
      SELECT doc_id, prev, cur, COUNT(*) AS n
      FROM bg WHERE cur IS NOT NULL GROUP BY doc_id, prev, cur
    ), c_model AS (
      SELECT prev, cur, SUM(n) AS c FROM per_doc GROUP BY prev, cur
    ), m AS (
      SELECT prev, cur, c,
             SUM(c) OVER (PARTITION BY prev) AS cp,
             COUNT(*) OVER (PARTITION BY prev) AS n1p_prev,
             COUNT(*) OVER (PARTITION BY cur) AS n1p_cur
      FROM c_model
    ), btot AS (SELECT COUNT(*) AS bt FROM c_model),
    scored AS (
      SELECT d.doc_id, SUM(d.n) AS n_bigrams,
             SUM(d.n * -ln(
               GREATEST(m.c - 0.75, 0.0) / m.cp
               + 0.75 * m.n1p_prev / m.cp * (m.n1p_cur / bt)
             )) / SUM(d.n) AS ce
      FROM per_doc d
      JOIN m ON m.prev = d.prev AND m.cur = d.cur
      CROSS JOIN btot
      GROUP BY d.doc_id
    )
    SELECT doc.doc_id,
           CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           ROUND(s.ce + 1e-9, 4) AS cross_entropy,
           ROUND(exp(s.ce) + 1e-9, 4) AS perplexity
    FROM documents doc LEFT JOIN scored s ON s.doc_id = doc.doc_id
    """,
)
def kneser_ney_perplexity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.kneser_ney_perplexity(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


# Corpus shard manifest: per-shard doc/token counts + an
# order-insensitive 60-bit content digest (xor of per-doc md5-prefix
# hashes) — the cheap corpus-versioning primitive: two corpus versions
# diff by comparing 8 manifest rows instead of re-scanning either, and
# a changed shard pinpoints where.  bit_xor is commutative, so the
# digest is partition- and order-independent by construction.
@register(
    "corpus_manifest",
    """
    SELECT doc_id % 8 AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x <> ''))) AS BIGINT) AS n_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(bit_xor(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                         || '|' || text), 1, 15))::BIGINT) AS BIGINT)
             AS content_digest
    FROM documents
    GROUP BY 1
    """,
)
def corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One manifest row per shard — scan-bound, single partial-agg
    shuffle on 8 keys; the digest hashes (id, text) so both reorders
    within a doc and id remaps flip it."""
    from .functions.text import tokens as _tokens

    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.pmod("doc_id", F.lit(8)).alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(_tokens("text"))).cast("long").alias("n_tokens"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
            F.expr(
                "bit_xor(cast(conv(substring(md5(concat(cast(doc_id as string),"
                " '|', text)), 1, 15), 16, 10) as bigint))"
            ).alias("content_digest"),
        )
    )


# Two-stage retrieve-then-rerank: BM25 recall stage (cheap lexical
# top-50) -> exact embedding-cosine precision stage over ONLY those
# candidates -> top-10.  The canonical RAG serving shape (vs
# hybrid_search_rrf's rank fusion): the expensive vector math touches
# 50 rows, not the corpus.
@register(
    "retrieve_rerank",
    f"""
    WITH lens AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
               AS dl
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS _n, AVG(dl) AS _avgdl FROM lens),
    hits AS (
      SELECT doc_id, lower(term) AS term FROM (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
                 AS term
        FROM documents
      ) WHERE lower(term) IN ({', '.join("'" + w + "'" for w in sorted(_SEARCH_KEYWORDS))})
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM hits GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY term),
    lexscored AS (
      SELECT doc_id,
             ROUND(SUM(
               ln(1.0 + (_n - df + 0.5) / (df + 0.5))
               * (tf * (1.2 + 1.0))
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / _avgdl))
             ), 4) AS score
      FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
      GROUP BY doc_id
    ),
    lexrank AS (
      SELECT doc_id, rank AS bm25_rank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM lexscored
      ) WHERE rank <= {_RRF_LEG_N}
    ),
    vq AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
      WHERE vec_id = {_RRF_QUERY_VEC}
    ),
    reranked AS (
      SELECT l.doc_id, l.bm25_rank,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), vq.qv), 4)
               AS cos
      FROM lexrank l
      JOIN embeddings e ON e.vec_id = l.doc_id
      CROSS JOIN vq
      WHERE l.doc_id <> {_RRF_QUERY_VEC}
    )
    SELECT doc_id, CAST(bm25_rank AS BIGINT) AS bm25_rank, cos,
           CAST(rerank AS BIGINT) AS rerank
    FROM (
      SELECT *, row_number() OVER (ORDER BY cos DESC, doc_id) AS rerank
      FROM reranked
    ) WHERE rerank <= 10
    """,
)
def retrieve_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 recall -> exact-cosine rerank over the candidates only.
    Scale shape: stage 1 is the term-filtered BM25 plan (postings
    filtered to query terms pre-shuffle, heap top-N); stage 2 joins 50
    candidate rows to their embeddings (an id equi-join the inverted
    layout makes a pruned lookup) and broadcasts one query vector —
    corpus embeddings never scan, the rerank cost is O(candidates)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    lex = textstats.ranked_keyword_search_bm25(
        docs, "doc_id", "text", _SEARCH_KEYWORDS, k=_RRF_LEG_N
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    cand = (
        lex.withColumn("bm25_rank", F.row_number().over(w))
        .filter(F.col("bm25_rank") <= _RRF_LEG_N)
        .filter(F.col("doc_id") != _RRF_QUERY_VEC)
        .select("doc_id", "bm25_rank")
    )
    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
        F.col("embedding").alias("qv")
    )
    from .functions.vectors import cosine

    reranked = (
        cand.join(emb, cand["doc_id"] == emb["vec_id"])
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            "bm25_rank",
            F.round(cosine(F.col("qv"), F.col("embedding")), 4).alias("cos"),
        )
    )
    w2 = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    return (
        reranked.withColumn("rerank", F.row_number().over(w2))
        .filter(F.col("rerank") <= 10)
        .select(
            "doc_id",
            F.col("bm25_rank").cast("long").alias("bm25_rank"),
            "cos",
            F.col("rerank").cast("long").alias("rerank"),
        )
    )


_NEG_DRAWS = 200


# word2vec negative sampling from the unigram^0.75 noise distribution —
# deterministic inverse-CDF over exact integer cumulative intervals.
@register(
    "negative_sampling",
    f"""
    WITH vocab AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents
      ) GROUP BY w
    ), weighted AS (
      SELECT w,
             CAST(CAST(pow(CAST(c AS DOUBLE), 0.75) AS DECIMAL(18,6))
                  * 1000000 AS BIGINT) AS w_e6
      FROM vocab
    ), cum AS (
      SELECT w, w_e6,
             SUM(w_e6) OVER (ORDER BY w) AS cum_hi,
             SUM(w_e6) OVER (ORDER BY w) - w_e6 AS cum_lo
      FROM weighted WHERE w_e6 > 0
    ), tot AS (SELECT MAX(cum_hi) AS t_e6 FROM cum),
    draws AS (
      SELECT i AS draw_id,
             CAST(CAST(concat('0x', substring(md5(CAST(i AS VARCHAR)), 1, 8))
                  AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
      FROM range(0, {_NEG_DRAWS}) t(i)
    ), dt AS (
      SELECT draw_id, CAST(floor(u * t_e6) AS BIGINT) AS target_e6
      FROM draws CROSS JOIN tot
    )
    SELECT d.draw_id, c.w AS token, d.target_e6
    FROM cum c JOIN dt d
      ON c.cum_lo <= d.target_e6 AND d.target_e6 < c.cum_hi
    """,
)
def negative_sampling_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.negative_sampling(
        load(spark, sf_dir, "documents"), "text", n_draws=_NEG_DRAWS
    )


# Population-stability-index drift report between two corpus snapshots
# (even vs odd doc_ids as the A/B halves): per length-bucket shares
# with add-one smoothing and the PSI contribution (pa-pb)*ln(pa/pb) —
# the standard "did the data distribution move" monitor a training
# pipeline runs between crawl snapshots.  Integer bucket/count
# arithmetic; the only float steps are the share divisions and ln,
# identical IEEE in both engines under the round-4 + 1e-9 contract.
@register(
    "snapshot_drift_psi",
    """
    WITH t AS (
      SELECT doc_id % 2 AS snap,
             LEAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                   x -> x <> '')) // 20, 9) AS bucket
      FROM documents
    ), counts AS (
      SELECT bucket,
             COUNT(*) FILTER (WHERE snap = 0) AS n_a,
             COUNT(*) FILTER (WHERE snap = 1) AS n_b
      FROM t GROUP BY bucket
    ), tot AS (
      SELECT SUM(n_a) + COUNT(*) AS ta, SUM(n_b) + COUNT(*) AS tb,
             COUNT(*) AS k
      FROM counts
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND((n_a + 1) * 1.0 / ta + 1e-9, 6) AS p_a,
           ROUND((n_b + 1) * 1.0 / tb + 1e-9, 6) AS p_b,
           ROUND(((n_a + 1) * 1.0 / ta - (n_b + 1) * 1.0 / tb)
                 * ln(((n_a + 1) * 1.0 / ta) / ((n_b + 1) * 1.0 / tb))
                 + 1e-9, 6) AS psi_contrib
    FROM counts CROSS JOIN tot
    """,
)
def snapshot_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift between snapshot halves over length buckets.  Scale
    shape: one narrow bucket map + a 10-key partial-agg shuffle; the
    totals are a broadcast one-row aggregate (pivot-free conditional
    counts).  PSI > 0.2 is the conventional 'distribution moved' alarm
    — the per-bucket contributions localize WHICH length band drifted."""
    from .functions.text import tokens as _tokens

    t = load(spark, sf_dir, "documents").select(
        F.pmod("doc_id", F.lit(2)).alias("snap"),
        F.least(
            F.floor(F.size(_tokens("text")) / 20).cast("long"), F.lit(9)
        ).alias("bucket"),
    )
    counts = t.groupBy("bucket").agg(
        F.count(F.when(F.col("snap") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("snap") == 1, 1)).alias("n_b"),
    )
    tot = counts.agg(
        (F.sum("n_a") + F.count(F.lit(1))).alias("ta"),
        (F.sum("n_b") + F.count(F.lit(1))).alias("tb"),
    )
    pa = (F.col("n_a") + 1) / F.col("ta")
    pb = (F.col("n_b") + 1) / F.col("tb")
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(pa + F.lit(1e-9), 6).alias("p_a"),
        F.round(pb + F.lit(1e-9), 6).alias("p_b"),
        F.round((pa - pb) * F.log(pa / pb) + F.lit(1e-9), 6).alias(
            "psi_contrib"
        ),
    )


# Perceptual-hash image dedup: originals plus their 32px-resized
# copies (ids +1000) hash with aHash; near-dups pair via 16-bit band
# buckets + exact hamming <= 10; connected components group each
# original with its resized copy.  Deterministic end-to-end (synthetic
# media is a pure function of the row index), so the oracle is a
# VALUES pin like the other media gates — captured from a verified run
# and cross-validated against an independent decoder + python aHash in
# tests/test_multimodal.py.
# Pinned pHash dedup groups (44 originals+resized): captured from a
# verified run, cross-validated by independent decoders in
# tests/test_multimodal.py; shared by image_phash_dedup and the
# cross-modal manifest capstone.
_PHASH_GROUPS_VALUES = """(VALUES
      (0, 3158197430031575701, 0, 2),
      (3, 7686964711758402898, 3, 2),
      (6, 6510615556791184299, 6, 1),
      (9, 5353207842846125477, 9, 2),
      (12, 6257106995464787157, 12, 1),
      (15, 6172840065699829167, 15, 1),
      (18, -3121756686621791406, 18, 2),
      (21, -7689142826036802907, 21, 1),
      (24, -5383291072093182630, 24, 2),
      (27, -6497187015024813526, 27, 2),
      (30, -6076857098630245035, 30, 1),
      (33, -5934154734669376430, 33, 2),
      (36, 3047343573477042778, 36, 1),
      (39, 3050531421415975509, 39, 1),
      (42, 5392125190082835755, 42, 2),
      (45, 6245178950198929749, 45, 1),
      (48, 6531717738940420777, 48, 2),
      (51, 6073855384659274677, 51, 2),
      (54, 6148914691051244106, 54, 1),
      (57, -7650394955292456342, 57, 2),
      (60, -5356703783041260117, 60, 1),
      (63, -6248016996410747606, 63, 1),
      (1000, 3158197430031575701, 0, 2),
      (1003, 7686964711758402898, 3, 2),
      (1006, 6533268794827428523, 1006, 1),
      (1009, 5353207842846125477, 9, 2),
      (1012, 6221077841963537962, 1012, 1),
      (1015, 6149055773731558821, 1015, 1),
      (1018, -3121756686621791406, 18, 2),
      (1021, -7698258520463190619, 1021, 1),
      (1024, -5383291072093182630, 24, 2),
      (1027, -6497187015024813526, 27, 2),
      (1030, -6082864830164587819, 1030, 1),
      (1033, -5934154734669376430, 33, 2),
      (1036, 3047342839171852973, 1036, 1),
      (1039, 7663532640428512597, 1039, 1),
      (1042, 5392125190082835755, 42, 2),
      (1045, 5959855866943724116, 1045, 1),
      (1048, 6531717738940420777, 48, 2),
      (1051, 6073855384659274677, 51, 2),
      (1054, 6148164274371614026, 1054, 1),
      (1057, -7650394955292456342, 57, 2),
      (1060, -5355436686092946092, 1060, 1),
      (1063, -6076857648028145110, 1063, 1)
    ) AS t(media_id, phash, group_label, n_members)"""


@register(
    "image_phash_dedup",
    f"""
    SELECT CAST(media_id AS BIGINT) AS media_id, CAST(phash AS BIGINT) AS phash,
           CAST(group_label AS BIGINT) AS group_label,
           CAST(n_members AS BIGINT) AS n_members
    FROM {_PHASH_GROUPS_VALUES}
    """,
)
def image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolution-invariant image dedup: aHash each image and its
    resized copy, band-bucket candidate pairs, hamming-verify, group
    with connected components.  Scale shape: hashing and resizing are
    narrow Arrow maps; candidates come from band-key equality (never
    all-pairs); components run on the tiny near-dup pair set."""
    from .operators.multimodal import (
        image_phash,
        phash_candidate_pairs,
        resize_images,
        synthetic_media,
    )

    media = synthetic_media(spark, 64)
    originals = media.filter(F.col("modality") == "image").select(
        "media_id", F.lit("image").alias("modality"), "payload"
    )
    resized = resize_images(media, max_side=32).select(
        (F.col("media_id") + 1000).alias("media_id"),
        F.lit("image").alias("modality"),
        "payload",
    )
    # materialize the codec output once (catalog-sized): it feeds the
    # pair generator (consumed eagerly inside connected_components) AND
    # two final-plan joins — unchecked, the pandas-UDF decode runs 3x.
    hashes = image_phash(originals.unionByName(resized)).localCheckpoint(
        eager=True
    )
    pairs = phash_candidate_pairs(hashes, max_hamming=10)
    comp = dedup.connected_components(pairs)
    return (
        hashes.join(comp, hashes["media_id"] == comp["node"], "left")
        .select(
            "media_id",
            "phash",
            F.coalesce("label", F.col("media_id")).cast("long").alias("group_label"),
        )
        .join(
            hashes.join(comp, hashes["media_id"] == comp["node"], "left")
            .select(
                F.coalesce("label", F.col("media_id")).alias("gl")
            )
            .groupBy("gl")
            .agg(F.count(F.lit(1)).alias("n_members")),
            F.col("group_label") == F.col("gl"),
        )
        .select(
            "media_id",
            "phash",
            "group_label",
            F.col("n_members").cast("long").alias("n_members"),
        )
    )


_SEMDECON_EVAL_N, _SEMDECON_THRESHOLD = 25, 0.3


# Semantic (embedding-level) eval-set decontamination: the n-gram
# `benchmark_contamination` catches verbatim leakage; this catches
# PARAPHRASED leakage — a training vector too cosine-close to any
# eval vector.  Same broadcast shape: the eval set is tiny by
# definition, the corpus scans once and never shuffles.
@register(
    "semantic_decontamination",
    f"""
    WITH ev AS (
      SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS ev
      FROM embeddings WHERE vec_id < {_SEMDECON_EVAL_N}
    ), corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id >= {_SEMDECON_EVAL_N}
    ), scored AS (
      SELECT c.vec_id, e.eval_id,
             ROUND(list_cosine_similarity(c.v, e.ev), 4) AS cos
      FROM corpus c CROSS JOIN ev e
    ), best AS (
      SELECT vec_id, eval_id AS nearest_eval_id, cos AS max_eval_cos
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY cos DESC, eval_id) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT vec_id, max_eval_cos, CAST(nearest_eval_id AS BIGINT)
             AS nearest_eval_id,
           (max_eval_cos >= {_SEMDECON_THRESHOLD}) AS contaminated
    FROM best
    """,
)
def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max cosine of every training vector against the broadcast eval
    set, with the argmax eval id and the drop verdict — the
    paraphrase-robust complement of n-gram decontamination.  O(corpus x
    |eval|) exact cosines, which is the RIGHT plan while the eval set
    is small; an LSH prefilter (lsh_band_candidates) is the documented
    swap-in when it is not."""
    from pyspark.sql import Window

    from .functions.vectors import cosine

    emb = load(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") < _SEMDECON_EVAL_N).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("ev")
    )
    corpus = emb.filter(F.col("vec_id") >= _SEMDECON_EVAL_N)
    scored = corpus.crossJoin(F.broadcast(ev)).select(
        "vec_id",
        "eval_id",
        F.round(cosine(F.col("embedding"), F.col("ev")), 4).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("eval_id"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "vec_id",
            F.col("cos").alias("max_eval_cos"),
            F.col("eval_id").cast("long").alias("nearest_eval_id"),
            (F.col("cos") >= F.lit(_SEMDECON_THRESHOLD)).alias("contaminated"),
        )
    )


# Audio fingerprint dedup across sample rates — the phash story for
# audio: energy-delta fingerprints, banded hamming candidates, exact
# verify, components.  Same VALUES-pin + independent-cross-validation
# gate as the other media queries.
@register(
    "audio_fingerprint_dedup",
    """
    SELECT CAST(media_id AS BIGINT) AS media_id, CAST(afp AS BIGINT) AS afp,
           CAST(group_label AS BIGINT) AS group_label,
           CAST(n_members AS BIGINT) AS n_members
    FROM (VALUES
      (1, 7140711444654427763, 1, 2),
      (4, 6239372957436177226, 4, 1),
      (7, 5519611703332123443, 7, 2),
      (10, 7188804674706182031, 10, 2),
      (13, 1317785419383991734, 13, 2),
      (16, 892588913385159118, 16, 2),
      (19, 3254250172847396532, 19, 2),
      (22, 3689334740992969932, 22, 2),
      (25, 1026326193516591160, 25, 1),
      (28, 7823396552410174029, 28, 2),
      (31, 3570338130074060345, 31, 2),
      (34, 6544458911140620651, 34, 2),
      (37, 5534023277088446771, 37, 2),
      (40, 8133749295926199235, 40, 1),
      (43, 6587801198086810770, 43, 2),
      (46, 5634439036998457575, 46, 1),
      (49, 2714876080633303766, 49, 2),
      (52, 1851880166828435046, 52, 2),
      (55, 1085102588260400700, 55, 2),
      (58, 2655835780814396268, 58, 2),
      (61, 4165321193259066136, 61, 2),
      (1001, 7140711444654427763, 1, 2),
      (1004, 6238811104846891850, 1004, 1),
      (1007, 5519611703332123443, 7, 2),
      (1010, 4882966063538997135, 10, 2),
      (1013, 3623487691109322166, 13, 2),
      (1016, 892584532519039438, 16, 2),
      (1019, 3254215057194784436, 19, 2),
      (1022, 3689334740993101004, 22, 2),
      (1025, 2179210177293334648, 1025, 1),
      (1028, 7904460795947029069, 28, 2),
      (1031, 8326139336579401273, 31, 2),
      (1034, 6544458911140620651, 34, 2),
      (1037, 5534023208368970003, 37, 2),
      (1040, 8205806881374061511, 1040, 1),
      (1043, 1976396654367698066, 43, 2),
      (1046, 5653016316473718983, 1046, 1),
      (1049, 2714871682586792662, 49, 2),
      (1052, 1815851369809471078, 52, 2),
      (1055, 1085120180446436924, 55, 2),
      (1058, 2637822481815493484, 58, 2),
      (1061, 4165321193259066136, 61, 2)
    ) AS t(media_id, afp, group_label, n_members)
    """,
)
def audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Originals plus their 16 kHz resampled copies (ids +1000)
    fingerprint, band-pair (hamming <= 8), and group — each original
    should land in one cluster with its resampled copy.  Scale shape
    identical to image_phash_dedup: narrow Arrow maps, band-bucket
    candidates, components on the tiny pair set."""
    from .operators.multimodal import (
        audio_fingerprint,
        phash_candidate_pairs,
        resample_audio,
        synthetic_media,
    )

    media = synthetic_media(spark, 64)
    originals = media.filter(F.col("modality") == "audio").select(
        "media_id", F.lit("audio").alias("modality"), "payload"
    )
    resampled = resample_audio(media, target_rate=16000).select(
        (F.col("media_id") + 1000).alias("media_id"),
        F.lit("audio").alias("modality"),
        "payload",
    )
    # materialize the codec output once (catalog-sized): it feeds the
    # pair generator (consumed eagerly inside connected_components) AND
    # the final labeled join — unchecked, the decode runs twice.
    fps = audio_fingerprint(originals.unionByName(resampled)).localCheckpoint(
        eager=True
    )
    pairs = phash_candidate_pairs(
        fps, id_col="media_id", hash_col="afp", max_hamming=8
    )
    comp = dedup.connected_components(pairs)
    labeled = fps.join(comp, fps["media_id"] == comp["node"], "left").select(
        "media_id",
        "afp",
        F.coalesce("label", F.col("media_id")).cast("long").alias("group_label"),
    )
    sizes = labeled.groupBy(F.col("group_label").alias("gl")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return labeled.join(sizes, F.col("group_label") == F.col("gl")).select(
        "media_id",
        "afp",
        "group_label",
        F.col("n_members").cast("long").alias("n_members"),
    )


# ---------------------------------------------------------------------------
# Binary-hash ANN: sign-bit sketches + Hamming scan, then cosine rerank.
# The ITQ / Hamming-embedding two-stage pattern: 64 floats (512 B) pack
# to 8 B, the recall stage is integer XOR+POPCNT, and the float fold
# runs only on the shortlist.  Both stages deterministic and
# value-hash-verifiable (integer distances, id tie-breaks).
# ---------------------------------------------------------------------------

_SIGN_PACK_SQL = """
    u AS (
      SELECT vec_id, unnest(embedding) AS e,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ), p AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN i <= 32 AND e >= 0
                           THEN (1::BIGINT << (i - 1)) ELSE 0 END) AS BIGINT) AS w_lo,
             CAST(SUM(CASE WHEN i > 32 AND e >= 0
                           THEN (1::BIGINT << (i - 33)) ELSE 0 END) AS BIGINT) AS w_hi
      FROM u GROUP BY vec_id
    )
"""


@register(
    "ann_hamming_topk",
    f"""
    WITH {_SIGN_PACK_SQL},
    q AS (
      SELECT vec_id AS query_id, w_lo AS q_lo, w_hi AS q_hi FROM p
      WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})
    ), scored AS (
      SELECT q.query_id, p.vec_id AS neighbor_id,
             CAST(bit_count(xor(p.w_lo, q.q_lo))
                  + bit_count(xor(p.w_hi, q.q_hi)) AS BIGINT) AS hamming
      FROM p CROSS JOIN q WHERE p.vec_id <> q.query_id
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, hamming, rk FROM ranked WHERE rk <= 5
    """,
)
def ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.hamming_topk(
        load(spark, sf_dir, "embeddings"), _ANN_QUERY_IDS, k=5
    )


@register(
    "ann_hamming_rerank",
    f"""
    WITH {_SIGN_PACK_SQL},
    q AS (
      SELECT vec_id AS query_id, w_lo AS q_lo, w_hi AS q_hi FROM p
      WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})
    ), scored AS (
      SELECT q.query_id, p.vec_id AS neighbor_id,
             CAST(bit_count(xor(p.w_lo, q.q_lo))
                  + bit_count(xor(p.w_hi, q.q_hi)) AS BIGINT) AS hamming
      FROM p CROSS JOIN q WHERE p.vec_id <> q.query_id
    ), short AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY hamming, neighbor_id) AS hrk
        FROM scored
      ) WHERE hrk <= 20
    ), qv AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})
    ), rescored AS (
      SELECT s.query_id, s.neighbor_id, s.hamming,
             ROUND(list_cosine_similarity(
               qv.qv, CAST(e.embedding AS DOUBLE[])), 4) AS cos
      FROM short s
      JOIN embeddings e ON e.vec_id = s.neighbor_id
      JOIN qv ON qv.query_id = s.query_id
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM rescored
    )
    SELECT query_id, neighbor_id, hamming, cos, rk FROM ranked WHERE rk <= 5
    """,
)
def ann_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.hamming_rerank_topk(
        load(spark, sf_dir, "embeddings"), _ANN_QUERY_IDS, k=5, shortlist=20
    )


# Reliability-diagram / ECE table: hard-sigmoid confidence of the
# hashed classifier vs the Gopher gate's labels, logit-decile bins,
# all floor-divided ppm integers (Spark `div` == DuckDB `//` on the
# non-negative operands used).  Composes the two registered oracles.
@register(
    "classifier_calibration",
    """
    WITH gate AS ({GOPHER}),
         ft AS ({FT}),
    j AS (
      SELECT f.doc_id, f.logit_e3, g.pass_gate,
             GREATEST(0::BIGINT, LEAST(3000000::BIGINT,
                      1500000 + f.logit_e3 * 500)) AS c3
      FROM ft f JOIN gate g ON g.doc_id = f.doc_id
    ), r AS (
      SELECT *, ntile(10) OVER (ORDER BY logit_e3, doc_id) AS bin FROM j
    ), per AS (
      SELECT bin, COUNT(*) AS n_docs,
             SUM(CASE WHEN pass_gate THEN 1 ELSE 0 END) AS n_pos,
             SUM(c3) AS sum_c3
      FROM r GROUP BY bin
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(sum_c3 // (3 * n_docs) AS BIGINT) AS conf_ppm,
           CAST((1000000 * n_pos) // n_docs AS BIGINT) AS acc_ppm,
           CAST(abs(sum_c3 // (3 * n_docs)
                    - (1000000 * n_pos) // n_docs) AS BIGINT) AS gap_ppm
    FROM per
    """.replace("{GOPHER}", _ORACLES["gopher_quality_gate"])
       .replace("{FT}", _ORACLES["fasttext_hash_score"]),
)
def classifier_calibration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.classifier_calibration(
        load(spark, sf_dir, "documents"), "doc_id", "text", n_bins=10
    )


# CCNet perplexity bucketing: head/middle/tail terciles of the
# Kneser-Ney perplexity ranking.  Composes the registered KN oracle;
# ntile(3) over the identical (rounded ppl, doc_id) total order
# mirrors the engine's distributed integer ntile exactly.
@register(
    "perplexity_buckets",
    """
    WITH kn AS ({KN}),
    r AS (
      SELECT doc_id, n_bigrams, perplexity,
             row_number() OVER (
               ORDER BY perplexity ASC NULLS LAST, doc_id) AS ppl_rank,
             ntile(3) OVER (
               ORDER BY perplexity ASC NULLS LAST, doc_id) AS tile
      FROM kn
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, perplexity,
           CAST(ppl_rank AS BIGINT) AS ppl_rank,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket
    FROM r
    """.replace("{KN}", _ORACLES["kneser_ney_perplexity"]),
)
def perplexity_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.perplexity_buckets(
        load(spark, sf_dir, "documents"), "doc_id", "text", n_buckets=3
    )


# RLHF/DPO preference pairs: within each (source, lang) "prompt"
# group, pair i-th best with i-th worst hashed-classifier score and
# keep margins >= 100 (0.1 in logit units).  Bottom rank is the exact
# reverse of the top rank, so pairs are distinct rows by construction.
@register(
    "preference_pairs",
    """
    WITH ft AS ({FT}),
    s AS (
      SELECT d.source, d.lang, d.doc_id, f.logit_e3
      FROM documents d JOIN ft f USING (doc_id)
    ), r AS (
      SELECT *,
             row_number() OVER (PARTITION BY source, lang
                                ORDER BY logit_e3 DESC, doc_id ASC) AS rt,
             row_number() OVER (PARTITION BY source, lang
                                ORDER BY logit_e3 ASC, doc_id DESC) AS rb,
             COUNT(*) OVER (PARTITION BY source, lang) AS n
      FROM s
    )
    SELECT a.source, a.lang, CAST(a.rt AS BIGINT) AS pair_idx,
           a.doc_id AS chosen_id, b.doc_id AS rejected_id,
           CAST(a.logit_e3 AS BIGINT) AS chosen_score_e3,
           CAST(b.logit_e3 AS BIGINT) AS rejected_score_e3,
           CAST(a.logit_e3 - b.logit_e3 AS BIGINT) AS margin_e3
    FROM r a JOIN r b
      ON a.source = b.source AND a.lang = b.lang AND b.rb = a.rt
    WHERE 2 * a.rt <= a.n AND a.logit_e3 - b.logit_e3 >= 100
    """.replace("{FT}", _ORACLES["fasttext_hash_score"]),
)
def preference_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    scored = textstats.hashed_linear_score(docs, "doc_id", "text").select(
        "doc_id", "logit_e3"
    )
    cands = docs.select("doc_id", "source", "lang").join(scored, "doc_id")
    return sampling.preference_pairs(
        cands, "doc_id", "logit_e3", ["source", "lang"], min_margin=100
    )


# Dedup-aware split: whole near-dup components assigned to train/test
# (the leakage fix for per-document splits).  Composes the registered
# connected-components oracle; singletons label themselves.
@register(
    "dedup_aware_split",
    """
    WITH cc AS ({CC}),
    a AS (
      SELECT d.doc_id,
             CAST(COALESCE(c.label, d.doc_id) AS BIGINT) AS component
      FROM documents d LEFT JOIN cc c ON c.node = d.doc_id
    )
    SELECT doc_id, component,
           CASE WHEN substring(md5(CAST(component AS VARCHAR)), 1, 2) < '1a'
                THEN 'test' ELSE 'train' END AS split
    FROM a
    """.replace("{CC}", _ORACLES["dedup_components"]),
)
def dedup_aware_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, "doc_id", "text", num_hashes=_MINHASH_K
    )
    pairs = dedup.lsh_candidate_pairs(
        sigs, "doc_id", num_hashes=_MINHASH_K, bands=4
    )
    return dedup.component_aware_split(docs, pairs, "doc_id")


# Micro-averaged self-BLEU-2 over a deterministic hash-ordered sample:
# the synthetic-data diversity audit.  All-integer ppm output.
@register(
    "self_bleu_diversity",
    """
    WITH s AS (
      SELECT doc_id, lower(text) AS t FROM documents
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 50
    ), lst AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(t, '\\s+'), x -> x <> '') AS ts
      FROM s
    ), tok AS (
      SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS pos
      FROM lst
    ), bi AS (
      SELECT doc_id, w,
             lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
      FROM tok
    ), g AS (
      SELECT doc_id, concat_ws(' ', w, w1) AS g, COUNT(*) AS c
      FROM bi WHERE w1 IS NOT NULL GROUP BY 1, 2
    ), nb AS (
      SELECT doc_id, SUM(c) AS n_bigrams FROM g GROUP BY doc_id
    ), sc AS (SELECT COUNT(*) AS s FROM s),
    cl AS (
      SELECT a.doc_id, SUM(LEAST(a.c, b.c)) AS sum_clipped
      FROM g a JOIN g b ON a.g = b.g AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id
    )
    SELECT s.doc_id,
           CAST(COALESCE(nb.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(cl.sum_clipped, 0) AS BIGINT) AS sum_clipped,
           CAST(CASE WHEN COALESCE(nb.n_bigrams, 0) > 0 AND sc.s > 1
                     THEN (1000000 * COALESCE(cl.sum_clipped, 0))
                          // ((sc.s - 1) * nb.n_bigrams)
                     ELSE 0 END AS BIGINT) AS selfbleu_ppm
    FROM s LEFT JOIN nb USING (doc_id) LEFT JOIN cl USING (doc_id)
    CROSS JOIN sc
    """,
)
def self_bleu_diversity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.self_bleu_diversity(
        load(spark, sf_dir, "documents"), "doc_id", "text", sample_size=50
    )


# Hardness-proportional domain reweighting (the DoReMi excess-loss
# signal, one linear step): composes the KN oracle; integer-exact.
@register(
    "domain_hardness_weights",
    """
    WITH kn AS ({KN}),
    sc AS (
      SELECT d.source,
             CASE WHEN kn.cross_entropy IS NOT NULL
                  THEN CAST(ROUND(kn.cross_entropy * 10000) AS BIGINT)
             END AS ce_e4
      FROM documents d JOIN kn ON kn.doc_id = d.doc_id
    ), per AS (
      SELECT source, COUNT(*) AS n_docs, COUNT(ce_e4) AS n_scored,
             COALESCE(SUM(ce_e4), 0) AS sum_ce
      FROM sc GROUP BY source
    ), tot AS (
      SELECT COALESCE(SUM(ce_e4), 0) AS tot_ce, COUNT(ce_e4) AS tot_n
      FROM sc
    ), w AS (
      SELECT source, n_docs, n_scored,
             CASE WHEN n_scored > 0 THEN sum_ce // n_scored
                  WHEN tot_n > 0 THEN tot_ce // tot_n ELSE 0 END AS mean_ce_e4,
             CASE WHEN tot_n > 0 THEN tot_ce // tot_n ELSE 0 END AS overall_e4
      FROM per CROSS JOIN tot
    ), e AS (
      SELECT source, n_docs, n_scored, mean_ce_e4,
             GREATEST(mean_ce_e4 - overall_e4, 0) AS excess_e4,
             GREATEST(GREATEST(mean_ce_e4 - overall_e4, 0), 1) AS raw
      FROM w
    ), tr AS (SELECT SUM(raw) AS tot_raw FROM e)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_scored AS BIGINT) AS n_scored,
           CAST(mean_ce_e4 AS BIGINT) AS mean_ce_e4,
           CAST(excess_e4 AS BIGINT) AS excess_e4,
           CAST((1000000 * raw) // tot_raw AS BIGINT) AS weight_ppm
    FROM e CROSS JOIN tr
    """.replace("{KN}", _ORACLES["kneser_ney_perplexity"]),
)
def domain_hardness_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.domain_hardness_weights(
        load(spark, sf_dir, "documents"), "doc_id", "text", "source"
    )


def _pii_recall_oracle() -> str:
    """Replays the planted-PII audit: same id-derived plants (STRING ->
    VARCHAR is the only dialect delta), same scrub chain, per-class
    UNION ALL aggregates, floor-divided recall."""
    from .functions.text import PII_PATTERNS
    from .operators.textstats import PII_PLANT_SQL

    idc = "CAST(doc_id AS BIGINT)"
    plant = {
        k: v.format(id=idc).replace("AS STRING", "AS VARCHAR")
        for k, v in PII_PLANT_SQL.items()
    }
    pt = (
        "concat(text, ' contact ', {email}, ' id ', {ssn}, ' tel ', "
        "{phone}, ' at ', {ip})".format(**plant)
    )
    sc = "pt"
    for _, pat, repl in PII_PATTERNS:
        sc = f"regexp_replace({sc}, '{pat}', '{repl}', 'g')"
    rows = []
    for name, pat, repl in PII_PATTERNS:
        rows.append(
            f"""
      SELECT '{name}' AS pii_class, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_extract_all(pt, '{pat}'))) AS BIGINT) AS n_before,
             CAST(SUM(len(regexp_extract_all(sc, '{pat}'))) AS BIGINT) AS n_survived,
             CAST(SUM(len(regexp_extract_all(sc, '{repl}'))) AS BIGINT) AS n_placeholders
      FROM s"""
        )
    union = "\n      UNION ALL\n".join(rows)
    return f"""
    WITH s1 AS (SELECT {pt} AS pt FROM documents),
    s AS (SELECT pt, {sc} AS sc FROM s1),
    per AS ({union})
    SELECT pii_class, n_docs, n_before, n_survived, n_placeholders,
           CAST(CASE WHEN n_before > 0
                THEN (1000000 * (n_before - n_survived)) // n_before
                ELSE 1000000 END AS BIGINT) AS recall_ppm
    FROM per
    """


@register("pii_scrub_recall", _pii_recall_oracle())
def pii_scrub_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PII scrub RECALL table (pii_scrub_v2's per-doc
    audit rolled up to the per-class eval a privacy review reads):
    plants one id-derived item of every class per doc, runs the real
    scrub chain, reports matches before/after + placeholders +
    floor-divided recall_ppm."""
    return textstats.pii_scrub_recall(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


# Next-event-prediction examples from the event log (sequential-
# recommendation data format): per user, '>'-joined previous 3 event
# types -> current type, total-ordered by (ts, event_id).
@register(
    "event_sequence_examples",
    """
    WITH r AS (
      SELECT user_id, event_id, event_type,
             lag(event_type, 3) OVER w AS c1,
             lag(event_type, 2) OVER w AS c2,
             lag(event_type, 1) OVER w AS c3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id, concat_ws('>', c1, c2, c3) AS context,
           event_type AS target
    FROM r WHERE c1 IS NOT NULL
    """,
)
def event_sequence_examples_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.event_sequence_examples(
        load(spark, sf_dir, "events"), context=3
    )


# RAG context assembly: BM25 top-20 greedily packed into a 256-token
# budget in rank order (prefix rule).  Composes the BM25 oracle.
@register(
    "rag_context_pack",
    """
    WITH bm AS ({BM25}),
    lens AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT bm.doc_id, bm.score, lens.n_tokens,
             row_number() OVER (ORDER BY score DESC, bm.doc_id) AS rank,
             SUM(lens.n_tokens) OVER (
               ORDER BY score DESC, bm.doc_id ROWS UNBOUNDED PRECEDING
             ) AS cum_tokens
      FROM bm JOIN lens USING (doc_id)
    )
    SELECT doc_id, CAST(rank AS BIGINT) AS rank, score,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           cum_tokens <= 256 AS included
    FROM r
    """.replace("{BM25}", _ORACLES["ranked_search_bm25"]),
)
def rag_context_pack_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.rag_context_pack(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        _SEARCH_KEYWORDS,
        k=20,
        token_budget=256,
    )


# Classifier-threshold yield curve: per score decile, doc/token yield
# + cumulative from the top — pick the threshold that fits the budget.
@register(
    "quality_threshold_yield",
    """
    WITH ft AS ({FT}),
    lens AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x <> '')) AS nt
      FROM documents
    ),
    j AS (
      SELECT f.doc_id, f.logit_e3, lens.nt
      FROM ft f JOIN lens USING (doc_id)
    ),
    r AS (
      SELECT *, ntile(10) OVER (ORDER BY logit_e3 DESC, doc_id) AS decile
      FROM j
    ),
    per AS (
      SELECT decile, COUNT(*) AS n_docs, SUM(nt) AS n_tokens,
             MIN(logit_e3) AS min_logit
      FROM r GROUP BY decile
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(min_logit AS BIGINT) AS min_logit_e3,
           CAST(SUM(n_docs) OVER (
             ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
           CAST(SUM(n_tokens) OVER (
             ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
    FROM per
    """.replace("{FT}", _ORACLES["fasttext_hash_score"]),
)
def quality_threshold_yield_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_threshold_yield(
        load(spark, sf_dir, "documents"), "doc_id", "text", n_tiles=10
    )


def _encoding_repair_oracle() -> str:
    """Replays the mojibake audit: same fixed plant, same repair chain
    (DuckDB literal replace == Spark literal regexp_replace), per-class
    UNION ALL aggregates."""
    from .functions.text import MOJIBAKE_MAP
    from .operators.textstats import MOJIBAKE_PLANT

    rc = "pt"
    for bad, good in MOJIBAKE_MAP:
        rc = f"replace({rc}, '{bad}', '{good}')"
    rows = []
    for bad, good in MOJIBAKE_MAP:
        rows.append(
            f"""
      SELECT '{bad}' AS artifact, '{good}' AS repaired_to,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_extract_all(pt, '{bad}'))) AS BIGINT) AS n_before,
             CAST(SUM(len(regexp_extract_all(rc, '{bad}'))) AS BIGINT) AS n_survived,
             CAST(SUM(len(regexp_extract_all(rc, '{good}'))) AS BIGINT) AS n_glyphs_after
      FROM s"""
        )
    union = "\n      UNION ALL\n".join(rows)
    return f"""
    WITH s1 AS (SELECT concat(text, '{MOJIBAKE_PLANT}') AS pt FROM documents),
    s AS (SELECT pt, {rc} AS rc FROM s1),
    per AS ({union})
    SELECT artifact, repaired_to, n_docs, n_before, n_survived,
           n_glyphs_after,
           CAST(CASE WHEN n_before > 0
                THEN (1000000 * (n_before - n_survived)) // n_before
                ELSE 1000000 END AS BIGINT) AS recall_ppm
    FROM per
    """


@register("encoding_repair_audit", _encoding_repair_oracle())
def encoding_repair_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-lite mojibake repair, measured: planted double-encoding
    artifacts through the production repair chain, per-class recall."""
    return textstats.encoding_repair_audit(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


# IVF index-health audit: per-cell population/share/load vs the
# balanced mean, on the exact assignment rule ann_ivf_topk queries.
@register(
    "ann_cell_balance",
    f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < {_IVF_CENTROIDS}
    ), scored AS (
      SELECT e.vec_id, c.centroid_id,
             ROUND(list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]), c.cv), 6) AS ccos
      FROM embeddings e CROSS JOIN cents c
    ), assigned AS (
      SELECT vec_id, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored) WHERE rk = 1
    ), per AS (
      SELECT cell, COUNT(*) AS n_vecs FROM assigned GROUP BY cell
    ), tot AS (SELECT SUM(n_vecs) AS t FROM per)
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST((1000000 * n_vecs) // t AS BIGINT) AS share_ppm,
           CAST((100 * n_vecs * {_IVF_CENTROIDS}) // t AS BIGINT)
             AS load_pct_of_mean
    FROM per CROSS JOIN tot
    """,
)
def ann_cell_balance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_cell_stats(
        load(spark, sf_dir, "embeddings"), n_centroids=_IVF_CENTROIDS
    )


# Dedup cluster-size histogram (+ singleton row) over the MinHash-LSH
# component graph — the distribution behind dedup_yield_report.
@register(
    "dedup_cluster_histogram",
    """
    WITH cc AS ({CC}),
    sizes AS (SELECT label, COUNT(*) AS sz FROM cc GROUP BY label),
    hist AS (
      SELECT sz AS cluster_size, COUNT(*) AS n_clusters
      FROM sizes GROUP BY sz
    ),
    np AS (SELECT COUNT(*) AS np FROM cc),
    nt AS (SELECT COUNT(*) AS nt FROM documents),
    alls AS (
      SELECT cluster_size, n_clusters FROM hist
      UNION ALL
      SELECT 1, nt - np FROM nt CROSS JOIN np WHERE nt - np > 0
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(n_clusters AS BIGINT) AS n_clusters,
           CAST(cluster_size * n_clusters AS BIGINT) AS n_docs
    FROM alls
    """.replace("{CC}", _ORACLES["dedup_components"]),
)
def dedup_cluster_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, "doc_id", "text", num_hashes=_MINHASH_K
    )
    pairs = dedup.lsh_candidate_pairs(
        sigs, "doc_id", num_hashes=_MINHASH_K, bands=4
    )
    return dedup.component_size_histogram(docs, pairs, "doc_id")


def _shard_manifest_agg(docs: DataFrame) -> DataFrame:
    """(shard, n_docs, content_digest) — the corpus_manifest digest
    columns, reused by the version diff below."""
    return docs.groupBy(F.pmod("doc_id", F.lit(8)).alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr(
            "bit_xor(cast(conv(substring(md5(concat(cast(doc_id as string),"
            " '|', text)), 1, 15), 16, 10) as bigint))"
        ).alias("content_digest"),
    )


_MANIFEST_DIGEST_SQL = (
    "CAST(bit_xor(('0x' || substring(md5(CAST(doc_id AS VARCHAR)"
    " || '|' || text), 1, 15))::BIGINT) AS BIGINT)"
)


# Corpus version diff via shard manifests: two deterministic synthetic
# versions (deletions: doc_id % 11 == 0 removed; edits: doc_id % 13
# == 0 get a revision marker) compared by 8 digest rows instead of a
# row-level diff — the corpus_manifest use case, closed end-to-end.
@register(
    "corpus_manifest_diff",
    f"""
    WITH old AS (
      SELECT shard, COUNT(*) AS n_docs, {_MANIFEST_DIGEST_SQL} AS dg
      FROM (SELECT doc_id % 8 AS shard, doc_id, text FROM documents
            WHERE doc_id % 11 <> 0)
      GROUP BY shard
    ), new AS (
      SELECT shard, COUNT(*) AS n_docs, {_MANIFEST_DIGEST_SQL} AS dg
      FROM (SELECT doc_id % 8 AS shard, doc_id,
                   CASE WHEN doc_id % 13 = 0 THEN text || ' rev2'
                        ELSE text END AS text
            FROM documents)
      GROUP BY shard
    )
    SELECT CAST(COALESCE(o.shard, n.shard) AS BIGINT) AS shard,
           CAST(COALESCE(o.n_docs, 0) AS BIGINT) AS n_docs_old,
           CAST(COALESCE(n.n_docs, 0) AS BIGINT) AS n_docs_new,
           o.dg AS digest_old, n.dg AS digest_new,
           (o.dg IS DISTINCT FROM n.dg
            OR COALESCE(o.n_docs, 0) <> COALESCE(n.n_docs, 0)) AS changed
    FROM old o FULL OUTER JOIN new n ON o.shard = n.shard
    """,
)
def corpus_manifest_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    old = _shard_manifest_agg(docs.filter(F.pmod("doc_id", F.lit(11)) != 0))
    new = _shard_manifest_agg(
        docs.withColumn(
            "text",
            F.when(
                F.pmod("doc_id", F.lit(13)) == 0,
                F.concat(F.col("text"), F.lit(" rev2")),
            ).otherwise(F.col("text")),
        )
    )
    o = old.select(
        F.col("shard").alias("o_shard"),
        F.col("n_docs").alias("n_docs_old"),
        F.col("content_digest").alias("digest_old"),
    )
    n = new.select(
        F.col("shard").alias("n_shard"),
        F.col("n_docs").alias("n_docs_new"),
        F.col("content_digest").alias("digest_new"),
    )
    return o.join(n, o["o_shard"] == n["n_shard"], "full_outer").select(
        F.coalesce("o_shard", "n_shard").cast("long").alias("shard"),
        F.coalesce("n_docs_old", F.lit(0)).cast("long").alias("n_docs_old"),
        F.coalesce("n_docs_new", F.lit(0)).cast("long").alias("n_docs_new"),
        "digest_old",
        "digest_new",
        (
            ~F.col("digest_old").eqNullSafe(F.col("digest_new"))
            | (
                F.coalesce("n_docs_old", F.lit(0))
                != F.coalesce("n_docs_new", F.lit(0))
            )
        ).alias("changed"),
    )


# Corpus datacard ("datasheets for datasets" summary row): size, lang
# mix, quality-gate pass rate, exact-dup rate, PII density — the
# one-row artifact a dataset release ships, composed from audits that
# are each oracle-checked standalone.  All integer/ppm arithmetic.
@register(
    "corpus_datacard",
    """
    WITH gate AS ({GOPHER}),
    base AS (
      SELECT COUNT(*) AS n_docs,
             SUM(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                 x -> x <> ''))) AS n_tokens,
             COUNT(DISTINCT md5(text)) AS n_distinct,
             COUNT(DISTINCT source) AS n_sources,
             COUNT(DISTINCT lang) AS n_langs,
             SUM(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')))
               AS n_emails
      FROM documents
    ),
    top AS (
      SELECT lang AS top_lang, COUNT(*) AS top_n FROM documents
      GROUP BY lang ORDER BY COUNT(*) DESC, lang LIMIT 1
    ),
    g AS (
      SELECT SUM(CASE WHEN pass_gate THEN 1 ELSE 0 END) AS n_pass
      FROM gate
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens // n_docs AS BIGINT) AS mean_doc_tokens,
           CAST(n_sources AS BIGINT) AS n_sources,
           CAST(n_langs AS BIGINT) AS n_langs,
           top_lang,
           CAST((1000000 * top_n) // n_docs AS BIGINT) AS top_lang_share_ppm,
           CAST((1000000 * n_pass) // n_docs AS BIGINT) AS gate_pass_ppm,
           CAST((1000000 * (n_docs - n_distinct)) // n_docs AS BIGINT)
             AS exact_dup_ppm,
           CAST((1000000 * n_emails) // n_docs AS BIGINT)
             AS emails_per_mdoc
    FROM base CROSS JOIN top CROSS JOIN g
    """.replace("{GOPHER}", _ORACLES["gopher_quality_gate"]),
)
def corpus_datacard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus datacard.  Scale shape: one corpus scan for the
    base aggregates (count-distincts are hash partial-aggs), the
    shared Gopher gate plan for the pass rate, a 5-row lang top-1 —
    every piece a broadcast-sized single row crossJoined at the end."""
    from .functions.text import tokens as _tokens

    docs = load(spark, sf_dir, "documents")
    base = F.broadcast(
        docs.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(_tokens("text"))).alias("n_tokens"),
            F.count_distinct(F.md5("text")).alias("n_distinct"),
            F.count_distinct("source").alias("n_sources"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum(
                F.regexp_count(
                    F.col("text"),
                    F.lit(
                        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
                    ),
                )
            ).alias("n_emails"),
        )
    )
    top = F.broadcast(
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("top_n"))
        .orderBy(F.desc("top_n"), F.asc("lang"))
        .limit(1)
        .select(F.col("lang").alias("top_lang"), "top_n")
    )
    gate = F.broadcast(
        textstats.gopher_quality_gate(docs, "doc_id", "text").agg(
            F.sum(F.when(F.col("pass_gate"), 1).otherwise(0)).alias("n_pass")
        )
    )
    return (
        base.crossJoin(top)
        .crossJoin(gate)
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.expr("n_tokens div n_docs").cast("long").alias("mean_doc_tokens"),
            F.col("n_sources").cast("long").alias("n_sources"),
            F.col("n_langs").cast("long").alias("n_langs"),
            "top_lang",
            F.expr("(1000000 * top_n) div n_docs")
            .cast("long")
            .alias("top_lang_share_ppm"),
            F.expr("(1000000 * n_pass) div n_docs")
            .cast("long")
            .alias("gate_pass_ppm"),
            F.expr("(1000000 * (n_docs - n_distinct)) div n_docs")
            .cast("long")
            .alias("exact_dup_ppm"),
            F.expr("(1000000 * n_emails) div n_docs")
            .cast("long")
            .alias("emails_per_mdoc"),
        )
    )


# Streaming twin of event_sequence_examples: per-user bounded TAIL
# store (the applyInPandasWithState shape via the parquet-store
# protocol), two time-ordered micro-batches.  Because batches arrive
# in (ts, event_id) order, the streamed examples must equal the batch
# operator over the same 2000-event log — which is exactly what the
# oracle computes, so the tail protocol is value-hash-gated.
@register(
    "streaming_sequence_examples",
    """
    WITH base AS (
      SELECT event_id, ts, user_id, event_type FROM events
      ORDER BY ts, event_id LIMIT 2000
    ), r AS (
      SELECT user_id, event_id, event_type,
             lag(event_type, 3) OVER w AS c1,
             lag(event_type, 2) OVER w AS c2,
             lag(event_type, 1) OVER w AS c3
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id, concat_ws('>', c1, c2, c3) AS context,
           event_type AS target
    FROM r WHERE c1 IS NOT NULL
    """,
)
def streaming_sequence_examples_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-example generation AS A STREAM (streaming/sequences.py):
    batch 1 = the first 1000 events in (ts, event_id) order, batch 2 =
    the next 1000.  Users straddling the boundary exercise the tail
    store — their first batch-2 examples draw context from batch-1
    events that only survive in the per-user tail.  HARD-gated against
    the batch-semantics oracle (time-ordered batches make streaming ==
    batch exactly); crash-replay idempotency and tail compaction are
    pytest-pinned (tests/test_streaming_sequences.py)."""
    import os
    import tempfile

    from .streaming.sequences import start_sequence_examples_stream

    ev = (
        load(spark, sf_dir, "events")
        .orderBy("ts", "event_id")
        .limit(2000)
        .select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
        )
        .localCheckpoint(eager=True)
    )
    w = Window.orderBy(F.asc("ts_us"), F.asc("event_id"))
    ranked = ev.withColumn("_rn", F.row_number().over(w))
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        os.makedirs(src)
        ranked.filter(F.col("_rn") <= 1000).drop("_rn").coalesce(
            1
        ).write.json(f"{src}/b0")
        ranked.filter(F.col("_rn") > 1000).drop("_rn").coalesce(
            1
        ).write.json(f"{src}/b1")
        now = 1_700_000_000
        for i, sub in enumerate(["b0", "b1"]):
            for fn in os.listdir(f"{src}/{sub}"):
                os.utime(f"{src}/{sub}/{fn}", (now + i, now + i))
        stream = (
            spark.readStream.schema(
                "event_id LONG, ts_us LONG, user_id LONG, event_type STRING"
            )
            .option("maxFilesPerTrigger", 1)
            .json(f"{src}/b*")
            .select(
                "event_id",
                F.timestamp_micros("ts_us").alias("ts"),
                "user_id",
                "event_type",
            )
        )
        q = start_sequence_examples_stream(
            stream, f"{tmp}/corpus", f"{tmp}/store", f"{tmp}/ckpt"
        )
        q.awaitTermination(180)
        out = spark.read.parquet(f"{tmp}/corpus").select(
            "user_id", "event_id", "context", "target"
        )
        return out.localCheckpoint(eager=True)


# From-scratch HyperLogLog (m=64) over order custkeys — the sketch
# family's cardinality workhorse, with value-hash-checkable registers
# and an integer-exact harmonic denominator.
@register(
    "hll_distinct_custkeys",
    """
    WITH h AS (
      SELECT ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM orders
    ), hb AS (SELECT h % 64 AS bucket, h // 64 AS w FROM h),
    r AS (
      SELECT bucket,
             CASE WHEN w = 0 THEN 55
                  ELSE 55 - length(bin(w)) END AS rank
      FROM hb
    ),
    regs AS (
      SELECT gs.bucket, COALESCE(MAX(r.rank), 0) AS mj
      FROM (SELECT unnest(generate_series(0, 63)) AS bucket) gs
      LEFT JOIN r ON r.bucket = gs.bucket
      GROUP BY gs.bucket
    ),
    s AS (
      SELECT COUNT(*) AS m,
             SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS nz,
             SUM(1::BIGINT << (55 - mj)) AS s55
      FROM regs
    ),
    t AS (SELECT COUNT(DISTINCT o_custkey) AS td FROM orders)
    SELECT CAST(m AS BIGINT) AS m,
           CAST(nz AS BIGINT) AS n_zero_buckets,
           CAST(s55 AS BIGINT) AS s_55,
           ROUND(0.709 * 4096.0 * pow(2.0, 55) / s55, 2) AS hll_estimate,
           CAST(td AS BIGINT) AS true_distinct,
           CAST((1000000 * abs(CAST(ROUND(0.709 * 4096.0 * pow(2.0, 55)
                / s55, 0) AS BIGINT) - td)) // td AS BIGINT) AS err_ppm
    FROM s CROSS JOIN t
    """,
)
def hll_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.hll_distinct(load(spark, sf_dir, "orders"), "o_custkey")


# Frequency-filtered vocabulary coverage / per-doc OOV rate (the
# min_count rule) — the audit before freezing a tokenizer vocabulary.
@register(
    "vocab_coverage",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ), vocab AS (
      SELECT w FROM tok GROUP BY w HAVING COUNT(*) >= 5
    ), per AS (
      SELECT t.doc_id, COUNT(*) AS n_tokens,
             COUNT(*) FILTER (WHERE v.w IS NULL) AS n_oov
      FROM tok t LEFT JOIN vocab v ON v.w = t.w
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(per.n_oov, 0) AS BIGINT) AS n_oov,
           CAST(CASE WHEN COALESCE(per.n_tokens, 0) > 0
                THEN (1000000 * per.n_oov) // per.n_tokens
                ELSE 0 END AS BIGINT) AS oov_ppm
    FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
    """,
)
def vocab_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.vocab_coverage(
        load(spark, sf_dir, "documents"), "doc_id", "text", min_count=5
    )


# Purged/embargoed temporal split over the event log: train before
# Jan 22, a 2-day embargo gap, test from Jan 24 — per-split summary
# with a user-overlap leakage column (train-and-test users are the
# population the embargo gap protects).
@register(
    "embargo_time_split",
    """
    WITH a AS (
      SELECT event_id, user_id, ts,
             CASE WHEN ts < TIMESTAMP '2024-01-22 00:00:00' THEN 'train'
                  WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' THEN 'test'
                  ELSE 'embargo' END AS split
      FROM events
    ),
    ov AS (
      SELECT COUNT(*) AS n_overlap_users FROM (
        SELECT user_id FROM a WHERE split = 'train'
        INTERSECT
        SELECT user_id FROM a WHERE split = 'test'
      )
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           MIN(ts) AS min_ts, MAX(ts) AS max_ts,
           CAST(ov.n_overlap_users AS BIGINT) AS n_overlap_users
    FROM a CROSS JOIN ov
    GROUP BY split, ov.n_overlap_users
    """,
)
def embargo_time_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = relational.time_embargo_split(
        load(spark, sf_dir, "events"),
        "ts",
        "2024-01-22 00:00:00",
        "2024-01-24 00:00:00",
    )
    ov = F.broadcast(
        ev.filter(F.col("split") == "train")
        .select("user_id")
        .intersect(ev.filter(F.col("split") == "test").select("user_id"))
        .agg(F.count(F.lit(1)).alias("n_overlap_users"))
    )
    return (
        ev.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .crossJoin(ov)
        .select(
            "split",
            "n_events",
            "n_users",
            "min_ts",
            "max_ts",
            F.col("n_overlap_users").cast("long").alias("n_overlap_users"),
        )
    )


# Video keyframe near-dup detection: Y4M -> sampled frames -> aHash ->
# banded-hamming pairs -> components, reported as multi-frame groups
# with their cross-video reach — the video-dedup story (static scenes
# collapse within a video; shared/looped footage links videos).
# Oracle: VALUES pin captured from a verified run and re-verified for
# run-to-run stability; the underlying aHash is cross-validated by the
# independent decoders behind image_phash_dedup
# (tests/test_multimodal.py), so the pin inherits that provenance.
@register(
    "video_frame_dedup",
    """
    SELECT CAST(group_label AS BIGINT) AS group_label,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(n_videos AS BIGINT) AS n_videos
    FROM (VALUES
      (2000, 13, 3),
      (2002, 13, 3),
      (5000, 15, 3),
      (5001, 15, 3),
      (5002, 13, 3),
      (5003, 13, 3),
      (8000, 9, 2),
      (8001, 10, 3),
      (8002, 9, 2),
      (8003, 8, 2),
      (11000, 4, 2),
      (11001, 9, 2),
      (11002, 11, 2),
      (11003, 8, 2),
      (14000, 5, 2),
      (14001, 4, 1),
      (14002, 5, 2),
      (14003, 3, 1),
      (17000, 5, 1),
      (17001, 5, 1),
      (17002, 4, 1),
      (17003, 4, 1),
      (20000, 10, 2),
      (20001, 5, 1),
      (20002, 8, 2),
      (20003, 9, 2),
      (23000, 11, 2),
      (23001, 10, 2),
      (23002, 8, 2),
      (23003, 8, 2),
      (26001, 12, 2),
      (26003, 12, 2),
      (29000, 2, 1),
      (29001, 2, 1),
      (35000, 2, 1),
      (35001, 2, 1),
      (38000, 3, 1),
      (38002, 2, 1),
      (38007, 2, 2),
      (41000, 3, 1),
      (41001, 2, 1),
      (41002, 3, 1),
      (41003, 2, 1),
      (44002, 4, 1),
      (47008, 2, 1),
      (47011, 2, 1),
      (59000, 2, 1),
      (59002, 2, 1),
      (59003, 6, 1)) AS t(group_label, n_frames, n_videos)
    """,
)
def video_frame_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame ids are media_id*1000 + second (videos sample 1 fps), so
    `frame_id div 1000` recovers the source video; groups below 2
    members are singletons and omitted (they carry no dedup signal)."""
    from .operators.multimodal import (
        extract_frames,
        image_phash,
        phash_candidate_pairs,
        synthetic_media,
    )

    media = synthetic_media(spark, 64)
    frames = extract_frames(media, every_ms=1000)
    fr = frames.select(
        (F.col("media_id") * 1000
         + (F.col("frame_ts_ms") / 1000).cast("long")).alias("media_id"),
        F.lit("image").alias("modality"),
        "payload",
    )
    # materialize the frame-hash table once (frames-catalog-sized): it
    # feeds the pair generator (consumed eagerly inside
    # connected_components) AND the final labeled join — unchecked,
    # the frame-extract + decode chain runs twice.
    fps = image_phash(fr).localCheckpoint(eager=True)
    pairs = phash_candidate_pairs(
        fps, id_col="media_id", hash_col="phash", max_hamming=4
    )
    comp = dedup.connected_components(pairs)
    labeled = fps.join(comp, fps["media_id"] == comp["node"], "left").select(
        F.col("media_id").alias("frame_id"),
        F.coalesce("label", F.col("media_id")).cast("long").alias("group_label"),
    )
    return (
        labeled.groupBy("group_label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.count_distinct(F.expr("frame_id div 1000"))
            .cast("long")
            .alias("n_videos"),
        )
        .filter(F.col("n_frames") >= 2)
    )


# Shared winnowing CTE chain (MOSS, k=3, w=4): positional trigram
# hashes -> full-window rightmost-min selection -> distinct
# fingerprints.  Mirrors textstats.winnowing_fingerprints exactly
# (0-based positions, struct-min tie rule).
_WINNOW_SQL = """
    tok AS (
      SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS ts
            FROM documents)
    ), tri AS (
      SELECT doc_id, i - 1 AS pos,
             concat_ws(' ', w,
                       lead(w, 1) OVER (PARTITION BY doc_id ORDER BY i),
                       lead(w, 2) OVER (PARTITION BY doc_id ORDER BY i)) AS g,
             lead(w, 2) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM tok
    ), hashed AS (
      SELECT doc_id, pos,
             ('0x' || substring(md5(g), 1, 15))::BIGINT AS h
      FROM tri WHERE w2 IS NOT NULL
    ), sel AS (
      SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY doc_id) AS n,
             MIN({'h': h, 'np': -pos}) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
      FROM hashed
    ), fp AS (
      SELECT DISTINCT doc_id, -(m).np AS fpos, (m).h AS fhash
      FROM sel WHERE pos <= n - 4
    )
"""


@register(
    "winnowing_fingerprint_stats",
    f"""
    WITH {_WINNOW_SQL},
    nk AS (
      SELECT doc_id, COUNT(*) AS n_kgrams FROM hashed GROUP BY doc_id
    ), nf AS (
      SELECT doc_id, COUNT(*) AS n_fps FROM fp GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(nk.n_kgrams, 0) AS BIGINT) AS n_kgrams,
           CAST(COALESCE(nf.n_fps, 0) AS BIGINT) AS n_fingerprints,
           CAST(CASE WHEN COALESCE(nk.n_kgrams, 0) > 0
                THEN (1000000 * COALESCE(nf.n_fps, 0)) // nk.n_kgrams
                ELSE 0 END AS BIGINT) AS density_ppm
    FROM documents d
    LEFT JOIN nk ON nk.doc_id = d.doc_id
    LEFT JOIN nf ON nf.doc_id = d.doc_id
    """,
)
def winnowing_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc winnowing sketch size + selection density (expected
    2/(w+1) = 0.4 at w=4 — the coverage-vs-size trade the paper
    proves; the measured density is the sketch-health metric)."""
    from .functions.text import word_shingles

    docs = load(spark, sf_dir, "documents")
    fps = textstats.winnowing_fingerprints(docs, "doc_id", "text", k=3, w=4)
    nk = docs.select(
        "doc_id",
        F.size(word_shingles(F.lower(F.col("text")), 3)).alias("n_kgrams"),
    )
    nf = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fps"))
    return (
        nk.join(nf, "doc_id", "left")
        .select(
            "doc_id",
            F.greatest(F.col("n_kgrams"), F.lit(0))
            .cast("long")
            .alias("n_kgrams"),
            F.coalesce("n_fps", F.lit(0)).cast("long").alias("n_fingerprints"),
            F.when(
                F.col("n_kgrams") > 0,
                F.expr("(1000000 * coalesce(n_fps, 0)) div n_kgrams"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("density_ppm"),
        )
    )


@register(
    "winnowing_overlap_pairs",
    f"""
    WITH {_WINNOW_SQL},
    dfreq AS (
      SELECT fhash, COUNT(DISTINCT doc_id) AS dfc FROM fp GROUP BY fhash
    ), rare AS (
      SELECT DISTINCT f.doc_id, f.fhash
      FROM fp f JOIN dfreq USING (fhash) WHERE dfreq.dfc <= 10
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM rare a JOIN rare b
      ON a.fhash = b.fhash AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    """,
)
def winnowing_overlap_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.winnowing_overlap_pairs(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=3,
        w=4,
        max_df=10,
        min_shared=3,
    )


# Token-level drift top-movers between the same two synthetic corpus
# versions corpus_manifest_diff compares (deletions % 11, edits % 13):
# the vocabulary-share delta table a data lead reads AFTER the shard
# digest flags "something changed" — manifest tells you WHERE, this
# tells you WHAT.  Integer ppm shares; top 20 by |delta| with token
# tie-breaks.
@register(
    "vocab_drift_topk",
    """
    WITH old_t AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents WHERE doc_id % 11 <> 0
    ), new_t AS (
      SELECT unnest(list_filter(regexp_split_to_array(
               lower(CASE WHEN doc_id % 13 = 0 THEN text || ' rev2'
                          ELSE text END), '\\s+'), x -> x <> '')) AS w
      FROM documents
    ), oc AS (SELECT w, COUNT(*) AS c FROM old_t GROUP BY w),
    nc AS (SELECT w, COUNT(*) AS c FROM new_t GROUP BY w),
    ot AS (SELECT SUM(c) AS t FROM oc),
    nt AS (SELECT SUM(c) AS t FROM nc),
    j AS (
      SELECT COALESCE(oc.w, nc.w) AS token,
             COALESCE(oc.c, 0) AS cnt_old, COALESCE(nc.c, 0) AS cnt_new
      FROM oc FULL OUTER JOIN nc ON oc.w = nc.w
    ), shares AS (
      SELECT token, CAST(cnt_old AS BIGINT) AS cnt_old,
             CAST(cnt_new AS BIGINT) AS cnt_new,
             CAST((1000000 * cnt_old) // ot.t AS BIGINT) AS share_old_ppm,
             CAST((1000000 * cnt_new) // nt.t AS BIGINT) AS share_new_ppm
      FROM j CROSS JOIN ot CROSS JOIN nt
    )
    SELECT token, cnt_old, cnt_new, share_old_ppm, share_new_ppm,
           CAST(abs(share_new_ppm - share_old_ppm) AS BIGINT) AS delta_ppm
    FROM shares
    ORDER BY abs(share_new_ppm - share_old_ppm) DESC, token
    LIMIT 20
    """,
)
def vocab_drift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One token explode per version, two word-keyed partial aggs, two
    broadcast totals, a full-outer vocab join (vocab-sized, tiny next
    to the corpus), TakeOrdered top-20 — never a corpus-sized sort."""
    from .functions.text import tokens as _tokens

    docs = load(spark, sf_dir, "documents")
    old_t = docs.filter(F.pmod("doc_id", F.lit(11)) != 0).select(
        F.explode(_tokens(F.lower(F.col("text")))).alias("w")
    )
    new_t = docs.select(
        F.explode(
            _tokens(
                F.lower(
                    F.when(
                        F.pmod("doc_id", F.lit(13)) == 0,
                        F.concat(F.col("text"), F.lit(" rev2")),
                    ).otherwise(F.col("text"))
                )
            )
        ).alias("w")
    )
    oc = old_t.groupBy("w").agg(F.count(F.lit(1)).alias("c_old"))
    nc = new_t.groupBy("w").agg(F.count(F.lit(1)).alias("c_new"))
    ot = F.broadcast(oc.agg(F.sum("c_old").alias("t_old")))
    nt = F.broadcast(nc.agg(F.sum("c_new").alias("t_new")))
    j = (
        oc.withColumnRenamed("w", "w_o")
        .join(nc, F.col("w_o") == nc["w"], "full_outer")
        .select(
            F.coalesce("w_o", "w").alias("token"),
            F.coalesce("c_old", F.lit(0)).alias("cnt_old"),
            F.coalesce("c_new", F.lit(0)).alias("cnt_new"),
        )
    )
    shares = j.crossJoin(ot).crossJoin(nt).select(
        "token",
        F.col("cnt_old").cast("long").alias("cnt_old"),
        F.col("cnt_new").cast("long").alias("cnt_new"),
        F.expr("(1000000 * cnt_old) div t_old").cast("long").alias("share_old_ppm"),
        F.expr("(1000000 * cnt_new) div t_new").cast("long").alias("share_new_ppm"),
    )
    return (
        shares.withColumn(
            "delta_ppm",
            F.abs(F.col("share_new_ppm") - F.col("share_old_ppm")).cast("long"),
        )
        .orderBy(F.desc("delta_ppm"), F.asc("token"))
        .limit(20)
    )


# Filter-attribution waterfall: for each curation gate (Gopher rules,
# blocklist, exact-dup, too-short), how many docs it fails and how
# many it fails UNIQUELY (no other gate would have caught them) — the
# table that justifies each gate's existence in the pipeline (a gate
# with zero unique kills is redundant; one with huge unique kills
# deserves review).  Composes gates that are each oracle-checked
# standalone.
@register(
    "filter_attribution",
    """
    WITH gate AS ({GOPHER}),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    bw AS (
      SELECT DISTINCT doc_id FROM tok WHERE substring(md5(w), 1, 2) < '04'
    ),
    keep AS (
      SELECT md5(text) AS h, MIN(doc_id) AS keeper
      FROM documents GROUP BY 1
    ),
    nw AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x <> '')) AS n
      FROM documents
    ),
    flags AS (
      SELECT d.doc_id,
             NOT g.pass_gate AS f_gopher,
             (b.doc_id IS NOT NULL) AS f_badwords,
             (d.doc_id <> k.keeper) AS f_dup,
             (nw.n < 30) AS f_short
      FROM documents d
      JOIN gate g ON g.doc_id = d.doc_id
      LEFT JOIN bw b ON b.doc_id = d.doc_id
      JOIN keep k ON k.h = md5(d.text)
      JOIN nw ON nw.doc_id = d.doc_id
    ),
    tot AS (
      SELECT COUNT(*) AS n_docs,
             SUM(CASE WHEN NOT f_gopher AND NOT f_badwords
                       AND NOT f_dup AND NOT f_short
                 THEN 1 ELSE 0 END) AS n_clean
      FROM flags
    ),
    per AS (
      SELECT 'gopher' AS gate,
             SUM(CASE WHEN f_gopher THEN 1 ELSE 0 END) AS n_fail,
             SUM(CASE WHEN f_gopher AND NOT f_badwords AND NOT f_dup
                       AND NOT f_short THEN 1 ELSE 0 END) AS n_unique_fail
      FROM flags
      UNION ALL
      SELECT 'badwords',
             SUM(CASE WHEN f_badwords THEN 1 ELSE 0 END),
             SUM(CASE WHEN f_badwords AND NOT f_gopher AND NOT f_dup
                       AND NOT f_short THEN 1 ELSE 0 END)
      FROM flags
      UNION ALL
      SELECT 'exact_dup',
             SUM(CASE WHEN f_dup THEN 1 ELSE 0 END),
             SUM(CASE WHEN f_dup AND NOT f_gopher AND NOT f_badwords
                       AND NOT f_short THEN 1 ELSE 0 END)
      FROM flags
      UNION ALL
      SELECT 'too_short',
             SUM(CASE WHEN f_short THEN 1 ELSE 0 END),
             SUM(CASE WHEN f_short AND NOT f_gopher AND NOT f_badwords
                       AND NOT f_dup THEN 1 ELSE 0 END)
      FROM flags
    )
    SELECT gate, CAST(n_fail AS BIGINT) AS n_fail,
           CAST(n_unique_fail AS BIGINT) AS n_unique_fail,
           CAST(tot.n_docs AS BIGINT) AS n_docs,
           CAST(tot.n_clean AS BIGINT) AS n_clean
    FROM per CROSS JOIN tot
    """.replace("{GOPHER}", _ORACLES["gopher_quality_gate"]),
)
def filter_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One flags frame (each gate a boolean column), ONE aggregate for
    all per-gate counts, a 4-row explode — the gates reuse the shared
    scan shapes of their standalone queries."""
    from .functions.text import tokens as _tokens

    docs = load(spark, sf_dir, "documents")
    gate = textstats.gopher_quality_gate(docs, "doc_id", "text").select(
        "doc_id", "pass_gate"
    )
    bw = (
        docs.select(
            "doc_id", F.explode(_tokens(F.lower(F.col("text")))).alias("w")
        )
        .filter(F.substring(F.md5("w"), 1, 2) < "04")
        .select("doc_id")
        .distinct()
        .withColumn("_bw", F.lit(True))
    )
    keep = docs.groupBy(F.md5("text").alias("_h")).agg(
        F.min("doc_id").alias("_keeper")
    )
    flags = (
        docs.select("doc_id", F.md5("text").alias("_h"),
                    F.size(_tokens("text")).alias("_n"))
        .join(gate, "doc_id")
        .join(bw, "doc_id", "left")
        .join(keep, "_h")
        .select(
            "doc_id",
            (~F.col("pass_gate")).alias("f_gopher"),
            F.coalesce("_bw", F.lit(False)).alias("f_badwords"),
            (F.col("doc_id") != F.col("_keeper")).alias("f_dup"),
            (F.col("_n") < 30).alias("f_short"),
        )
    )
    gates = ["gopher", "badwords", "exact_dup", "too_short"]
    cols = ["f_gopher", "f_badwords", "f_dup", "f_short"]
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(
                ~F.col(cols[0]) & ~F.col(cols[1]) & ~F.col(cols[2])
                & ~F.col(cols[3]),
                1,
            ).otherwise(0)
        ).alias("n_clean"),
    ]
    for g, c in zip(gates, cols):
        others = [o for o in cols if o != c]
        aggs.append(
            F.sum(F.when(F.col(c), 1).otherwise(0)).alias(f"_nf_{g}")
        )
        aggs.append(
            F.sum(
                F.when(
                    F.col(c)
                    & ~F.col(others[0]) & ~F.col(others[1]) & ~F.col(others[2]),
                    1,
                ).otherwise(0)
            ).alias(f"_nu_{g}")
        )
    one = flags.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(g).alias("gate"),
                F.col(f"_nf_{g}").cast("long").alias("n_fail"),
                F.col(f"_nu_{g}").cast("long").alias("n_unique_fail"),
                F.col("n_docs").cast("long").alias("n_docs"),
                F.col("n_clean").cast("long").alias("n_clean"),
            )
            for g in gates
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


# k-core of the co-purchase graph (k=30, 4 peel rounds): "the stable
# trading core" — nodes surviving iterated low-degree removal, the
# community-robustness filter link analysis runs before trusting
# degree-based signals.  The bipartite graph converges after ONE round
# at every tested sf (suppliers sit far above k, so removals don't
# cascade — measured, see test) — 4 rounds is a 3-round convergence
# margin, not the generic-graph bound; deeper cascades (the path-graph
# test) just need a larger `rounds`.
@register(
    "kcore_copurchase",
    graph.kcore_oracle_sql(k=30, rounds=4),
)
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = graph.bipartite_copurchase_edges(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders")
    )
    return graph.kcore_membership(edges, k=30, rounds=4)


# SimHash near-dup PAIRS (Manku et al. 2007): 15-bit band buckets over
# the 60-bit signature, exact bit_count(xor) verify at hamming <= 3 —
# the pair generator the simhash_signatures query always implied,
# fully SQL-replayable (unlike the phash twin, no Python decode).
@register(
    "simhash_dedup_pairs",
    """
    WITH sig AS ({SIG}),
    banded AS (
      SELECT doc_id, simhash, b.band,
             (simhash >> (b.band * 15)) & 32767 AS key
      FROM sig CROSS JOIN (
        SELECT unnest(generate_series(0, 3)) AS band) b
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """.replace("{SIG}", _ORACLES["simhash_signatures"]),
)
def simhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.simhash(load(spark, sf_dir, "documents"), "doc_id", "text")
    return dedup.simhash_candidate_pairs(
        sigs, "doc_id", max_hamming=3, bands=4
    )


# Streaming PSI drift monitor (streaming/drift.py): batch 1 (the
# first corpus half, by doc_id) freezes the reference histogram;
# batch 2 (the second half) is scored against it.  The oracle replays
# both halves with the batch query's exact smoothing/rounding
# contract, hash-gating the streamed values at ANY sf.
@register(
    "streaming_drift_psi",
    """
    WITH lim AS (SELECT GREATEST(COUNT(*) // 2, 1) AS half FROM documents),
    t AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY doc_id) AS rn,
             LEAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                   x -> x <> '')) // 20, 9) AS bucket
      FROM documents
    ), ref AS (
      SELECT bucket, COUNT(*) AS n_ref FROM t CROSS JOIN lim
      WHERE rn <= half GROUP BY bucket
    ), cur AS (
      SELECT bucket, COUNT(*) AS n_cur FROM t CROSS JOIN lim
      WHERE rn > half GROUP BY bucket
    ), j AS (
      SELECT COALESCE(ref.bucket, cur.bucket) AS bucket,
             COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
      FROM ref FULL OUTER JOIN cur ON ref.bucket = cur.bucket
    ), tot AS (
      SELECT SUM(n_ref) + COUNT(*) AS ta, SUM(n_cur) + COUNT(*) AS tb
      FROM j
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           ROUND((n_ref + 1) * 1.0 / ta + 1e-9, 6) AS p_ref,
           ROUND((n_cur + 1) * 1.0 / tb + 1e-9, 6) AS p_cur,
           ROUND(((n_ref + 1) * 1.0 / ta - (n_cur + 1) * 1.0 / tb)
                 * ln(((n_ref + 1) * 1.0 / ta) / ((n_cur + 1) * 1.0 / tb))
                 + 1e-9, 6) AS psi_contrib
    FROM j CROSS JOIN tot
    """,
)
def streaming_drift_psi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from .streaming.drift import start_drift_stream

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    half = max(n // 2, 1)  # adaptive: exact corpus halves at any sf
    first = docs.orderBy("doc_id").limit(half)
    last = docs.orderBy(F.desc("doc_id")).limit(n - half)
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        os.makedirs(src)
        first.coalesce(1).write.json(f"{src}/b0")
        last.coalesce(1).write.json(f"{src}/b1")
        now = 1_700_000_000
        for i, sub in enumerate(["b0", "b1"]):
            for fn in os.listdir(f"{src}/{sub}"):
                os.utime(f"{src}/{sub}/{fn}", (now + i, now + i))
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .json(f"{src}/b*")
        )
        q = start_drift_stream(
            stream, f"{tmp}/out", f"{tmp}/store", f"{tmp}/ckpt"
        )
        q.awaitTermination(180)
        out = spark.read.parquet(f"{tmp}/out").select(
            "bucket", "n_ref", "n_cur", "p_ref", "p_cur", "psi_contrib"
        )
        return out.localCheckpoint(eager=True)


# Deterministic class balancing: downsample every label to the
# smallest class's size by md5-rank within label — the class-balanced
# subset a probe/classifier train job draws from skewed labels, with
# no RNG (same membership on every run/engine/partitioning).
@register(
    "label_balance_sample",
    """
    WITH sized AS (
      SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label
    ), target AS (SELECT MIN(n) AS t FROM sized),
    r AS (
      SELECT vec_id, label,
             row_number() OVER (
               PARTITION BY label
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
      FROM embeddings
    )
    SELECT vec_id, label, CAST(rk AS BIGINT) AS rk
    FROM r CROSS JOIN target WHERE rk <= t
    """,
)
def label_balance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label window rank (label-partitioned — no global sort) over
    the md5 order; the min class size is a broadcast scalar.  At scale
    the rank shuffle moves (id, label) only."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    target = F.broadcast(
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.min("n").alias("t"))
    )
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        emb.withColumn("rk", F.row_number().over(w))
        .crossJoin(target)
        .filter(F.col("rk") <= F.col("t"))
        .select("vec_id", "label", F.col("rk").cast("long").alias("rk"))
    )


# Per-source quality league table with 95% Wilson confidence bounds
# on the Gopher pass rate — "is source X actually worse, or just
# small?"  Wilson (not normal-approx) so tiny sources get honest wide
# intervals.  The only float ops are one sqrt (correctly rounded by
# IEEE in both engines) and parse-identical literals, under the
# round-6 + 1e-9 contract.
@register(
    "source_quality_ci",
    """
    WITH gate AS ({GOPHER}),
    per AS (
      SELECT d.source, COUNT(*) AS n,
             SUM(CASE WHEN g.pass_gate THEN 1 ELSE 0 END) AS k
      FROM documents d JOIN gate g ON g.doc_id = d.doc_id
      GROUP BY d.source
    )
    SELECT source, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS n_pass,
           CAST((1000000 * k) // n AS BIGINT) AS rate_ppm,
           ROUND((k + 1.92072941034706 - 1.959963984540054
                  * sqrt((k * 1.0 * (n - k)) / n + 0.9603647051735294))
                 / (n + 3.841458820694124) + 1e-9, 6) AS wilson_lo,
           ROUND((k + 1.92072941034706 + 1.959963984540054
                  * sqrt((k * 1.0 * (n - k)) / n + 0.9603647051735294))
                 / (n + 3.841458820694124) + 1e-9, 6) AS wilson_hi
    FROM per
    """.replace("{GOPHER}", _ORACLES["gopher_quality_gate"]),
)
def source_quality_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One gate plan + one source-keyed integer aggregate; the Wilson
    algebra (z=1.959963984540054, z^2/2 and z^2/4 pre-expanded as
    shared literals) runs on the ~20 aggregated rows."""
    docs = load(spark, sf_dir, "documents")
    gate = textstats.gopher_quality_gate(docs, "doc_id", "text").select(
        "doc_id", "pass_gate"
    )
    per = (
        docs.select("doc_id", "source")
        .join(gate, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("pass_gate"), 1).otherwise(0)).alias("k"),
        )
    )
    lo = (
        F.col("k") + F.lit(1.92072941034706)
        - F.lit(1.959963984540054)
        * F.sqrt(
            (F.col("k") * F.lit(1.0) * (F.col("n") - F.col("k"))) / F.col("n")
            + F.lit(0.9603647051735294)
        )
    ) / (F.col("n") + F.lit(3.841458820694124))
    hi = (
        F.col("k") + F.lit(1.92072941034706)
        + F.lit(1.959963984540054)
        * F.sqrt(
            (F.col("k") * F.lit(1.0) * (F.col("n") - F.col("k"))) / F.col("n")
            + F.lit(0.9603647051735294)
        )
    ) / (F.col("n") + F.lit(3.841458820694124))
    return per.select(
        "source",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("n_pass"),
        F.expr("(1000000 * k) div n").cast("long").alias("rate_ppm"),
        F.round(lo + F.lit(1e-9), 6).alias("wilson_lo"),
        F.round(hi + F.lit(1e-9), 6).alias("wilson_hi"),
    )


# JSON payload quality gate with an error taxonomy: plant the three
# classic corruption modes deterministically (truncation % 7, missing
# key % 11, wrong type % 13 — first match wins), then classify every
# payload as ok / unparseable / missing_key / wrong_type — the
# schema-on-read quarantine triage (O22's reject path, upgraded from
# a boolean to a taxonomy).  Planted corruption means the gate's
# recall is measured, not assumed — the pii_scrub_recall pattern.
@register(
    "json_quality_gate",
    """
    WITH planted AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0
                    THEN left(props, GREATEST(len(props) - 2, 1))
                  WHEN event_id % 11 = 0 THEN '{}'
                  WHEN event_id % 13 = 0 THEN '{"k": "x"}'
                  ELSE props END AS p
      FROM events
    ), verdicts AS (
      SELECT event_type,
             CASE WHEN NOT json_valid(p) THEN 'unparseable'
                  WHEN json_extract_string(p, '$.k') IS NULL
                    THEN 'missing_key'
                  WHEN TRY_CAST(json_extract_string(p, '$.k') AS INTEGER)
                       IS NULL THEN 'wrong_type'
                  ELSE 'ok' END AS verdict
      FROM planted
    ), tot AS (SELECT COUNT(*) AS n FROM verdicts)
    SELECT verdict, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST((1000000 * COUNT(*)) // tot.n AS BIGINT) AS share_ppm
    FROM verdicts CROSS JOIN tot
    GROUP BY verdict, tot.n
    """,
)
def json_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow map (plant + classify, all codegen'd) + a 4-key
    partial-agg.  Spark's malformed-JSON test is try_parse_json IS
    NULL (PERMISSIVE from_json nulls FIELDS, not the struct, on
    truncation); DuckDB's is json_valid — they agree on every planted
    mode (and the planted modes are the gate's measured contract)."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "props")
    planted = ev.select(
        "event_type",
        F.when(
            F.pmod("event_id", F.lit(7)) == 0,
            F.expr("left(props, greatest(length(props) - 2, 1))"),
        )
        .when(F.pmod("event_id", F.lit(11)) == 0, F.lit("{}"))
        .when(F.pmod("event_id", F.lit(13)) == 0, F.lit('{"k": "x"}'))
        .otherwise(F.col("props"))
        .alias("p"),
    )
    verdict = (
        F.when(F.expr("try_parse_json(p)").isNull(), F.lit("unparseable"))
        .when(F.get_json_object("p", "$.k").isNull(), F.lit("missing_key"))
        .when(
            F.expr("try_cast(get_json_object(p, '$.k') as int)").isNull(),
            F.lit("wrong_type"),
        )
        .otherwise(F.lit("ok"))
    )
    v = planted.select(verdict.alias("verdict"))
    tot = F.broadcast(v.agg(F.count(F.lit(1)).alias("n")))
    return (
        v.groupBy("verdict")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .crossJoin(tot)
        .select(
            "verdict",
            F.col("n_events").cast("long").alias("n_events"),
            F.expr("(1000000 * n_events) div n")
            .cast("long")
            .alias("share_ppm"),
        )
    )


# Epoch-shard manifest: the data-order RECEIPT for a training run —
# per (epoch, shard): doc count, pos range, and an order-sensitive
# xor digest over md5(doc#epoch#pos), so two runs (or two workers)
# can prove they consumed identical data in identical order by
# comparing 16 rows.  Composes the epoch_shuffle oracle.
@register(
    "epoch_shard_manifest",
    """
    WITH es AS ({ES})
    SELECT CAST(epoch AS INT) AS epoch, CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(pos) AS BIGINT) AS min_pos,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           CAST(bit_xor(('0x' || substring(md5(
             CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)
             || '#' || CAST(pos AS VARCHAR)), 1, 15))::BIGINT) AS BIGINT)
             AS order_digest
    FROM es GROUP BY epoch, shard
    """.replace("{ES}", _ORACLES["epoch_shuffle"]),
)
def epoch_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rides the epoch_shuffle plan (range-partitioned per-epoch rank),
    one 16-key partial-agg on top."""
    es = epoch_shuffle_q(spark, sf_dir)
    digest = F.expr(
        "bit_xor(cast(conv(substring(md5(concat("
        "cast(doc_id as string), '#', cast(epoch as string), '#',"
        " cast(pos as string))), 1, 15), 16, 10) as bigint))"
    )
    return es.groupBy("epoch", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("pos").cast("long").alias("min_pos"),
        F.max("pos").cast("long").alias("max_pos"),
        digest.alias("order_digest"),
    )


def _mmr_oracle(k: int = 5) -> str:
    """Unrolled greedy MMR replay over the BM25 top-20: per step, a
    max-sim-to-selected aggregate, score = 0.75*rel - 0.25*maxsim
    (dyadic literals), argmax with id tie-break."""
    parts = [
        "WITH bm AS (" + _ORACLES["ranked_search_bm25"] + """),
    cand AS (
      SELECT bm.doc_id, bm.score AS rel,
             CAST(e.embedding AS DOUBLE[]) AS v
      FROM bm JOIN embeddings e ON e.vec_id = bm.doc_id
    ),
    pw AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib,
             ROUND(list_cosine_similarity(a.v, b.v), 4) AS cos
      FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
    ),
    sc1 AS (
      SELECT doc_id, rel, 0.75 * rel - 0.25 * 0.0 AS score FROM cand
    ),
    sel1 AS (
      SELECT doc_id, rel, score, 1 AS mmr_rank FROM sc1
      ORDER BY score DESC, doc_id LIMIT 1
    ),
    selu1 AS (SELECT doc_id, rel, score, mmr_rank FROM sel1)"""
    ]
    for i in range(2, k + 1):
        parts.append(f"""
    sc{i} AS (
      SELECT c.doc_id, c.rel,
             0.75 * c.rel - 0.25 * COALESCE(m.ms, 0.0) AS score
      FROM cand c
      LEFT JOIN (
        SELECT pw.ia AS doc_id, MAX(pw.cos) AS ms
        FROM pw JOIN selu{i - 1} s ON pw.ib = s.doc_id
        GROUP BY pw.ia
      ) m USING (doc_id)
      WHERE c.doc_id NOT IN (SELECT doc_id FROM selu{i - 1})
    ),
    sel{i} AS (
      SELECT doc_id, rel, score, {i} AS mmr_rank FROM sc{i}
      ORDER BY score DESC, doc_id LIMIT 1
    ),
    selu{i} AS (
      SELECT * FROM selu{i - 1} UNION ALL SELECT * FROM sel{i}
    )""")
    parts.append(f"""
    SELECT doc_id, rel, ROUND(score + 1e-9, 6) AS mmr_score,
           CAST(mmr_rank AS BIGINT) AS mmr_rank
    FROM selu{k}""")
    return ",".join(parts[:-1]) + parts[-1]


# MMR diversity re-ranking of the BM25 top-20 (Carbonell & Goldstein
# 1998): the relevance-vs-redundancy pass between retrieval and a RAG
# prompt.  The whole greedy trajectory is value-hash-gated.
@register("mmr_diversity_rerank", _mmr_oracle(k=5))
def mmr_diversity_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cands = textstats.ranked_keyword_search_bm25(
        docs, "doc_id", "text", _SEARCH_KEYWORDS, k=20
    ).select("doc_id", F.col("score").alias("rel"))
    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return similarity.mmr_rerank(cands, emb, k=5, lam=0.75)


# Per-day HLL distinct users over the event log — the grouped form of
# the sketch (registers are MAX aggregates, so per-day rows roll up to
# per-week by another MAX; the dashboard cardinality query at scale).
@register(
    "daily_hll_users",
    """
    WITH h AS (
      SELECT CAST(ts AS DATE) AS day,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events
    ), hb AS (SELECT day, h % 64 AS bucket, h // 64 AS w FROM h),
    r AS (
      SELECT day, bucket,
             CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END AS rank
      FROM hb
    ),
    frame AS (
      SELECT d.day, gs.bucket
      FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) d
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bucket) gs
    ),
    regs AS (
      SELECT f.day, f.bucket, COALESCE(MAX(r.rank), 0) AS mj
      FROM frame f
      LEFT JOIN r ON r.day = f.day AND r.bucket = f.bucket
      GROUP BY f.day, f.bucket
    ),
    s AS (
      SELECT day,
             SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS nz,
             SUM(1::BIGINT << (55 - mj)) AS s55
      FROM regs GROUP BY day
    ),
    t AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS td
      FROM events GROUP BY 1
    )
    SELECT s.day, CAST(nz AS BIGINT) AS n_zero_buckets,
           CAST(s55 AS BIGINT) AS s_55,
           ROUND(0.709 * 4096.0 * pow(2.0, 55) / s55, 2) AS hll_estimate,
           CAST(td AS BIGINT) AS true_distinct
    FROM s JOIN t ON t.day = s.day
    """,
)
def daily_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = load(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    return sketches.hll_distinct_by(ev, "user_id", ["day"])


# Streaming incremental corpus manifest (streaming/manifest.py): two
# micro-batch halves write per-shard deltas; the merged manifest must
# equal the batch corpus_manifest over the whole corpus EXACTLY
# (every column a commutative monoid: SUM/MIN/MAX/bit_xor) — so the
# gate is the EXISTING batch oracle verbatim.
@register("streaming_corpus_manifest", _ORACLES["corpus_manifest"])
def streaming_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from .streaming.manifest import read_manifest, start_manifest_stream

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    half = max(n // 2, 1)
    first = docs.orderBy("doc_id").limit(half)
    last = docs.orderBy(F.desc("doc_id")).limit(n - half)
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        os.makedirs(src)
        first.coalesce(1).write.json(f"{src}/b0")
        last.coalesce(1).write.json(f"{src}/b1")
        now = 1_700_000_000
        for i, sub in enumerate(["b0", "b1"]):
            for fn in os.listdir(f"{src}/{sub}"):
                os.utime(f"{src}/{sub}/{fn}", (now + i, now + i))
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .json(f"{src}/b*")
        )
        q = start_manifest_stream(stream, f"{tmp}/store", f"{tmp}/ckpt")
        q.awaitTermination(180)
        out = read_manifest(spark, f"{tmp}/store")
        return out.localCheckpoint(eager=True)


# Cross-modal dedup manifest (round-9 capstone): one per-document row
# composing the three independent near-dup signals — text (MinHash-LSH
# components), embedding (banded hyperplane LSH pairs, star-capped),
# and attached media (pHash groups over the synthetic media table +
# its resized copies).  The interesting rows are documents whose TEXT
# survives dedup (component representative or unique) but whose
# attached image is a near-copy of another asset — the cross-modal
# leak a text-only pipeline cannot see.
#
# Attachment is a deterministic doc_id -> media_id map (even docs get
# original image 3*k, odd docs its resized twin 1000+3*k), so the
# oracle replays it as plain SQL; the media leg's group table is the
# pinned _PHASH_GROUPS_VALUES (cross-validated by independent decoders
# in tests/test_multimodal.py).
_XMODAL_ORACLE = f"""
    WITH RECURSIVE {_SHINGLE_SQL}, sig AS (
      SELECT doc_id, {_MINHASH_AGGS_SQL}
      FROM sh GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, band, key FROM (
        SELECT doc_id, 0 AS band, md5(concat(h0, '|', h1)) AS key FROM sig
        UNION ALL SELECT doc_id, 1, md5(concat(h2, '|', h3)) FROM sig
        UNION ALL SELECT doc_id, 2, md5(concat(h4, '|', h5)) FROM sig
        UNION ALL SELECT doc_id, 3, md5(concat(h6, '|', h7)) FROM sig
      )
    ), tpairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ), tedges AS (
      SELECT id_a AS src, id_b AS dst FROM tpairs
      UNION ALL SELECT id_b, id_a FROM tpairs
    ), tclosure(node, r) AS (
      SELECT DISTINCT src, src FROM tedges
      UNION
      SELECT c.node, e.dst FROM tclosure c JOIN tedges e ON e.src = c.r
    ), tcomp AS (
      SELECT node, MIN(r) AS label FROM tclosure GROUP BY node
    ), epairs AS (
      {{EMB_PAIRS}}
    ), edup AS (
      SELECT DISTINCT id AS doc_id FROM (
        SELECT id_a AS id FROM epairs UNION ALL SELECT id_b FROM epairs
      )
    ), phash_groups AS (
      SELECT CAST(media_id AS BIGINT) AS media_id,
             CAST(group_label AS BIGINT) AS media_label,
             CAST(n_members AS BIGINT) AS media_n_members
      FROM {_PHASH_GROUPS_VALUES}
    ), att AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id % 2 = 0 THEN 3 * ((d.doc_id // 2) % 22)
                  ELSE 1000 + 3 * (((d.doc_id - 1) // 2) % 22) END AS media_id,
             COALESCE(tc.label, d.doc_id) AS text_label
      FROM documents d LEFT JOIN tcomp tc ON tc.node = d.doc_id
    )
    SELECT a.doc_id AS doc_id,
           a.text_label AS text_label,
           (a.doc_id = MIN(a.doc_id) OVER (PARTITION BY a.text_label))
             AS text_survivor,
           (ed.doc_id IS NOT NULL) AS emb_dup,
           a.media_id AS media_id,
           pg.media_label AS media_label,
           pg.media_n_members AS media_n_members,
           (pg.media_n_members >= 2) AS media_near_copy,
           ((a.doc_id = MIN(a.doc_id) OVER (PARTITION BY a.text_label))
             AND pg.media_n_members >= 2) AS flag_text_unique_media_dup
    FROM att a
    JOIN phash_groups pg ON pg.media_id = a.media_id
    LEFT JOIN edup ed ON ed.doc_id = a.doc_id
    """.replace("{EMB_PAIRS}", _neardup_oracle(_NEARDUP_CAP))


@register("multimodal_dedup_manifest", _XMODAL_ORACLE)
def multimodal_dedup_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup manifest: per document, its text near-dup
    component + survivor bit (MinHash-LSH, `dedup.connected_components`),
    its embedding near-dup bit (`dedup.embedding_neardup_pairs`, banded
    hyperplane LSH with the hot-bucket star cap), and its attached
    image's pHash dedup group (`multimodal.image_phash` +
    `phash_candidate_pairs` + components over originals and resized
    copies).  The output flags documents whose text SURVIVES dedup but
    whose attached media is a near-copy of another asset — a pure
    composition of three independently oracle-backed operators.

    Scale shape: all three pair generators are banded (no all-pairs);
    the media-group table is catalog-sized (assets, not documents) and
    broadcast into the attachment join; text/embedding legs shuffle on
    doc/vec keys only.  At 100 TB the doc->media attachment is a real
    FK; here it is a deterministic map so the oracle can replay it.

    The text and media legs each run `connected_components` — an
    iterative loop of driver-gated jobs (localCheckpoint + fixpoint
    signature per round) that EAGERLY materializes its pair input.
    Built sequentially the wall is the sum of the two loops while the
    cluster idles between their tiny rounds; the two legs are
    independent (separate inputs, deterministic outputs), so they are
    submitted on concurrent driver threads — the tokenizer-fertility
    tactic — and the wall is the slower leg.  The embedding leg has no
    driver iteration (single banded-LSH plan) but is materialized on a
    third thread (round 14): left lazy it would execute serially inside
    the final compose plan after both loops finish."""
    from concurrent.futures import ThreadPoolExecutor

    from .operators.multimodal import (
        image_phash,
        phash_candidate_pairs,
        resize_images,
        synthetic_media,
    )

    docs = load(spark, sf_dir, "documents")

    def _text_leg() -> DataFrame:
        sigs = dedup.minhash_signatures(
            docs, "doc_id", "text", num_hashes=_MINHASH_K
        )
        tpairs = dedup.lsh_candidate_pairs(
            sigs, "doc_id", num_hashes=_MINHASH_K, bands=4
        )
        return dedup.connected_components(tpairs)

    def _media_leg() -> tuple[DataFrame, DataFrame]:
        # same pipeline as image_phash_dedup (originals + resized)
        media = synthetic_media(spark, 64)
        originals = media.filter(F.col("modality") == "image").select(
            "media_id", F.lit("image").alias("modality"), "payload"
        )
        resized = resize_images(media, max_side=32).select(
            (F.col("media_id") + 1000).alias("media_id"),
            F.lit("image").alias("modality"),
            "payload",
        )
        # materialize the codec output once: it feeds BOTH the pair
        # generator (consumed eagerly inside connected_components) and
        # the media_groups join in the final plan — without the
        # checkpoint the pandas-UDF decode would execute twice.
        # Catalog-sized (assets, not documents).
        hashes = image_phash(originals.unionByName(resized)).localCheckpoint(
            eager=True
        )
        mpairs = phash_candidate_pairs(hashes, max_hamming=10)
        return dedup.connected_components(mpairs), hashes

    def _emb_leg() -> DataFrame:
        # embedding leg (vec_id == doc_id by testdata convention):
        # single banded-LSH plan, but left lazy it would execute
        # SERIALLY inside the final compose plan after both loops
        # finish — materialize it on the third thread instead so it
        # overlaps the slower loop leg (values exact: the checkpoint
        # pins the same deterministic rows the lazy plan produced)
        epairs = dedup.embedding_neardup_pairs(
            load(spark, sf_dir, "embeddings"),
            threshold=_NEARDUP_THRESHOLD,
            n_planes=_NEARDUP_PLANES_N,
            bands=_NEARDUP_BANDS,
            max_bucket_size=_NEARDUP_CAP,
        )
        return (
            epairs.select(F.col("id_a").alias("doc_id"))
            .unionAll(epairs.select(F.col("id_b").alias("doc_id")))
            .distinct()
            .withColumn("emb_hit", F.lit(True))
            .localCheckpoint(eager=True)
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_text = pool.submit(_text_leg)
        f_media = pool.submit(_media_leg)
        f_emb = pool.submit(_emb_leg)
        tcomp = f_text.result()
        mcomp, hashes = f_media.result()
        edup = f_emb.result()
    media_groups = (
        hashes.join(mcomp, hashes["media_id"] == mcomp["node"], "left")
        .select(
            "media_id",
            F.coalesce("label", F.col("media_id")).cast("long").alias("media_label"),
        )
    )
    media_groups = media_groups.join(
        media_groups.groupBy("media_label").agg(
            F.count(F.lit(1)).cast("long").alias("media_n_members")
        ),
        "media_label",
    )
    # attach + compose
    att = (
        docs.select("doc_id")
        .withColumn(
            "media_id",
            F.when(
                F.col("doc_id") % 2 == 0, 3 * (F.expr("doc_id DIV 2") % 22)
            ).otherwise(1000 + 3 * (F.expr("(doc_id - 1) DIV 2") % 22)),
        )
        .join(tcomp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            "media_id",
            F.coalesce("label", F.col("doc_id")).alias("text_label"),
        )
    )
    w_grp = Window.partitionBy("text_label")
    return (
        att.join(F.broadcast(media_groups), "media_id")
        .join(edup, "doc_id", "left")
        .select(
            "doc_id",
            "text_label",
            (F.col("doc_id") == F.min("doc_id").over(w_grp)).alias("text_survivor"),
            F.coalesce("emb_hit", F.lit(False)).alias("emb_dup"),
            "media_id",
            "media_label",
            "media_n_members",
            (F.col("media_n_members") >= 2).alias("media_near_copy"),
            (
                (F.col("doc_id") == F.min("doc_id").over(w_grp))
                & (F.col("media_n_members") >= 2)
            ).alias("flag_text_unique_media_dup"),
        )
    )


from .operators import unigram as _unigram  # noqa: E402


@register("unigram_lm_vocab", _unigram.unigram_vocab_oracle_sql())
def unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) vocabulary learning: seed from
    top substrings, two hard-EM rounds (Viterbi E-step, count M-step),
    integer micro-nat scores so every DP comparison is exact in both
    engines.  Oracle: unrolled DP-relaxation + recursive-backtrack
    replay of the identical rounds (operators/unigram.py)."""
    return _unigram.learn_unigram_vocab(
        load(spark, sf_dir, "documents"), "text", em_rounds=2
    )


@register("unigram_lm_encode", _unigram.unigram_encode_oracle_sql())
def unigram_lm_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn-then-encode with the unigram-LM vocab: per-document
    (n_words, n_pieces, chars_per_piece) — the fertility surface the
    tokenizer family comparison reads (see bpe_encode for the BPE
    twin)."""
    from .functions.text import tokens as _tokens

    docs = load(spark, sf_dir, "documents")
    # one tokenization collapse shared by the learn and encode legs
    # (the tokenizer_fertility_compare idiom) instead of two
    # independent corpus explode+groupBy passes
    toks = F.transform(_tokens("text"), lambda t: F.lower(t))
    doc_words = (
        docs.select("doc_id", F.explode(toks).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    ).localCheckpoint(eager=True)
    words = (
        doc_words.groupBy("w").agg(F.sum("n").alias("freq"))
    ).localCheckpoint(eager=True)
    vocab = _unigram.learn_unigram_vocab(docs, "text", em_rounds=2, words=words)
    return _unigram.unigram_encode_stats(
        docs, "doc_id", "text", vocab, doc_words=doc_words
    )


from .operators import wordpiece as _wordpiece  # noqa: E402


@register("wordpiece_merges", _wordpiece.wordpiece_merges_oracle_sql(12))
def wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece merge learning (BERT tokenizer): BPE's pair-merge
    machinery with the LM likelihood-gain objective
    cnt(l,r)/(cnt(l)*cnt(r)), argmaxed in integer micro-nats so both
    engines compare exactly.  Oracle: BPE's unrolled rewrite rounds
    with the likelihood argmax swapped in (operators/wordpiece.py)."""
    return _wordpiece.learn_wordpiece_merges(
        load(spark, sf_dir, "documents"), "text", n_merges=12
    )


@register("wordpiece_encode", _wordpiece.wordpiece_encode_oracle_sql(12))
def wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn-then-encode with the WordPiece vocab: greedy longest-
    match-first over the distinct-word table (per-word max-jump walk,
    no UDF), per-doc (n_words, n_wp_tokens, chars_per_wp_token) —
    completing the three-tokenizer fertility surface (BPE / unigram /
    WordPiece)."""
    from .functions.text import tokens as _tokens

    docs = load(spark, sf_dir, "documents")
    # one tokenization collapse shared by the learn and encode legs
    # (the tokenizer_fertility_compare idiom): without it the corpus
    # explode+groupBy runs once per leg — vocab base, merge learner,
    # and encoder each re-scanned the corpus
    toks = F.transform(_tokens("text"), lambda t: F.lower(t))
    doc_words = (
        docs.select("doc_id", F.explode(toks).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    ).localCheckpoint(eager=True)
    words = (
        doc_words.groupBy("w").agg(F.sum("n").alias("freq"))
    ).localCheckpoint(eager=True)
    vocab = _wordpiece.wordpiece_vocab(docs, "text", n_merges=12, words=words)
    return _wordpiece.wordpiece_encode_stats(
        docs, "doc_id", "text", vocab, doc_words=doc_words
    )


def _tokenizer_compare_oracle() -> str:
    """Composed oracle: corpus-level fertility for all three learned
    tokenizers, each leg the FULL learn-then-encode replay (the three
    per-doc oracles as derived tables), against one shared corpus
    char volume."""
    from .operators.bpe import bpe_encode_oracle_sql
    from .operators.unigram import unigram_encode_oracle_sql
    from .operators.wordpiece import wordpiece_encode_oracle_sql

    legs = {
        "bpe": (bpe_encode_oracle_sql(12), "n_bpe_tokens"),
        "unigram": (unigram_encode_oracle_sql(), "n_pieces"),
        "wordpiece": (wordpiece_encode_oracle_sql(12), "n_wp_tokens"),
    }
    leg_sql = "\n    UNION ALL\n    ".join(
        f"SELECT '{name}' AS tokenizer, "
        f"CAST(SUM({col}) AS BIGINT) AS n_tokens FROM ({sql})"
        for name, (sql, col) in legs.items()
    )
    return f"""
    WITH chars AS (
      SELECT CAST(SUM(n * length(w)) AS BIGINT) AS total FROM (
        SELECT doc_id, w, COUNT(*) AS n FROM (
          SELECT doc_id,
                 unnest(list_transform(list_filter(
                   regexp_split_to_array(text, '\\s+'), x -> x <> ''),
                   x -> lower(x))) AS w
          FROM documents
        ) GROUP BY doc_id, w
      )
    ), legs AS (
    {leg_sql}
    )
    SELECT tokenizer, n_tokens,
           ROUND(chars.total / (1.0 * n_tokens) + 1e-9, 4)
             AS chars_per_token
    FROM legs, chars
    """


@register("tokenizer_fertility_compare", _tokenizer_compare_oracle())
def tokenizer_fertility_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-family capstone: one corpus-level fertility row per
    learned tokenizer (BPE 12 merges / unigram-LM 2 EM rounds /
    WordPiece 12 merges) — n_tokens and chars-per-token over the same
    corpus char volume.  Pure composition of the three oracle-backed
    learn-then-encode queries; the comparison a tokenizer-selection
    pipeline reads before committing a vocabulary.

    Round-13 (verdict task 5): the three legs share the SAME
    tokenization collapse — ONE (doc_id, w, n) table and its (w, freq)
    rollup are materialized once (executor-local checkpoints, released
    with the session like every other eager composite) and threaded
    through every learn and encode leg plus the char-volume aggregate,
    instead of six independent corpus explode+groupBy passes.  The
    three LEARN phases additionally run on concurrent driver threads:
    each is an iterative chain of tiny vocabulary-sized jobs gated by
    driver-side collects/checkpoints, so run sequentially the wall is
    their SUM while the cluster idles between jobs — submitted
    concurrently (independent legs, no shared mutable state; results
    are each deterministic frames) the Spark scheduler interleaves
    them and the wall is the slowest leg.  The encode legs need no
    such treatment: they compose into the one final union plan and
    already execute in a single job tree."""
    from concurrent.futures import ThreadPoolExecutor

    from .operators.bpe import bpe_encode_stats, learn_bpe_merges
    from .operators.unigram import learn_unigram_vocab, unigram_encode_stats
    from .operators.wordpiece import wordpiece_encode_stats, wordpiece_vocab

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    from .functions.text import tokens as _tokens

    toks = F.transform(_tokens("text"), lambda t: F.lower(t))
    doc_words = (
        docs.select("doc_id", F.explode(toks).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    ).localCheckpoint(eager=True)
    words = (
        doc_words.groupBy("w").agg(F.sum("n").alias("freq"))
    ).localCheckpoint(eager=True)
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_bpe = pool.submit(
            lambda: [
                (r.left, r.right)
                for r in learn_bpe_merges(
                    docs, "text", n_merges=12, words=words
                ).collect()
            ]
        )
        f_uni = pool.submit(
            learn_unigram_vocab, docs, "text", words=words
        )
        f_wp = pool.submit(
            wordpiece_vocab, docs, "text", n_merges=12, words=words
        )
        merges, uni_vocab, wp_vocab = (
            f_bpe.result(), f_uni.result(), f_wp.result()
        )
    frames = {
        "bpe": (
            bpe_encode_stats(
                docs, "doc_id", "text", merges, doc_words=doc_words
            ),
            "n_bpe_tokens",
        ),
        "unigram": (
            unigram_encode_stats(
                docs, "doc_id", "text", uni_vocab, doc_words=doc_words
            ),
            "n_pieces",
        ),
        "wordpiece": (
            wordpiece_encode_stats(
                docs, "doc_id", "text", wp_vocab, doc_words=doc_words
            ),
            "n_wp_tokens",
        ),
    }
    chars = doc_words.agg(
        F.sum(F.col("n") * F.length("w")).alias("total")
    )
    legs = None
    for name, (df, col) in frames.items():
        leg = df.agg(F.sum(col).cast("long").alias("n_tokens")).select(
            F.lit(name).alias("tokenizer"), "n_tokens"
        )
        legs = leg if legs is None else legs.unionByName(leg)
    return legs.crossJoin(F.broadcast(chars)).select(
        "tokenizer",
        "n_tokens",
        F.round(F.col("total") / F.col("n_tokens") + F.lit(1e-9), 4).alias(
            "chars_per_token"
        ),
    )


@register("unigram_lm_vocab_pruned", _unigram.unigram_pruned_oracle_sql())
def unigram_lm_vocab_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece prune phase: EM, keep the top-24 multi-char pieces
    (plus every character), re-normalize, one more EM round — the
    prune-to-target-vocab loop production tokenizer training runs
    (operators/unigram.py, learn_unigram_vocab_pruned)."""
    return _unigram.learn_unigram_vocab_pruned(
        load(spark, sf_dir, "documents"), "text"
    )


@register(
    "image_text_contrastive_pairs",
    f"""
    WITH phash_groups AS (
      SELECT CAST(media_id AS BIGINT) AS media_id,
             CAST(group_label AS BIGINT) AS grp
      FROM {_PHASH_GROUPS_VALUES}
    ), ranked AS (
      SELECT media_id, grp,
             ROW_NUMBER() OVER (ORDER BY media_id) - 1 AS rnk
      FROM phash_groups
    ), att AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id % 2 = 0 THEN 3 * ((d.doc_id // 2) % 22)
                  ELSE 1000 + 3 * (((d.doc_id - 1) // 2) % 22) END AS media_id,
             ('0x' || substring(md5('neg#' || CAST(d.doc_id AS VARCHAR)),
               1, 8))::BIGINT % 44 AS h
      FROM documents d
    ), attg AS (
      SELECT a.doc_id, a.media_id, a.h, r.grp
      FROM att a JOIN ranked r ON r.media_id = a.media_id
    ), pos AS (
      SELECT doc_id, media_id, 'pos' AS pair_type FROM attg
    ), hard AS (
      SELECT a.doc_id, r.media_id, 'hard_neg' AS pair_type
      FROM attg a JOIN ranked r
        ON r.grp = a.grp AND r.media_id <> a.media_id
    ), easy AS (
      SELECT doc_id, media_id, 'easy_neg' AS pair_type FROM (
        SELECT a.doc_id, r.media_id,
               ROW_NUMBER() OVER (PARTITION BY a.doc_id
                                  ORDER BY (r.rnk - a.h + 44) % 44) AS pick
        FROM attg a JOIN ranked r ON r.grp <> a.grp
      ) WHERE pick = 1
    )
    SELECT doc_id, media_id, pair_type FROM pos
    UNION ALL SELECT * FROM hard
    UNION ALL SELECT * FROM easy
    """,
)
def image_text_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-style contrastive training pairs over the doc->media
    attachment: the attached image as the positive, every OTHER member
    of its pHash near-dup group as a HARD negative (the confusable
    near-copy a contrastive loss must separate), and one deterministic
    md5-rotated easy negative from a different group.  The asset table
    is catalog-sized and broadcasts; per-doc work is two broadcast
    joins — scan-shaped at any corpus size.  Composed from the same
    green legs as multimodal_dedup_manifest (pHash groups via the
    image_phash pipeline, attachment via the deterministic map the
    oracle replays)."""
    from .operators.multimodal import (
        image_phash,
        phash_candidate_pairs,
        resize_images,
        synthetic_media,
    )

    media = synthetic_media(spark, 64)
    originals = media.filter(F.col("modality") == "image").select(
        "media_id", F.lit("image").alias("modality"), "payload"
    )
    resized = resize_images(media, max_side=32).select(
        (F.col("media_id") + 1000).alias("media_id"),
        F.lit("image").alias("modality"),
        "payload",
    )
    # materialize the codec output once (catalog-sized): it feeds the
    # pair generator (consumed eagerly inside connected_components) AND
    # the ranked join — unchecked, the pandas-UDF decode runs twice.
    hashes = image_phash(originals.unionByName(resized)).localCheckpoint(
        eager=True
    )
    comp = dedup.connected_components(phash_candidate_pairs(hashes, max_hamming=10))
    ranked = (
        hashes.join(comp, hashes["media_id"] == comp["node"], "left")
        .select(
            "media_id",
            F.coalesce("label", F.col("media_id")).cast("long").alias("grp"),
        )
        .withColumn(
            "rnk", F.row_number().over(Window.orderBy("media_id")) - 1
        )
    )
    att = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0, 3 * (F.expr("doc_id DIV 2") % 22)
        )
        .otherwise(1000 + 3 * (F.expr("(doc_id - 1) DIV 2") % 22))
        .alias("media_id"),
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("neg#"), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(44),
        ).alias("h"),
    )
    attg = att.join(F.broadcast(ranked), "media_id").select(
        "doc_id", "media_id", "h", "grp"
    )
    r = F.broadcast(ranked.select(
        F.col("media_id").alias("m2"), F.col("grp").alias("g2"), "rnk"
    ))
    pos = attg.select("doc_id", "media_id", F.lit("pos").alias("pair_type"))
    hard = (
        attg.join(r, (F.col("g2") == F.col("grp")) & (F.col("m2") != F.col("media_id")))
        .select("doc_id", F.col("m2").alias("media_id"), F.lit("hard_neg").alias("pair_type"))
    )
    w_pick = Window.partitionBy("doc_id").orderBy(
        F.pmod(F.col("rnk") - F.col("h") + 44, F.lit(44))
    )
    easy = (
        attg.join(r, F.col("g2") != F.col("grp"))
        .withColumn("pick", F.row_number().over(w_pick))
        .filter(F.col("pick") == 1)
        .select("doc_id", F.col("m2").alias("media_id"), F.lit("easy_neg").alias("pair_type"))
    )
    return pos.unionByName(hard).unionByName(easy)


@register(
    "cluster_balanced_sample",
    f"""
    WITH asgn AS (
      SELECT * FROM ({clustering.kmeans_oracle_sql(k=_KMEANS_K, iters=_KMEANS_ITERS)})
    ), sz AS (
      SELECT cluster, COUNT(*) AS c FROM asgn GROUP BY cluster
    ), quota AS (SELECT MIN(c) AS q FROM sz),
    r AS (
      SELECT vec_id, cluster,
             ROW_NUMBER() OVER (PARTITION BY cluster
               ORDER BY md5(CAST(vec_id AS VARCHAR) || '#cbs'), vec_id) AS rk
      FROM asgn
    )
    SELECT vec_id, CAST(cluster AS INT) AS cluster, CAST(rk AS BIGINT) AS rk
    FROM r, quota WHERE rk <= q
    """,
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced corpus sampling: k-means the embedding space
    (the exact-decimal Lloyd's of kmeans_embeddings), then take an
    EQUAL number of vectors from every cluster — the smallest
    cluster's size — ranked by an RNG-free md5 draw (the
    label_balance_sample tactic applied to LEARNED clusters instead of
    labels).  The semantic-diversity rebalance pretraining mixtures
    apply when one topic dominates a crawl.  Scale shape: broadcast
    centroids + one partial-agg shuffle per Lloyd round, then one
    cluster-partitioned rank; the min-size quota is a 1-row
    broadcast."""
    asgn = clustering.kmeans_lloyd(
        load(spark, sf_dir, "embeddings"), k=_KMEANS_K, iters=_KMEANS_ITERS
    ).select("vec_id", "cluster")
    quota = F.broadcast(
        asgn.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.min("c").alias("q"))
    )
    draw = F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("#cbs")))
    w = Window.partitionBy("cluster").orderBy(draw, F.col("vec_id"))
    return (
        asgn.withColumn("rk", F.row_number().over(w).cast("long"))
        .crossJoin(quota)
        .filter(F.col("rk") <= F.col("q"))
        .select("vec_id", "cluster", "rk")
    )


_KMV_OVERLAP_K = 64


@register(
    "kmv_set_overlap",
    f"""
    WITH ha AS (
      SELECT DISTINCT ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)),
        1, 13))::BIGINT AS h
      FROM orders
    ), hb AS (
      SELECT DISTINCT ('0x' || substring(md5(CAST(c_custkey AS VARCHAR)),
        1, 13))::BIGINT AS h
      FROM customer
    ), merged AS (
      SELECT COALESCE(ha.h, hb.h) AS h,
             CASE WHEN ha.h IS NULL THEN 0 ELSE 1 END AS in_a,
             CASE WHEN hb.h IS NULL THEN 0 ELSE 1 END AS in_b
      FROM ha FULL OUTER JOIN hb ON ha.h = hb.h
    ), topk AS (
      SELECT * FROM merged ORDER BY h LIMIT {_KMV_OVERLAP_K}
    ), agg AS (
      SELECT COUNT(*) AS kk, MAX(h) AS hk, SUM(in_a * in_b) AS c FROM topk
    ), exact AS (
      SELECT COUNT(*) AS n_union, SUM(in_a * in_b) AS n_inter FROM merged
    )
    SELECT CAST({_KMV_OVERLAP_K} AS INT) AS k,
           CAST(n_union AS BIGINT) AS n_union_exact,
           CASE WHEN n_union >= {_KMV_OVERLAP_K}
                THEN ROUND(CAST({_KMV_OVERLAP_K - 1} AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / hk, 4)
                ELSE CAST(n_union AS DOUBLE) END AS union_est,
           CAST(n_inter AS BIGINT) AS n_inter_exact,
           ROUND(CAST(c AS DOUBLE) / kk, 6) AS jaccard_est,
           CASE WHEN n_union >= {_KMV_OVERLAP_K}
                THEN ROUND(c * (CAST({_KMV_OVERLAP_K - 1} AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
                  / hk) / kk, 4)
                ELSE CAST(n_inter AS DOUBLE) END AS inter_est
    FROM agg, exact
    """,
)
def kmv_set_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set algebra: union/intersection/Jaccard estimates
    between the customers-who-ordered set and the full customer
    catalog, from one merged k-minimum-values sketch, with exact
    counts alongside (the row exhibits its own sketch error).  Md5-
    deterministic, so the estimates themselves are oracle-checked —
    the same contract as kmv_distinct/HLL (operators/sketches.py,
    kmv_set_overlap)."""
    from .operators import sketches

    return sketches.kmv_set_overlap(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        "o_custkey",
        "c_custkey",
        k=_KMV_OVERLAP_K,
    )


_SPAN_B, _SPAN_L, _SPAN_RATE = 8, 3, 40


@register(
    "span_corruption_examples",
    f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
               AS toks
      FROM documents
    ), sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0
    ), blocks AS (
      SELECT doc_id, n, b,
             toks[b * {_SPAN_B} + 1 : least((b + 1) * {_SPAN_B}, n)] AS btoks,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#'
               || CAST(b AS VARCHAR)), 1, 8))::BIGINT % 100 < {_SPAN_RATE}
               AS sel0,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#'
               || CAST(b AS VARCHAR)), 9, 8))::BIGINT
               % {_SPAN_B - _SPAN_L + 1} AS INT) AS off
      FROM sized,
           LATERAL (SELECT unnest(generate_series(0,
             CAST(ceil(n / {_SPAN_B}.0) AS INT) - 1)) AS b)
    ), numbered AS (
      SELECT *, sel0 AND off < len(btoks) AS sel,
             CASE WHEN sel0 AND off < len(btoks)
                  THEN ROW_NUMBER() OVER (
                    PARTITION BY doc_id, sel0 AND off < len(btoks)
                    ORDER BY b) - 1 END AS k
      FROM blocks
    ), pieces AS (
      SELECT doc_id, n, b, sel,
             CASE WHEN sel THEN
               list_concat(list_concat(
                 btoks[1:off],
                 ['<extra_id_' || CAST(k AS VARCHAR) || '>']),
                 CASE WHEN off + {_SPAN_L} < len(btoks)
                      THEN btoks[off + {_SPAN_L} + 1:]
                      ELSE []::VARCHAR[] END)
             ELSE btoks END AS inp_piece,
             CASE WHEN sel THEN
               list_concat(['<extra_id_' || CAST(k AS VARCHAR) || '>'],
                 btoks[off + 1 : least(off + {_SPAN_L}, len(btoks))])
             ELSE []::VARCHAR[] END AS tgt_piece,
             CASE WHEN sel THEN least({_SPAN_L}, len(btoks) - off)
                  ELSE 0 END AS m
      FROM numbered
    )
    SELECT doc_id,
           CAST(ANY_VALUE(n) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
           CAST(SUM(m) AS BIGINT) AS n_masked,
           CAST(floor(SUM(m) * 1000000 / ANY_VALUE(n)) AS BIGINT)
             AS mask_ppm,
           COALESCE(array_to_string(flatten(list(inp_piece ORDER BY b)),
             ' '), '') AS input_text,
           -- array_to_string([]) is NULL in DuckDB; Spark array_join
           -- gives '' (an unmasked doc has an empty target)
           COALESCE(array_to_string(flatten(list(tgt_piece ORDER BY b)),
             ' '), '') AS target_text
    FROM pieces GROUP BY doc_id
    """,
)
def span_corruption_examples_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption over the documents table: deterministic
    block-grid span selection (md5 hex words), sentinel-numbered input/
    target pair per document — built in one per-row fold, scan->map
    with zero shuffle (operators/packing.py).  Oracle: the relational
    twin (per-block rows + ordered list aggregation)."""
    return packing.span_corruption_examples(
        load(spark, sf_dir, "documents"),
        block=_SPAN_B,
        span_len=_SPAN_L,
        rate_pct=_SPAN_RATE,
    )


# ---------------------------------------------------------------------------
# Comment-tree / hierarchy family (operators/trees.py).  The reference
# ingests Reddit comment FORESTS and flattens them with a parent-id FK
# (SURVEY §2 O2); these queries add the recursive-CTE class Spark SQL
# cannot express natively — root-to-node paths, thread conversations,
# subtree rollups — as bounded-depth frontier descents.  The forest is
# derived deterministically from documents: _TREE_ROOTS roots, every
# node n >= _TREE_ROOTS has parent (n - _TREE_ROOTS) // 2 (a binary
# forest, depth ~log2(N) — the shape of a real comment section).
# ---------------------------------------------------------------------------
_TREE_ROOTS = 8
_TREE_DEPTH = 16

_TREE_NODES_SQL = f"""
  SELECT doc_id AS id,
         CASE WHEN doc_id >= {_TREE_ROOTS}
              THEN (doc_id - {_TREE_ROOTS}) // 2 END AS parent_id
  FROM documents
"""

_TREE_PATHS_SQL = f"""
  nodes AS ({_TREE_NODES_SQL}),
  p AS (
    SELECT id AS node_id, id AS root_id, 0 AS depth,
           CAST(id AS VARCHAR) AS path
    FROM nodes WHERE parent_id IS NULL
    UNION ALL
    SELECT n.id, p.root_id, p.depth + 1,
           p.path || '/' || CAST(n.id AS VARCHAR)
    FROM nodes n JOIN p ON n.parent_id = p.node_id
    WHERE p.depth < {_TREE_DEPTH}
  )
"""


def _tree_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.when(
            F.col("doc_id") >= _TREE_ROOTS,
            F.expr(f"CAST((doc_id - {_TREE_ROOTS}) DIV 2 AS BIGINT)"),
        ).alias("parent_id"),
    )


@register(
    "comment_tree_paths",
    f"""
    WITH RECURSIVE {_TREE_PATHS_SQL}
    SELECT node_id, root_id, depth, path FROM p
    """,
)
def comment_tree_paths_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root-to-node path materialization over the document comment
    forest — the WITH RECURSIVE query class done as a fixed-round
    frontier descent (operators/trees.py:tree_paths), one parent-keyed
    equi-join per level with lineage truncation.  Reference parity:
    thread reconstruction over the harvested comment tree (SURVEY §2
    O2)."""
    return trees.tree_paths(_tree_nodes(spark, sf_dir), max_depth=_TREE_DEPTH)


@register(
    "thread_conversations",
    f"""
    WITH RECURSIVE {_TREE_PATHS_SQL},
    leaves AS (
      SELECT * FROM p
      WHERE node_id NOT IN (
        SELECT parent_id FROM nodes WHERE parent_id IS NOT NULL)
    ), turns AS (
      SELECT l.node_id AS leaf_id, l.root_id, u.i,
             CASE WHEN (u.i - 1) % 2 = 0 THEN 'user'
                  ELSE 'assistant' END AS role,
             CAST(u.node_str AS BIGINT) AS turn_doc
      FROM leaves l,
      LATERAL (
        SELECT unnest(generate_series(1, len(string_split(l.path, '/'))))
                 AS i,
               unnest(string_split(l.path, '/')) AS node_str
      ) u
    )
    SELECT t.leaf_id, t.root_id,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           string_agg(t.role, ',' ORDER BY t.i) AS roles,
           CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS total_tokens,
           CAST(SUM(length(d.text)) AS BIGINT) AS total_chars
    FROM turns t JOIN documents d ON d.doc_id = t.turn_doc
    GROUP BY t.leaf_id, t.root_id
    """,
)
def thread_conversations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-turn conversation examples from the comment forest: each
    root-to-leaf path becomes one chat-training candidate with
    depth-alternating roles (root = user prompt), whitespace-token and
    char budgets summed along the path.  Leaf detection is one distinct
    + left-anti over the parent column; turn explosion is a Catalyst
    posexplode of the already-materialized path — no second descent."""
    nodes = _tree_nodes(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    paths = trees.tree_paths(nodes, max_depth=_TREE_DEPTH)
    leaves = trees.mark_leaves(paths, nodes).filter("is_leaf")
    turns = leaves.select(
        F.col("node_id").alias("leaf_id"),
        "root_id",
        F.posexplode(F.split("path", "/")).alias("i0", "node_str"),
    ).select(
        "leaf_id",
        "root_id",
        (F.col("i0") + 1).alias("i"),
        F.when(F.col("i0") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.col("node_str").cast("long").alias("turn_doc"),
    )
    toks = textstats.tokens("text")
    per_doc = docs.select(
        F.col("doc_id").alias("turn_doc"),
        F.size(toks).alias("_tok"),
        F.length("text").alias("_chars"),
    )
    return (
        turns.join(per_doc, "turn_doc")
        .groupBy("leaf_id", "root_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "role"))),
                    lambda s: s.role,
                ),
                ",",
            ).alias("roles"),
            F.sum("_tok").alias("total_tokens"),
            F.sum("_chars").alias("total_chars"),
        )
    )


@register(
    "thread_engagement_rollup",
    f"""
    WITH RECURSIVE {_TREE_PATHS_SQL},
    cover AS (
      SELECT CAST(u.anc AS BIGINT) AS node_id, p.node_id AS member
      FROM p, LATERAL (SELECT unnest(string_split(p.path, '/')) AS anc) u
    )
    SELECT c.node_id,
           CAST(COUNT(*) AS BIGINT) AS subtree_nodes,
           CAST(SUM(d.n_chars) AS BIGINT) AS subtree_n_chars
    FROM cover c JOIN documents d ON d.doc_id = c.member
    GROUP BY c.node_id
    """,
)
def thread_engagement_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node SUBTREE rollup (thread engagement: how many comments
    and how much text hang under each node, itself included) via path
    explode — each node's path names all its ancestors, so one
    Catalyst-native explode + one ancestor-keyed groupBy replaces the
    iterative upward pass (operators/trees.py:subtree_rollup)."""
    nodes = _tree_nodes(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    paths = trees.tree_paths(nodes, max_depth=_TREE_DEPTH)
    return trees.subtree_rollup(
        paths, docs.select(F.col("doc_id"), "n_chars"), "n_chars", id_col="doc_id"
    )


@register(
    "ks_price_drift",
    """
    WITH t AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 0 END AS a
      FROM orders
    ), c AS (
      SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
             CAST(SUM(1 - a) AS BIGINT) AS cb
      FROM t GROUP BY v
    ), n AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cb) AS BIGINT) AS nb FROM c
    ), d AS (
      SELECT v, ca * (SELECT nb FROM n) - cb * (SELECT na FROM n) AS d
      FROM c
    ), cum AS (
      SELECT SUM(d) OVER (ORDER BY v) AS cum FROM d
    ), m AS (
      SELECT CAST(MAX(ABS(cum)) AS BIGINT) AS mx FROM cum
    )
    SELECT n.na AS n_a, n.nb AS n_b,
           ROUND(CAST(m.mx AS DOUBLE)
                 / (CAST(n.na AS DOUBLE) * n.nb) + 1e-12, 6) AS ks_stat,
           ROUND(1.358 * sqrt(CAST(n.na + n.nb AS DOUBLE)
                 / (CAST(n.na AS DOUBLE) * n.nb)) + 1e-12, 6) AS ks_crit,
           CAST(m.mx AS DOUBLE) / (CAST(n.na AS DOUBLE) * n.nb)
             > 1.358 * sqrt(CAST(n.na + n.nb AS DOUBLE)
                            / (CAST(n.na AS DOUBLE) * n.nb)) AS drifted
    FROM n, m
    """,
)
def ks_price_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift gate between early
    (pre-1998) and late order prices — the distribution-free companion
    of the binned PSI monitor.  Exact-integer distributed shape
    (operators/relational.py:ks_two_sample): per-value counts, ONE
    range-partitioned prefix sum of ca*nb - cb*na (= na*nb*(F_a-F_b)),
    max|cum| / (na*nb) at the end — no bucketing, no single-task
    global window."""
    o = load(spark, sf_dir, "orders")
    return relational.ks_two_sample(
        o, "o_totalprice", F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )


@register(
    "source_keyness_terms",
    f"""
    WITH tok AS (
      SELECT source AS g,
             unnest(list_transform({_TOKS_SQL}, x -> lower(x))) AS term
      FROM documents
    ), gw AS (
      SELECT g, term, COUNT(*) AS a FROM tok GROUP BY g, term
    ), gt AS (
      SELECT g, CAST(SUM(a) AS BIGINT) AS n1 FROM gw GROUP BY g
    ), tw AS (
      SELECT term, CAST(SUM(a) AS BIGINT) AS t FROM gw GROUP BY term
    ), tot AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS n FROM gt
    ), scored AS (
      SELECT gw.g, gw.term, gw.a AS focus_count,
             tw.t - gw.a AS rest_count,
             ROUND(2.0 * (
               CASE WHEN gw.a > 0 THEN gw.a * ln(CAST(gw.a AS DOUBLE)
                 / (CAST(gt.n1 AS DOUBLE) * tw.t / CAST(tot.n AS DOUBLE)))
                 ELSE 0.0 END
             + CASE WHEN tw.t - gw.a > 0 THEN (tw.t - gw.a)
                 * ln(CAST(tw.t - gw.a AS DOUBLE)
                 / (CAST(tot.n - gt.n1 AS DOUBLE) * tw.t
                    / CAST(tot.n AS DOUBLE)))
                 ELSE 0.0 END
             ) + 1e-9, 4) AS g2
      FROM gw JOIN tw USING (term) JOIN gt USING (g), tot
      WHERE gw.a >= 3
        AND CAST(gw.a AS DOUBLE) / gt.n1
            > CAST(tw.t - gw.a AS DOUBLE) / (tot.n - gt.n1)
    )
    SELECT g AS source, term, focus_count, rest_count, g2, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY g ORDER BY g2 DESC, term ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def source_keyness_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 distinctive terms per document source by Dunning
    log-likelihood keyness (operators/textstats.py:keyness_loglr) —
    the per-term attribution of the per-group drift number
    unigram_divergence reports.  Vocabulary-granularity aggregates
    only; ranking over rounded G2 with a term tie-break keeps the
    window deterministic across engines."""
    return textstats.keyness_loglr(
        load(spark, sf_dir, "documents"), "source", "text", k=10, min_count=3
    )


_P1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508076003,
    0.9999988747974512,
    0.9999998885745217,
]
_P1_CASE = (
    "CASE "
    + " ".join(f"WHEN u < {p!r} THEN {k}" for k, p in enumerate(_P1_CDF))
    + f" ELSE {len(_P1_CDF)} END"
)


@register(
    "poisson_bootstrap_ci",
    f"""
    WITH base AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS k,
             CAST(o_totalprice AS DECIMAL(18,2)) AS x
      FROM orders
    ), draws AS (
      SELECT x,
             CAST(('0x' || substring(md5('boot|' || k || '|'
               || CAST(b AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
               / 4294967296.0 AS u,
             b
      FROM base, (SELECT unnest(generate_series(0, 99)) AS b)
    ), reps AS (
      SELECT b,
             CAST(SUM(CAST({_P1_CASE} AS DECIMAL(10,0)) * x) AS DOUBLE)
               / CAST(SUM(CAST({_P1_CASE} AS DECIMAL(10,0))) AS DOUBLE)
               AS m
      FROM draws GROUP BY b
    ), ci AS (
      SELECT ROUND(quantile_cont(m, 0.025) + 1e-9, 4) AS ci_lo,
             ROUND(quantile_cont(m, 0.975) + 1e-9, 4) AS ci_hi
      FROM reps
    ), pt AS (
      SELECT COUNT(*) AS n_rows,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*) + 1e-9, 4) AS mean
      FROM orders
    )
    SELECT pt.n_rows, 100 AS b_reps, pt.mean, ci.ci_lo, ci.ci_hi
    FROM pt, ci
    """,
)
def poisson_bootstrap_ci_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean order price
    (operators/sampling.py:poisson_bootstrap_ci) — the
    streaming-friendly bootstrap (Chamandy et al. 2012): per-(row,
    replicate) Poisson(1) weights from deterministic md5 fractions,
    B=100 replicate means via decimal-exact weighted sums that
    partial-aggregate map-side (the n x B explode never shuffles more
    than B rows per task)."""
    return sampling.poisson_bootstrap_ci(
        load(spark, sf_dir, "orders"), "o_orderkey", "o_totalprice", b_reps=100
    )


@register(
    "ab_conversion_ztest",
    """
    WITH agg AS (
      SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS na,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS nb,
             CAST(SUM(CASE WHEN user_id % 2 = 0
                       AND event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN user_id % 2 = 1
                       AND event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM events
    )
    SELECT na AS n_a, nb AS n_b, ca AS conv_a, cb AS conv_b,
           ROUND(CAST(ca AS DOUBLE) / na + 1e-9, 6) AS rate_a,
           ROUND(CAST(cb AS DOUBLE) / nb + 1e-9, 6) AS rate_b,
           ROUND((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
             / sqrt((CAST(ca AS DOUBLE) + cb) / (CAST(na AS DOUBLE) + nb)
                    * (1.0 - (CAST(ca AS DOUBLE) + cb)
                             / (CAST(na AS DOUBLE) + nb))
                    * (1.0 / na + 1.0 / nb)) + 1e-9, 4) AS z_stat,
           ABS((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
             / sqrt((CAST(ca AS DOUBLE) + cb) / (CAST(na AS DOUBLE) + nb)
                    * (1.0 - (CAST(ca AS DOUBLE) + cb)
                             / (CAST(na AS DOUBLE) + nb))
                    * (1.0 / na + 1.0 / nb))) > 1.96 AS significant
    FROM agg
    """,
)
def ab_conversion_ztest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B gate over events: users hash into two arms (user_id parity),
    success = a purchase event; pooled two-proportion z-test
    (operators/relational.py:two_proportion_ztest).  One map-side
    aggregate to four integers; the z arithmetic happens once on one
    row."""
    e = load(spark, sf_dir, "events")
    return relational.two_proportion_ztest(
        e, F.col("user_id") % 2 == 0, F.col("event_type") == "purchase"
    )


@register(
    "streaming_thread_paths",
    f"""
    WITH RECURSIVE {_TREE_PATHS_SQL}
    SELECT node_id, root_id, depth, path, TRUE AS attached FROM p
    """,
)
def streaming_thread_paths_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental thread-path maintenance AS A STREAM
    (streaming/threads.py): batch 0 carries the forest's first 100
    comments (all 8 roots + early levels), batch 1 the remaining 400 —
    every batch-1 node attaches either to a STORED batch-0 path (one
    parent-keyed join) or to a chain that arrived inside batch 1
    (bounded in-batch descent).  HARD-gated: the split never orphans a
    node (parents always arrive no later than children in heap order),
    so the two-batch protocol must converge to exactly the batch
    `tree_paths` answer — the oracle is the same WITH RECURSIVE the
    batch query uses.  Orphan/late-parent semantics are pytest-pinned
    (tests/test_streaming_threads.py)."""
    import os
    import tempfile

    from .streaming.threads import start_thread_paths_stream

    nodes = _tree_nodes(spark, sf_dir).orderBy("id")
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        os.makedirs(src)
        nodes.filter(F.col("id") < 100).coalesce(1).write.json(f"{src}/b0")
        nodes.filter(F.col("id") >= 100).coalesce(1).write.json(f"{src}/b1")
        now = 1_700_000_000
        for i, sub in enumerate(["b0", "b1"]):
            for fn in os.listdir(f"{src}/{sub}"):
                os.utime(f"{src}/{sub}/{fn}", (now + i, now + i))
        stream = (
            spark.readStream.schema("id LONG, parent_id LONG")
            .option("maxFilesPerTrigger", 1)
            .json(f"{src}/b*")
        )
        q = start_thread_paths_stream(
            stream, f"{tmp}/out", f"{tmp}/store", f"{tmp}/ckpt"
        )
        q.awaitTermination(180)
        out = spark.read.parquet(f"{tmp}/out").select(
            "node_id", "root_id", "depth", "path", "attached"
        )
        return out.localCheckpoint(eager=True)


@register(
    "cuped_variance_reduction",
    """
    WITH per_unit AS (
      SELECT o_custkey,
             COALESCE(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
               THEN CAST(o_totalprice AS DECIMAL(18,2)) END),
               CAST(0 AS DECIMAL(18,2))) AS x,
             COALESCE(SUM(CASE WHEN NOT (o_orderdate < TIMESTAMP '1998-01-01')
               THEN CAST(o_totalprice AS DECIMAL(18,2)) END),
               CAST(0 AS DECIMAL(18,2))) AS y
      FROM orders GROUP BY o_custkey
    ), mom AS (
      SELECT COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM per_unit
    )
    SELECT CAST(n AS BIGINT) AS n_units,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 + 1e-9, 6) AS theta,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 + 1e-9, 6) AS corr2,
           ROUND(100.0 * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                 + 1e-9, 2) AS var_reduction_pct
    FROM mom
    """,
)
def cuped_variance_reduction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013) over orders: pre-1998 customer spend as
    the covariate for in-period spend — theta and the variance fraction
    the adjustment removes (operators/relational.py:cuped_adjustment).
    The five moment sums are decimal-exact and order-free; floats only
    in the final one-row arithmetic."""
    o = load(spark, sf_dir, "orders")
    return relational.cuped_adjustment(
        o,
        "o_custkey",
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
    )


@register(
    "ab_srm_check",
    """
    WITH arms AS (
      SELECT DISTINCT user_id, user_id % 2 = 0 AS a FROM events
    ), agg AS (
      SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS nb
      FROM arms
    )
    SELECT na AS n_a, nb AS n_b,
           ROUND(CAST(na - nb AS DOUBLE) * CAST(na - nb AS DOUBLE)
                 / CAST(na + nb AS DOUBLE) + 1e-9, 4) AS chi2,
           CAST(na - nb AS DOUBLE) * CAST(na - nb AS DOUBLE)
             / CAST(na + nb AS DOUBLE) > 3.841 AS srm
    FROM agg
    """,
)
def ab_srm_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch gate for the user-parity experiment split
    (operators/relational.py:srm_check): chi-square over DISTINCT unit
    assignments — the sanity check that must pass before
    ab_conversion_ztest's metric read means anything."""
    e = load(spark, sf_dir, "events")
    return relational.srm_check(e, "user_id", F.col("user_id") % 2 == 0)


@register(
    "pmi_collocations",
    f"""
    WITH tk AS (
      SELECT list_transform({_TOKS_SQL}, x -> lower(x)) AS t FROM documents
    ), bg AS (
      SELECT u.w1, u.w2, COUNT(*) AS n_pair
      FROM tk, LATERAL (
        SELECT unnest(t[1:len(t) - 1]) AS w1,
               unnest(t[2:len(t)]) AS w2
      ) u
      WHERE len(t) >= 2
      GROUP BY u.w1, u.w2
    ), uni AS (
      SELECT u.w, COUNT(*) AS n_w
      FROM tk, LATERAL (SELECT unnest(t) AS w) u
      GROUP BY u.w
    ), tot AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n FROM uni),
    btot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS b FROM bg),
    cand AS (
      SELECT bg.w1, bg.w2, bg.n_pair, u1.n_w AS n_w1, u2.n_w AS n_w2,
             ROUND(ln((CAST(bg.n_pair AS DOUBLE) / CAST(btot.b AS DOUBLE))
               / ((CAST(u1.n_w AS DOUBLE) / CAST(tot.n AS DOUBLE))
                  * (CAST(u2.n_w AS DOUBLE) / CAST(tot.n AS DOUBLE))))
               + 1e-9, 4) AS pmi
      FROM bg
      JOIN uni u1 ON u1.w = bg.w1
      JOIN uni u2 ON u2.w = bg.w2, tot, btot
      WHERE bg.n_pair >= 5
    )
    SELECT w1, w2, n_pair, n_w1, n_w2, pmi, rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, w1, w2) AS rank
      FROM cand
    ) WHERE rank <= 20
    """,
)
def pmi_collocations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PMI collocations over the documents corpus
    (operators/textstats.py:pmi_collocations) — lexical association
    mining at vocabulary-pair granularity; totals ride 1-row broadcast
    cross joins and the top-k cut is a TakeOrdered on the rounded PMI
    with a pair tie-break."""
    return textstats.pmi_collocations(
        load(spark, sf_dir, "documents"), "text", min_count=5, k=20
    )


@register(
    "shapley_attribution",
    """
    WITH conv AS (
      SELECT user_id AS u, MIN(ts) AS cts FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ), users AS (
      SELECT DISTINCT user_id AS u FROM events
    ), che AS (
      SELECT e.user_id AS u,
             CASE e.event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                  WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END AS b
      FROM events e LEFT JOIN conv c ON c.u = e.user_id
      WHERE e.event_type IN ('click', 'error', 'signup', 'view')
        AND (c.cts IS NULL OR e.ts < c.cts)
    ), bm AS (
      SELECT u, CAST(bit_or(b) AS BIGINT) AS mask FROM che GROUP BY u
    ), jm AS (
      SELECT COALESCE(bm.mask, 0) AS mask,
             CASE WHEN c.cts IS NULL THEN 0 ELSE 1 END AS conv
      FROM users LEFT JOIN bm ON bm.u = users.u
      LEFT JOIN conv c ON c.u = users.u
    ), mc AS (
      SELECT mask, COUNT(*) AS nj, CAST(SUM(conv) AS BIGINT) AS nc
      FROM jm GROUP BY mask
    ), ss AS (
      SELECT g.s,
             CAST(COALESCE(SUM(mc.nj), 0) AS BIGINT) AS n,
             CAST(COALESCE(SUM(mc.nc), 0) AS BIGINT) AS c
      FROM (SELECT unnest(generate_series(0, 15)) AS s) g
      LEFT JOIN mc ON (mc.mask & g.s) = mc.mask
      GROUP BY g.s
    ), v AS (
      SELECT s, CASE WHEN n > 0 THEN CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                     ELSE 0.0 END AS v
      FROM ss
    ), marg AS (
      SELECT ch.name AS channel,
             CAST(ROUND((v1.v - v0.v)
               * (CASE WHEN bit_count(v0.s) = 0 THEN 0.25
                       WHEN bit_count(v0.s) = 1 THEN 1.0/12.0
                       WHEN bit_count(v0.s) = 2 THEN 1.0/12.0
                       ELSE 0.25 END)
               * 1000000000.0 + 1e-9) AS BIGINT) AS m_e9
      FROM (VALUES (0, 'click'), (1, 'error'), (2, 'signup'),
                   (3, 'view')) ch(i, name)
      JOIN v v0 ON (v0.s & (1 << ch.i)) = 0
      JOIN v v1 ON v1.s = v0.s + (1 << ch.i)
    )
    SELECT channel,
           ROUND(SUM(m_e9) / 1000000000.0 + 1e-9, 6) AS shapley
    FROM marg GROUP BY channel
    """,
)
def shapley_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley channel attribution over events
    (operators/windows.py:shapley_attribution): per-user channel SETS
    before first purchase collapse to <= 2^k mask counts, coalition
    values come from a subset-sum join over 16 masks, and marginals
    are e9-quantized integers so the per-channel sum is order-free.
    The heavy lifting (one journey groupBy) is the only event-scale
    stage; everything after is broadcast-sized."""
    _utc(spark)
    return windows.shapley_attribution(
        load(spark, sf_dir, "events"),
        "user_id",
        "event_type",
        "ts",
        "purchase",
        ["click", "error", "signup", "view"],
    )


def _markov_oracle_sql() -> str:
    """DuckDB replay of the exact-integer Markov attribution: identical
    journey windowing, identical row-floored e12 transition matrix per
    removal variant, and the same 11 HUGEINT matrix squarings
    (operators/windows.py:_markov_absorption_e12) — every entry is
    (sum of products) // 1e12, order-free integer math on both sides."""
    e = 10**12
    sq = "\n".join(
        f"""    , t{m} AS MATERIALIZED (
      SELECT a.variant, a.src, b.dst,
             CAST(SUM(a.p * b.p) // {e} AS HUGEINT) AS p
      FROM t{m - 1} a JOIN t{m - 1} b
        ON b.variant = a.variant AND b.src = a.dst
      GROUP BY a.variant, a.src, b.dst
    )"""
        for m in range(1, 12)
    )
    return f"""
    WITH conv AS (
      SELECT user_id AS u, MIN(ts) AS cts FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ), che AS (
      SELECT e.user_id AS u, e.ts, e.event_id,
             CASE e.event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                  WHEN 'signup' THEN 3 WHEN 'view' THEN 4 END AS st
      FROM events e LEFT JOIN conv c ON c.u = e.user_id
      WHERE e.event_type IN ('click', 'error', 'signup', 'view')
        AND (c.cts IS NULL OR e.ts < c.cts)
    ), seq AS (
      SELECT u, st,
             ROW_NUMBER() OVER (PARTITION BY u ORDER BY ts, event_id) AS rn,
             LEAD(st) OVER (PARTITION BY u ORDER BY ts, event_id) AS nxt
      FROM che
    ), users AS (
      SELECT DISTINCT user_id AS u FROM events
    ), ustat AS (
      SELECT users.u, CASE WHEN c.cts IS NULL THEN 6 ELSE 5 END AS endst
      FROM users LEFT JOIN conv c ON c.u = users.u
    ), tr AS (
      SELECT 0 AS src, st AS dst FROM seq WHERE rn = 1
      UNION ALL
      SELECT st, nxt FROM seq WHERE nxt IS NOT NULL
      UNION ALL
      SELECT s.st, us.endst FROM seq s JOIN ustat us ON us.u = s.u
      WHERE s.nxt IS NULL
      UNION ALL
      SELECT 0, us.endst FROM ustat us
      WHERE us.u NOT IN (SELECT DISTINCT u FROM che)
    ), cnt AS MATERIALIZED (
      SELECT src, dst, COUNT(*) AS c FROM tr GROUP BY src, dst
    ), vars AS (
      SELECT unnest(generate_series(0, 4)) AS variant
    ), vcnt AS (
      SELECT v.variant, c.src,
             CASE WHEN v.variant > 0 AND c.dst = v.variant THEN 6
                  ELSE c.dst END AS dst,
             CAST(SUM(c.c) AS BIGINT) AS c
      FROM cnt c, vars v
      GROUP BY v.variant, c.src,
               CASE WHEN v.variant > 0 AND c.dst = v.variant THEN 6
                    ELSE c.dst END
    ), rt AS (
      SELECT variant, src, CAST(SUM(c) AS BIGINT) AS tot
      FROM vcnt GROUP BY variant, src
    ), t0 AS MATERIALIZED (
      SELECT v.variant, v.src, v.dst,
             CAST(CAST(v.c AS HUGEINT) * {e} // rt.tot AS HUGEINT) AS p
      FROM vcnt v JOIN rt ON rt.variant = v.variant AND rt.src = v.src
      UNION ALL
      SELECT variant, 5, 5, CAST({e} AS HUGEINT) FROM vars
      UNION ALL
      SELECT variant, 6, 6, CAST({e} AS HUGEINT) FROM vars
    )
{sq}
    , pf AS (
      SELECT CAST(p AS HUGEINT) AS p FROM t11
      WHERE variant = 0 AND src = 0 AND dst = 5
    ), res AS (
      SELECT ch.name AS channel,
             COALESCE((SELECT p FROM t11
                       WHERE variant = ch.i AND src = 0 AND dst = 5),
                      0) AS pr
      FROM (VALUES (1, 'click'), (2, 'error'), (3, 'signup'),
                   (4, 'view')) ch(i, name)
    ), tot AS (
      SELECT SUM((SELECT p FROM pf) - pr) AS t FROM res
    )
    SELECT channel,
           ROUND(CAST((SELECT p FROM pf) AS DOUBLE) / {e}.0 + 1e-9, 6)
             AS p_conv,
           ROUND(CAST((SELECT p FROM pf) - pr AS DOUBLE)
                 / CAST((SELECT p FROM pf) AS DOUBLE) + 1e-9, 6)
             AS removal_effect,
           ROUND(CAST((SELECT p FROM pf) - pr AS DOUBLE)
                 / CAST((SELECT t FROM tot) AS DOUBLE) + 1e-9, 6) AS share
    FROM res
    """


@register("markov_attribution", _markov_oracle_sql())
def markov_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution over events
    (operators/windows.py:markov_removal_attribution): first-order
    chain on per-user channel sequences, conversion credit = drop in
    start->conv absorption when a channel's inbound edges redirect to
    null.  The event-scale stages are one lead window and one
    (src,dst) count; the <= 36-row chain is a driver-side exact-int
    solve (BPE-merge-table precedent), replayed bit-for-bit by the
    oracle's HUGEINT squaring CTEs."""
    _utc(spark)
    return windows.markov_removal_attribution(
        load(spark, sf_dir, "events"),
        "user_id",
        "event_type",
        "ts",
        "event_id",
        "purchase",
        ["click", "error", "signup", "view"],
    )


@register(
    "sft_thread_examples",
    f"""
    WITH RECURSIVE {_TREE_PATHS_SQL},
    leaves AS (
      SELECT * FROM p
      WHERE node_id NOT IN (
        SELECT parent_id FROM nodes WHERE parent_id IS NOT NULL)
    ), capped AS (
      SELECT * FROM (
        SELECT node_id, root_id, depth, path,
               ROW_NUMBER() OVER (
                 PARTITION BY root_id
                 ORDER BY md5(CAST(node_id AS VARCHAR)), node_id
               ) AS pick
        FROM leaves
      ) WHERE pick <= 2
    ), turns AS (
      SELECT l.node_id AS leaf_id, l.root_id, u.i,
             CAST(u.node_str AS BIGINT) AS turn_doc
      FROM capped l,
      LATERAL (
        SELECT unnest(generate_series(1, len(string_split(l.path, '/'))))
                 AS i,
               unnest(string_split(l.path, '/')) AS node_str
      ) u
    )
    SELECT t.leaf_id, t.root_id,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN (t.i - 1) % 2 = 1
                    THEN len({_TOKS_SQL}) ELSE 0 END) AS BIGINT)
             AS loss_tokens,
           ROUND(CAST(SUM(CASE WHEN (t.i - 1) % 2 = 1
                         THEN len({_TOKS_SQL}) ELSE 0 END) AS DOUBLE)
                 / SUM(len({_TOKS_SQL})) + 1e-9, 4) AS loss_fraction
    FROM turns t JOIN documents d ON d.doc_id = t.turn_doc
    GROUP BY t.leaf_id, t.root_id
    """,
)
def sft_thread_examples_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT-ready thread examples: root-to-leaf conversations capped at
    2 per thread (md5-rank pick — correlated siblings share most of
    their turns, so uncapped threads flood the batch with near-copies)
    and accounted for training: total tokens vs LOSS tokens (assistant
    turns only — odd depths under the root-is-user convention) and the
    loss fraction an SFT trainer would see.  Composition of
    trees.tree_paths + mark_leaves + a per-root rank window over leaf
    rows (bounded by thread width) + the token budget join."""
    nodes = _tree_nodes(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    paths = trees.tree_paths(nodes, max_depth=_TREE_DEPTH)
    leaves = trees.mark_leaves(paths, nodes).filter("is_leaf")
    w = Window.partitionBy("root_id").orderBy(
        F.md5(F.col("node_id").cast("string")), F.col("node_id")
    )
    capped = (
        leaves.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= 2)
    )
    turns = capped.select(
        F.col("node_id").alias("leaf_id"),
        "root_id",
        F.posexplode(F.split("path", "/")).alias("i0", "node_str"),
    ).select(
        "leaf_id",
        "root_id",
        F.col("i0").alias("_i0"),
        F.col("node_str").cast("long").alias("turn_doc"),
    )
    toks = textstats.tokens("text")
    per_doc = docs.select(
        F.col("doc_id").alias("turn_doc"), F.size(toks).alias("_tok")
    )
    loss_tok = F.when(F.col("_i0") % 2 == 1, F.col("_tok")).otherwise(F.lit(0))
    return (
        turns.join(per_doc, "turn_doc")
        .groupBy("leaf_id", "root_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("_tok").alias("total_tokens"),
            F.sum(loss_tok).alias("loss_tokens"),
            F.round(
                F.sum(loss_tok).cast("double") / F.sum("_tok") + F.lit(1e-9), 4
            ).alias("loss_fraction"),
        )
    )


@register(
    "target_encode_loo",
    """
    WITH agg AS (
      SELECT o_orderpriority AS cat,
             COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
      FROM orders GROUP BY o_orderpriority
    ), g AS (
      SELECT CAST(SUM(n) AS BIGINT) AS gn, SUM(s) AS gs FROM agg
    )
    SELECT o.o_orderkey, o.o_orderpriority AS cat,
           ROUND((CAST(a.s AS DOUBLE) - o.o_totalprice
                  + 20.0 * (CAST(g.gs AS DOUBLE) / g.gn))
                 / (CAST(a.n AS DOUBLE) - 1.0 + 20.0) + 1e-9, 4)
             AS target_enc
    FROM orders o JOIN agg a ON a.cat = o.o_orderpriority, g
    """,
)
def target_encode_loo_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding with prior smoothing (m=20) —
    the standard high-cardinality categorical feature for tabular
    models, LOO so a row never sees its own label (the leakage the
    naive mean encoding commits).  enc_i = (S_cat - y_i + m*prior) /
    (n_cat - 1 + m) with decimal-exact per-category sums; the
    category table broadcasts back onto the rows (one narrow map-side
    join, no second shuffle)."""
    o = load(spark, sf_dir, "orders")
    agg = o.groupBy(F.col("o_orderpriority").alias("cat")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_s"),
    )
    g = agg.agg(
        F.sum("_n").cast("long").alias("_gn"), F.sum("_s").alias("_gs")
    )
    prior = F.col("_gs").cast("double") / F.col("_gn")
    enc = (
        F.col("_s").cast("double") - F.col("o_totalprice") + F.lit(20.0) * prior
    ) / (F.col("_n").cast("double") - F.lit(1.0) + F.lit(20.0))
    return (
        o.join(F.broadcast(agg), o["o_orderpriority"] == F.col("cat"))
        .crossJoin(F.broadcast(g))
        .select(
            "o_orderkey",
            F.col("cat"),
            F.round(enc + F.lit(1e-9), 4).alias("target_enc"),
        )
    )


@register(
    "streaming_reservoir_sample",
    """
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS priority
    FROM documents
    ORDER BY priority, doc_id
    LIMIT 64
    """,
)
def streaming_reservoir_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k=64 reservoir over the document stream
    (streaming/reservoir.py): three micro-batches fold into k-row
    snapshots via the keep-k-smallest-md5 monoid.  HARD-gated by the
    monoid law itself: the stream's final reservoir must be BIT-EQUAL
    to the batch top-k over all documents (the oracle), independent of
    the batch split.  Replay idempotency and split-invariance are
    pytest-pinned (tests/test_streaming_reservoir.py)."""
    import os
    import tempfile

    from .streaming.reservoir import final_reservoir, start_reservoir_stream

    docs = load(spark, sf_dir, "documents").select("doc_id")
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        os.makedirs(src)
        docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.json(f"{src}/b0")
        docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.json(f"{src}/b1")
        docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.json(f"{src}/b2")
        now = 1_700_000_000
        for i, sub in enumerate(["b0", "b1", "b2"]):
            for fn in os.listdir(f"{src}/{sub}"):
                os.utime(f"{src}/{sub}/{fn}", (now + i, now + i))
        stream = (
            spark.readStream.schema("doc_id LONG")
            .option("maxFilesPerTrigger", 1)
            .json(f"{src}/b*")
        )
        q = start_reservoir_stream(
            stream, f"{tmp}/store", f"{tmp}/ckpt", "doc_id", k=64
        )
        q.awaitTermination(180)
        out = final_reservoir(spark, f"{tmp}/store").select("doc_id", "priority")
        return out.localCheckpoint(eager=True)


def _hilbert_oracle_sql(bits: int = 5, bucket_bits: int = 6) -> str:
    """Generated DuckDB replay of the Hilbert xy2d descent
    (operators/layout.py:hilbert_index): one CTE per level carrying the
    rotated/reflected (x, y) and the accumulated d — identical integer
    CASE logic, no bitwise xor (portable quadrant CASE on both sides)."""
    mx = (1 << bits) - 1
    levels = []
    prev = "hq"
    for i, lvl in enumerate(range(bits - 1, -1, -1)):
        s = 1 << lvl
        quad = (
            f"CASE WHEN (x & {s}) = 0 AND (y & {s}) = 0 THEN 0 "
            f"WHEN (x & {s}) = 0 THEN 1 "
            f"WHEN (y & {s}) = 0 THEN 3 ELSE 2 END"
        )
        xn = (
            f"CASE WHEN (y & {s}) > 0 THEN x ELSE "
            f"CASE WHEN (x & {s}) > 0 THEN {s - 1} - y ELSE y END END"
        )
        yn = (
            f"CASE WHEN (y & {s}) > 0 THEN y ELSE "
            f"CASE WHEN (x & {s}) > 0 THEN {s - 1} - x ELSE x END END"
        )
        levels.append(
            f"""    , h{i} AS (
      SELECT o_orderkey, {xn} AS x, {yn} AS y,
             d + {s * s} * ({quad}) AS d
      FROM {prev}
    )"""
        )
        prev = f"h{i}"
    lvl_sql = "\n".join(levels)
    return f"""
    WITH bounds AS (
      SELECT MIN(o_custkey) AS xlo, MAX(o_custkey) AS xhi,
             MIN(o_orderkey) AS ylo, MAX(o_orderkey) AS yhi
      FROM orders
    ), hq AS (
      SELECT o_orderkey,
             CAST(floor(((o_custkey - xlo) * {mx} * 1.0)
                        / greatest(xhi - xlo, 1)) AS BIGINT) AS x,
             CAST(floor(((o_orderkey - ylo) * {mx} * 1.0)
                        / greatest(yhi - ylo, 1)) AS BIGINT) AS y,
             CAST(0 AS BIGINT) AS d
      FROM orders CROSS JOIN bounds
    )
{lvl_sql}
    SELECT o_orderkey, CAST(d AS BIGINT) AS hvalue,
           CAST(d >> {2 * bits - bucket_bits} AS BIGINT) AS hbucket
    FROM {prev}
    """


@register("hilbert_layout", _hilbert_oracle_sql())
def hilbert_layout_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout assignment over (o_custkey, o_orderkey) —
    the locality-tighter sibling of zorder_layout (the Hilbert walk
    moves one cell per step, so equal-size code ranges are tighter
    rectangles and a predicate rectangle touches fewer buckets;
    tests/test_layout.py pins the comparison).  Same cost shape: one
    tiny bounds aggregate broadcast back, then a narrow zero-shuffle
    projection of pure-integer column expressions."""
    from .operators.layout import hilbert_assignment

    return hilbert_assignment(
        load(spark, sf_dir, "orders"), "o_custkey", "o_orderkey",
        bits=5, bucket_bits=6,
    ).select("o_orderkey", "hvalue", "hbucket")


@register(
    "shard_merkle_receipt",
    """
    WITH leaf AS (
      SELECT doc_id % 16 AS pos,
             md5(CAST(doc_id AS VARCHAR) || '|' || md5(text)) AS rdig
      FROM documents
    ), l0 AS (
      SELECT pos, md5(string_agg(rdig, '' ORDER BY rdig)) AS h
      FROM leaf GROUP BY pos
    ), l1 AS (
      SELECT pos // 2 AS pos, md5(string_agg(h, '' ORDER BY pos)) AS h
      FROM l0 GROUP BY pos // 2
    ), l2 AS (
      SELECT pos // 2 AS pos, md5(string_agg(h, '' ORDER BY pos)) AS h
      FROM l1 GROUP BY pos // 2
    ), l3 AS (
      SELECT pos // 2 AS pos, md5(string_agg(h, '' ORDER BY pos)) AS h
      FROM l2 GROUP BY pos // 2
    ), l4 AS (
      SELECT pos // 2 AS pos, md5(string_agg(h, '' ORDER BY pos)) AS h
      FROM l3 GROUP BY pos // 2
    )
    SELECT 0 AS level, pos, h FROM l0
    UNION ALL SELECT 1, pos, h FROM l1
    UNION ALL SELECT 2, pos, h FROM l2
    UNION ALL SELECT 3, pos, h FROM l3
    UNION ALL SELECT 4, pos, h FROM l4
    """,
)
def shard_merkle_receipt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle integrity receipt over the 16-shard document layout: leaf
    = order-free shard digest (md5 over the shard's sorted per-row
    digests), interior nodes pairwise-hash up to the root — the
    tamper-evident companion of corpus_manifest (a consumer verifies
    any single shard against the published root with a log-size proof
    path instead of re-hashing the corpus).  One corpus-scale groupBy
    builds the 16 leaves; the 15 interior nodes are four tiny
    aggregates."""
    docs = load(spark, sf_dir, "documents")
    leaf = docs.select(
        (F.col("doc_id") % 16).alias("pos"),
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.md5("text"))
        ).alias("rdig"),
    )
    cur = leaf.groupBy("pos").agg(
        F.md5(F.concat_ws("", F.array_sort(F.collect_list("rdig")))).alias("h")
    )
    out = cur.select(F.lit(0).alias("level"), "pos", "h")
    for lvl in range(1, 5):
        cur = (
            cur.groupBy(F.expr("pos DIV 2").alias("pos"))
            .agg(
                F.md5(
                    F.concat_ws(
                        "",
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("pos", "h"))),
                            lambda s: s.h,
                        ),
                    )
                ).alias("h")
            )
        )
        out = out.unionByName(cur.select(F.lit(lvl).alias("level"), "pos", "h"))
    return out


@register(
    "kaplan_meier_conversion",
    """
    WITH span AS (
      SELECT CAST(floor(epoch(MAX(ts))) AS BIGINT) AS obs_end FROM events
    ), per_user AS (
      SELECT (COALESCE(
                MIN(CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(epoch(ts)) AS BIGINT) END),
                (SELECT obs_end FROM span))
              - CAST(floor(MIN(epoch(ts))) AS BIGINT)) // 86400 AS dur,
             CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(epoch(ts)) AS BIGINT) END) IS NOT NULL
                  THEN 1 ELSE 0 END AS ev
      FROM events GROUP BY user_id
    ), per_dur AS (
      SELECT dur, COUNT(*) AS n_all, CAST(SUM(ev) AS BIGINT) AS converted
      FROM per_user GROUP BY dur
    ), tot AS (SELECT CAST(SUM(n_all) AS BIGINT) AS n FROM per_dur),
    curve AS (
      SELECT dur, converted,
             (SELECT n FROM tot)
               - COALESCE(SUM(n_all) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS at_risk
      FROM per_dur
    ), surv AS (
      SELECT dur, converted, CAST(at_risk AS BIGINT) AS at_risk,
             ROUND(exp(SUM(ln(greatest(1.0 - CAST(converted AS DOUBLE)
                               / CAST(at_risk AS DOUBLE), 1e-300)))
                       OVER (ORDER BY dur)) + 1e-9, 6) AS survival
      FROM curve
    )
    SELECT dur AS duration_days, at_risk, converted, survival
    FROM surv WHERE converted > 0
    """,
)
def kaplan_meier_conversion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-first-purchase curve with right-censoring
    (operators/windows.py:kaplan_meier_retention): per-user first
    activity and first purchase (event scale), never-purchasers
    censored at the observation end; the estimator then lives on
    distinct DURATION values bounded by the observation window in
    days — the ordered window's cumulative ln-sum accumulates
    sequentially, so the float survival values are
    engine-deterministic."""
    _utc(spark)
    return windows.kaplan_meier_retention(
        load(spark, sf_dir, "events"), "user_id", "ts", "event_type", "purchase"
    )


@register(
    "langid_confusion",
    f"""
    WITH s AS (
      SELECT doc_id, lang,
           {_LANG_SCORES_SQL}
      FROM documents
    ), b AS (
      SELECT *, greatest(score_de, score_en, score_fr) AS best FROM s
    ), pred AS (
      SELECT lang AS declared,
             CASE {_LANG_CASE_SQL} ELSE 'und' END AS predicted
      FROM b
    ), conf AS (
      SELECT declared, predicted, COUNT(*) AS n
      FROM pred GROUP BY declared, predicted
    )
    SELECT declared, predicted, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY declared) + 1e-9, 4) AS frac
    FROM conf
    """,
)
def langid_confusion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language identifier against the
    corpus's declared lang column — the eval the `langid` operator
    itself never reports (which declared languages leak into which
    predictions, and how much lands in 'und').  One groupBy to
    (declared, predicted) cells; the per-declared fraction is a window
    over the cell table (bounded by the language-pair vocabulary, not
    the corpus)."""
    docs = load(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("declared"),
        textstats.pred_lang_col("text").alias("predicted"),
    )
    conf = pred.groupBy("declared", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("declared")
    return conf.select(
        "declared",
        "predicted",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w) + F.lit(1e-9), 4
        ).alias("frac"),
    )


@register(
    "funnel_latency",
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'click'
                 THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS fc,
             MIN(CASE WHEN event_type = 'purchase'
                 THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS fp
      FROM events GROUP BY user_id
    ), lat AS (
      SELECT fp - fc AS secs FROM per_user
      WHERE fc IS NOT NULL AND fp IS NOT NULL AND fp > fc
    ), ranked AS (
      SELECT secs, ROW_NUMBER() OVER (ORDER BY secs) AS rn FROM lat
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lat)
    SELECT n.n AS n_converted,
           ROUND(CAST((SELECT secs FROM ranked
                  WHERE rn = CAST(ceil(0.5 * n.n) AS BIGINT)) AS DOUBLE)
                 / 60.0 + 1e-9, 2) AS p50_min,
           ROUND(CAST((SELECT secs FROM ranked
                  WHERE rn = CAST(ceil(0.9 * n.n) AS BIGINT)) AS DOUBLE)
                 / 60.0 + 1e-9, 2) AS p90_min,
           ROUND(CAST((SELECT secs FROM ranked
                  WHERE rn = CAST(ceil(0.95 * n.n) AS BIGINT)) AS DOUBLE)
                 / 60.0 + 1e-9, 2) AS p95_min
    FROM n
    """,
)
def funnel_latency_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase latency percentiles — the time dimension
    funnel_conversion's counts don't report.  NEAREST-RANK percentiles
    (value at rank ceil(q*n)) rather than interpolated: selection of an
    exact integer-second value is engine-deterministic where the two
    engines' linear-interpolation formulas differ in the last ulp and
    can straddle a rounding boundary.  Ranks come from
    with_global_row_numbers (range-partitioned two-pass numbering), so
    there is no single-task sort even with one latency row per user."""
    _utc(spark)
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "click", F.unix_timestamp("ts"))
        ).alias("fc"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_timestamp("ts"))
        ).alias("fp"),
    )
    lat = per_user.filter(
        F.col("fc").isNotNull() & F.col("fp").isNotNull() & (F.col("fp") > F.col("fc"))
    ).select((F.col("fp") - F.col("fc")).alias("secs"))
    ranked = relational.with_global_row_numbers(lat, [F.col("secs")], "rn")
    n = lat.agg(F.count(F.lit(1)).cast("long").alias("n"))
    picks = ranked.crossJoin(F.broadcast(n))
    out = None
    for name, q in (("p50_min", 0.5), ("p90_min", 0.9), ("p95_min", 0.95)):
        sel = picks.filter(
            F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("long")
        ).select(
            F.round(F.col("secs") / F.lit(60.0) + F.lit(1e-9), 2).alias(name)
        )
        out = sel if out is None else out.crossJoin(F.broadcast(sel))
    return n.select(F.col("n").alias("n_converted")).crossJoin(F.broadcast(out))


@register(
    "streaming_topk_terms",
    f"""
    WITH tok AS (
      SELECT unnest(list_transform({_TOKS_SQL}, x -> lower(x))) AS term
      FROM documents
    ), c AS (
      SELECT term, COUNT(*) AS n FROM tok GROUP BY term
    )
    SELECT term, CAST(n AS BIGINT) AS n FROM c
    ORDER BY n DESC, term ASC LIMIT 25
    """,
)
def streaming_topk_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-25 terms over the document stream
    (streaming/topk.py): three micro-batches write term-count DELTAS;
    integer counts under addition are a monoid, so the merged top-k is
    BIT-EQUAL to the batch answer at any split — the oracle asserts
    exactly that.  Replay idempotency and split-invariance pinned in
    tests/test_streaming_topk.py."""
    import os
    import tempfile

    from .streaming.topk import start_topk_terms_stream, topk_terms

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        os.makedirs(src)
        for i in range(3):
            docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.json(
                f"{src}/b{i}"
            )
        now = 1_700_000_000
        for i in range(3):
            for fn in os.listdir(f"{src}/b{i}"):
                os.utime(f"{src}/b{i}/{fn}", (now + i, now + i))
        stream = (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .json(f"{src}/b*")
        )
        q = start_topk_terms_stream(stream, f"{tmp}/store", f"{tmp}/ckpt")
        q.awaitTermination(180)
        out = topk_terms(spark, f"{tmp}/store", k=25)
        return out.localCheckpoint(eager=True)


@register(
    "ks_drift_by_segment",
    """
    WITH t AS (
      SELECT o_orderpriority AS g, o_totalprice AS v,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 0 END AS a
      FROM orders
    ), c AS (
      SELECT g, v, CAST(SUM(a) AS BIGINT) AS ca,
             CAST(SUM(1 - a) AS BIGINT) AS cb
      FROM t GROUP BY g, v
    ), n AS (
      SELECT g, CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cb) AS BIGINT) AS nb
      FROM c GROUP BY g
    ), d AS (
      SELECT c.g, c.v, n.na, n.nb, c.ca * n.nb - c.cb * n.na AS d
      FROM c JOIN n USING (g)
    ), cum AS (
      SELECT g, na, nb,
             SUM(d) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM d
    )
    SELECT g AS o_orderpriority,
           ANY_VALUE(na) AS n_a, ANY_VALUE(nb) AS n_b,
           ROUND(CAST(MAX(ABS(cum)) AS DOUBLE)
                 / (CAST(ANY_VALUE(na) AS DOUBLE) * ANY_VALUE(nb))
                 + 1e-12, 6) AS ks_stat,
           ROUND(1.358 * sqrt(CAST(ANY_VALUE(na) + ANY_VALUE(nb) AS DOUBLE)
                 / (CAST(ANY_VALUE(na) AS DOUBLE) * ANY_VALUE(nb)))
                 + 1e-12, 6) AS ks_crit,
           CAST(MAX(ABS(cum)) AS DOUBLE)
             / (CAST(ANY_VALUE(na) AS DOUBLE) * ANY_VALUE(nb))
             > 1.358 * sqrt(CAST(ANY_VALUE(na) + ANY_VALUE(nb) AS DOUBLE)
                 / (CAST(ANY_VALUE(na) AS DOUBLE) * ANY_VALUE(nb))) AS drifted
    FROM cum GROUP BY g
    """,
)
def ks_drift_by_segment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority-segment KS drift sheet
    (operators/relational.py:ks_two_sample_grouped): the partitioned
    form of ks_price_drift — the cumsum window partitions by segment,
    so it parallelizes across segments with no global prefix-sum
    machinery."""
    o = load(spark, sf_dir, "orders")
    return relational.ks_two_sample_grouped(
        o,
        "o_orderpriority",
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
    )


@register(
    "event_arm_chi2",
    """
    WITH cells AS (
      SELECT user_id % 2 = 0 AS r, event_type AS c, COUNT(*) AS o
      FROM events GROUP BY user_id % 2 = 0, event_type
    ), rt AS (SELECT r, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY r),
    ct AS (SELECT c, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY c),
    tot AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT r) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT c) AS BIGINT) AS nc
      FROM cells
    ), terms AS (
      SELECT tot.n, tot.nr, tot.nc,
             CAST(ROUND((CAST(o AS DOUBLE)
                    - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                      / CAST(n AS DOUBLE))
                  * (CAST(o AS DOUBLE)
                    - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                      / CAST(n AS DOUBLE))
                  / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                     / CAST(n AS DOUBLE)) * 1000000.0 + 1e-9) AS BIGINT)
               AS t_e6
      FROM cells JOIN rt USING (r) JOIN ct USING (c), tot
    )
    SELECT ANY_VALUE(n) AS n,
           CAST((ANY_VALUE(nr) - 1) * (ANY_VALUE(nc) - 1) AS BIGINT) AS dof,
           ROUND(CAST(SUM(t_e6) AS DOUBLE) / 1000000.0 + 1e-9, 4) AS chi2,
           ROUND(sqrt((CAST(SUM(t_e6) AS DOUBLE) / 1000000.0)
                 / (CAST(ANY_VALUE(n) AS DOUBLE)
                    * (least(ANY_VALUE(nr), ANY_VALUE(nc)) - 1)))
                 + 1e-9, 6) AS cramers_v,
           CAST(SUM(t_e6) AS DOUBLE) / 1000000.0 > 9.488 AS dependent
    FROM terms
    """,
)
def event_arm_chi2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of event mix vs experiment arm
    (operators/relational.py:chi2_independence) with Cramér's V —
    2x5 table so 4 df (crit 9.488 at 5%).  Per-cell terms are
    e6-quantized integers so the cell sum is order-free; everything
    after the one contingency groupBy lives on vocabulary-sized
    frames."""
    e = load(spark, sf_dir, "events")
    return relational.chi2_independence(
        e, F.col("user_id") % 2 == 0, F.col("event_type"), chi_crit=9.488
    )


@register(
    "poisson_bootstrap_lift",
    f"""
    WITH base AS (
      SELECT CAST(event_id AS VARCHAR) AS k,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s
      FROM events
    ), draws AS (
      SELECT a, s, b,
             -- one md5 = four 32-bit draws: hash per (row, b // 4),
             -- slice by b % 4 (4x fewer md5 on the n x B hot path)
             CAST(('0x' || substring(md5('lift|' || k || '|'
               || CAST(b // 4 AS VARCHAR)), 1 + 8 * (b % 4), 8))::BIGINT
               AS DOUBLE) / 4294967296.0 AS u
      FROM base, (SELECT unnest(generate_series(0, 99)) AS b)
    ), reps AS (
      SELECT b,
             CAST(SUM(({_P1_CASE}) * a * s) AS BIGINT) AS ca,
             CAST(SUM(({_P1_CASE}) * a) AS BIGINT) AS na,
             CAST(SUM(({_P1_CASE}) * (1 - a) * s) AS BIGINT) AS cb,
             CAST(SUM(({_P1_CASE}) * (1 - a)) AS BIGINT) AS nb
      FROM draws GROUP BY b
    ), diffs AS (
      SELECT b, CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb AS diff
      FROM reps
    ), ranked AS (
      SELECT diff, ROW_NUMBER() OVER (ORDER BY diff, b) AS rn FROM diffs
    ), pt AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n_a,
             CAST(SUM(1 - a) AS BIGINT) AS n_b,
             CAST(SUM(a * s) AS BIGINT) AS sa,
             CAST(SUM((1 - a) * s) AS BIGINT) AS sb
      FROM base
    )
    SELECT n_a, n_b,
           ROUND(CAST(sa AS DOUBLE) / n_a + 1e-9, 6) AS rate_a,
           ROUND(CAST(sb AS DOUBLE) / n_b + 1e-9, 6) AS rate_b,
           ROUND(CAST(sa AS DOUBLE) / n_a
                 - CAST(sb AS DOUBLE) / n_b + 1e-9, 6) AS lift,
           (SELECT ROUND(diff + 1e-9, 6) FROM ranked WHERE rn = 3) AS ci_lo,
           (SELECT ROUND(diff + 1e-9, 6) FROM ranked WHERE rn = 98) AS ci_hi,
           (SELECT ROUND(diff + 1e-9, 6) FROM ranked WHERE rn = 3) > 0
             OR (SELECT ROUND(diff + 1e-9, 6) FROM ranked WHERE rn = 98) < 0
             AS significant
    FROM pt
    """,
)
def poisson_bootstrap_lift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap CI for the purchase-rate LIFT between user-parity arms
    (operators/sampling.py:poisson_bootstrap_lift) — the uncertainty
    band ab_conversion_ztest's point statistic doesn't give.  Exact
    integer replicate sums, nearest-rank CI over the B replicate
    diffs."""
    e = load(spark, sf_dir, "events")
    return sampling.poisson_bootstrap_lift(
        e,
        "event_id",
        F.col("user_id") % 2 == 0,
        F.col("event_type") == "purchase",
        b_reps=100,
    )


@register(
    "funnel_stage_report",
    """
    WITH e AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    r1 AS (
      SELECT user_id, ts, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM e WHERE event_type = 'view'
    ),
    s1 AS (SELECT user_id, ts AS t1, event_id AS e1 FROM r1 WHERE rn = 1),
    r2 AS (
      SELECT c.user_id, c.ts, c.event_id,
             row_number() OVER (PARTITION BY c.user_id ORDER BY c.ts, c.event_id) AS rn
      FROM e c JOIN s1 ON s1.user_id = c.user_id
      WHERE c.event_type = 'click'
        AND (c.ts > s1.t1 OR (c.ts = s1.t1 AND c.event_id > s1.e1))
    ),
    s2 AS (SELECT user_id, ts AS t2, event_id AS e2 FROM r2 WHERE rn = 1),
    r3 AS (
      SELECT c.user_id, c.ts, c.event_id,
             row_number() OVER (PARTITION BY c.user_id ORDER BY c.ts, c.event_id) AS rn
      FROM e c JOIN s2 ON s2.user_id = c.user_id
      WHERE c.event_type = 'purchase'
        AND (c.ts > s2.t2 OR (c.ts = s2.t2 AND c.event_id > s2.e2))
    ),
    s3 AS (SELECT user_id, ts AS t3 FROM r3 WHERE rn = 1),
    l2 AS (
      SELECT CAST(floor(epoch(s2.t2)) AS BIGINT)
             - CAST(floor(epoch(s1.t1)) AS BIGINT) AS secs
      FROM s2 JOIN s1 USING (user_id)
    ),
    l3 AS (
      SELECT CAST(floor(epoch(s3.t3)) AS BIGINT)
             - CAST(floor(epoch(s2.t2)) AS BIGINT) AS secs
      FROM s3 JOIN s2 USING (user_id)
    ),
    rk2 AS (SELECT secs, ROW_NUMBER() OVER (ORDER BY secs) AS rn FROM l2),
    rk3 AS (SELECT secs, ROW_NUMBER() OVER (ORDER BY secs) AS rn FROM l3),
    n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s1),
    n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s2),
    n3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s3)
    SELECT 1 AS stage, 'view' AS step, (SELECT n FROM n1) AS n_reached,
           CAST(NULL AS DOUBLE) AS conv_from_prev,
           CAST(NULL AS DOUBLE) AS p50_latency_min
    UNION ALL
    SELECT 2, 'click', (SELECT n FROM n2),
           ROUND(CAST((SELECT n FROM n2) AS DOUBLE)
                 / (SELECT n FROM n1) + 1e-9, 4),
           ROUND(CAST((SELECT secs FROM rk2
                  WHERE rn = CAST(ceil(0.5 * (SELECT n FROM n2)) AS BIGINT))
                 AS DOUBLE) / 60.0 + 1e-9, 2)
    UNION ALL
    SELECT 3, 'purchase', (SELECT n FROM n3),
           ROUND(CAST((SELECT n FROM n3) AS DOUBLE)
                 / (SELECT n FROM n2) + 1e-9, 4),
           ROUND(CAST((SELECT secs FROM rk3
                  WHERE rn = CAST(ceil(0.5 * (SELECT n FROM n3)) AS BIGINT))
                 AS DOUBLE) / 60.0 + 1e-9, 2)
    """,
)
def funnel_stage_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage funnel report — the product-analytics deliverable the
    pieces compose into: users reaching each strict-ordered stage,
    conversion from the previous stage, and the NEAREST-RANK median
    latency between stages (ranks via the range-partitioned two-pass
    numbering; no single-task sort, no cross-engine interpolation).
    Composition of windows.funnel_stages + with_global_row_numbers."""
    _utc(spark)
    fs = windows.funnel_stages(
        load(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "event_type",
        _FUNNEL_STEPS,
        tiebreak="event_id",
    ).persist()
    try:
        out = None
        prev_n = None
        for i, step in enumerate(_FUNNEL_STEPS, start=1):
            reached = fs.filter(F.col(f"ts_step{i}").isNotNull())
            n_i = reached.agg(F.count(F.lit(1)).cast("long").alias("n"))
            if i == 1:
                row = n_i.select(
                    F.lit(i).alias("stage"),
                    F.lit(step).alias("step"),
                    F.col("n").alias("n_reached"),
                    F.lit(None).cast("double").alias("conv_from_prev"),
                    F.lit(None).cast("double").alias("p50_latency_min"),
                )
            else:
                lat = reached.select(
                    (
                        F.unix_timestamp(f"ts_step{i}")
                        - F.unix_timestamp(f"ts_step{i - 1}")
                    ).alias("secs")
                )
                ranked = relational.with_global_row_numbers(
                    lat, [F.col("secs")], "rn"
                )
                med = ranked.crossJoin(F.broadcast(n_i)).filter(
                    F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")).cast("long")
                ).select(
                    F.round(
                        F.col("secs").cast("double") / F.lit(60.0) + F.lit(1e-9), 2
                    ).alias("p50_latency_min")
                )
                row = (
                    n_i.crossJoin(F.broadcast(prev_n.withColumnRenamed("n", "_pn")))
                    .crossJoin(F.broadcast(med))
                    .select(
                        F.lit(i).alias("stage"),
                        F.lit(step).alias("step"),
                        F.col("n").alias("n_reached"),
                        F.round(
                            F.col("n").cast("double") / F.col("_pn") + F.lit(1e-9),
                            4,
                        ).alias("conv_from_prev"),
                        "p50_latency_min",
                    )
                )
            row = row.localCheckpoint(eager=True)
            out = row if out is None else out.unionByName(row)
            prev_n = n_i
        return out
    finally:
        fs.unpersist()


@register(
    "streaming_lateness_audit",
    """
    WITH e AS (SELECT event_id % 3 AS b, ts FROM events),
    m AS (SELECT b, MAX(ts) AS mx FROM e GROUP BY b),
    marks AS (
      SELECT d.b, MAX(m.mx) AS mark
      FROM (SELECT DISTINCT b FROM e) d LEFT JOIN m ON m.b < d.b
      GROUP BY d.b
    )
    SELECT e.b AS batch, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN marks.mark IS NOT NULL AND e.ts < marks.mark
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           MAX(CASE WHEN marks.mark IS NOT NULL AND e.ts < marks.mark
               THEN CAST(floor(epoch(marks.mark)) AS BIGINT)
                    - CAST(floor(epoch(e.ts)) AS BIGINT) END) AS max_late_sec
    FROM e JOIN marks ON marks.b = e.b
    GROUP BY e.b
    """,
)
def streaming_lateness_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arrival audit AS A STREAM (streaming/lateness.py): three
    event micro-batches measured against the running event-time
    high-water mark — the observability rows a deployment uses to
    CHOOSE its watermark delay.  HARD-gated: the protocol is
    deterministic given the batch split, so the oracle replays the
    per-batch marks in SQL (mark = max ts over earlier batches) and
    every audit row value-hashes against it."""
    import os
    import tempfile

    from .streaming.lateness import start_lateness_audit_stream

    _utc(spark)
    ev = load(spark, sf_dir, "events").select("event_id", "ts")
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        os.makedirs(src)
        for i in range(3):
            (
                ev.filter(F.col("event_id") % 3 == i)
                .select("event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"))
                .coalesce(1)
                .write.json(f"{src}/b{i}")
            )
        now = 1_700_000_000
        for i in range(3):
            for fn in os.listdir(f"{src}/b{i}"):
                os.utime(f"{src}/b{i}/{fn}", (now + i, now + i))
        stream = (
            spark.readStream.schema("event_id LONG, ts TIMESTAMP")
            .option("maxFilesPerTrigger", 1)
            .json(f"{src}/b*")
        )
        q = start_lateness_audit_stream(
            stream, f"{tmp}/out", f"{tmp}/marks", f"{tmp}/ckpt"
        )
        q.awaitTermination(180)
        out = spark.read.parquet(f"{tmp}/out").select(
            F.col("batch").cast("long").alias("batch"),
            "n_rows",
            "n_late",
            "max_late_sec",
        )
        return out.localCheckpoint(eager=True)


@register(
    "km_conversion_by_arm",
    """
    WITH span AS (
      SELECT CAST(floor(epoch(MAX(ts))) AS BIGINT) AS obs_end FROM events
    ), per_user AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS grp,
             (COALESCE(
                MIN(CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(epoch(ts)) AS BIGINT) END),
                (SELECT obs_end FROM span))
              - CAST(floor(MIN(epoch(ts))) AS BIGINT)) // 86400 AS dur,
             CASE WHEN MIN(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(epoch(ts)) AS BIGINT) END)
                       IS NOT NULL
                  THEN 1 ELSE 0 END AS ev
      FROM events GROUP BY user_id
    ), per_dur AS (
      SELECT grp, dur, COUNT(*) AS n_all, CAST(SUM(ev) AS BIGINT) AS converted
      FROM per_user GROUP BY grp, dur
    ), tot AS (
      SELECT grp, CAST(SUM(n_all) AS BIGINT) AS n FROM per_dur GROUP BY grp
    ), curve AS (
      SELECT p.grp, p.dur, p.converted,
             t.n - COALESCE(SUM(p.n_all) OVER (PARTITION BY p.grp
               ORDER BY p.dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS at_risk
      FROM per_dur p JOIN tot t ON t.grp = p.grp
    ), surv AS (
      SELECT grp, dur, converted, CAST(at_risk AS BIGINT) AS at_risk,
             ROUND(exp(SUM(ln(greatest(1.0 - CAST(converted AS DOUBLE)
                               / CAST(at_risk AS DOUBLE), 1e-300)))
                       OVER (PARTITION BY grp ORDER BY dur)) + 1e-9, 6)
               AS survival
      FROM curve
    )
    SELECT grp, dur AS duration_days, at_risk, converted, survival
    FROM surv WHERE converted > 0
    """,
)
def km_conversion_by_arm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival A/B: one right-censored time-to-first-purchase KM
    curve per user-parity arm
    (operators/windows.py:kaplan_meier_by_group) — every window
    partitions by arm, so arms parallelize natively and each arm's
    estimator matches the single-arm form exactly (unit-pinned)."""
    _utc(spark)
    return windows.kaplan_meier_by_group(
        load(spark, sf_dir, "events"),
        F.when(F.col("user_id") % 2 == 0, F.lit("a")).otherwise(F.lit("b")),
        "user_id",
        "ts",
        "event_type",
        "purchase",
    )


@register(
    "degree_powerlaw",
    """
    WITH pairs AS (
      SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), edges AS (
      SELECT cnode AS src FROM pairs
      UNION ALL SELECT snode FROM pairs
    ), deg AS (
      SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY src
    ), hist AS (
      SELECT degree, COUNT(*) AS n FROM deg GROUP BY degree
    ), pts AS (
      SELECT CAST(ROUND(ln(CAST(degree AS DOUBLE)) * 1000000.0 + 1e-9)
               AS BIGINT) AS x,
             CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1000000.0 + 1e-9)
               AS BIGINT) AS y
      FROM hist
    ), mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pts
    ), st AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
             (SELECT CAST(SUM(degree) AS BIGINT) FROM deg) AS n_halfedges,
             (SELECT CAST(MAX(degree) AS BIGINT) FROM deg) AS max_degree
    )
    SELECT st.n_nodes, st.n_halfedges, st.max_degree,
           ROUND(CASE WHEN CAST(k AS DOUBLE) * sxx
                           - CAST(sx AS DOUBLE) * sx = 0 THEN 0.0
                 ELSE (CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                      / (CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 END + 1e-9, 4) AS loglog_slope,
           ROUND(CASE WHEN (CAST(k AS DOUBLE) * sxx
                            - CAST(sx AS DOUBLE) * sx)
                           * (CAST(k AS DOUBLE) * syy
                              - CAST(sy AS DOUBLE) * sy) = 0 THEN 0.0
                 ELSE (CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                      * (CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                      / ((CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                         * (CAST(k AS DOUBLE) * syy
                            - CAST(sy AS DOUBLE) * sy))
                 END + 1e-9, 4) AS r2
    FROM mom, st
    """,
)
def degree_powerlaw_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution power-law diagnostic over the co-purchase
    graph: degree histogram + OLS of ln(count) on ln(degree) — the
    heavy-tail check that tells you whether skew mitigation (salting,
    hub capping) is needed before joining on this key space.  The
    ln points are e6-quantized so the moment sums are exact integers
    (order-free); slope is scale-invariant under the quantization.
    Everything past the one degree groupBy lives on histogram rows
    (bounded by max degree)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    edges = graph.bipartite_copurchase_edges(li, o)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n"))
    pts = hist.select(
        F.round(F.log(F.col("degree").cast("double")) * F.lit(1e6) + F.lit(1e-9))
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("n").cast("double")) * F.lit(1e6) + F.lit(1e-9))
        .cast("long")
        .alias("y"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    st = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("degree").cast("long").alias("n_halfedges"),
        F.max("degree").cast("long").alias("max_degree"),
    )
    k = F.col("k").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov = k * sxy - sx * F.col("sy")
    varx = k * sxx - sx * F.col("sx")
    vary = k * syy - sy * F.col("sy")
    return st.crossJoin(F.broadcast(mom)).select(
        "n_nodes",
        "n_halfedges",
        "max_degree",
        F.round(
            F.when(varx == 0, F.lit(0.0)).otherwise(cov / varx) + F.lit(1e-9), 4
        ).alias("loglog_slope"),
        F.round(
            F.when(varx * vary == 0, F.lit(0.0)).otherwise(cov * cov / (varx * vary))
            + F.lit(1e-9),
            4,
        ).alias("r2"),
    )


@register(
    "source_length_ci",
    f"""
    WITH base AS (
      SELECT source AS g, CAST(doc_id AS VARCHAR) AS k,
             CAST(n_chars AS DECIMAL(18,2)) AS x
      FROM documents
    ), draws AS (
      SELECT g, x,
             CAST(('0x' || substring(md5('boot|' || k || '|'
               || CAST(b AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
               / 4294967296.0 AS u,
             b
      FROM base, (SELECT unnest(generate_series(0, 99)) AS b)
    ), reps AS (
      SELECT g, b,
             CAST(SUM(CAST({_P1_CASE} AS DECIMAL(10,0)) * x) AS DOUBLE)
               / CAST(SUM(CAST({_P1_CASE} AS DECIMAL(10,0))) AS DOUBLE) AS m
      FROM draws GROUP BY g, b
    ), ranked AS (
      SELECT g, b, m,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY m, b) AS rn
      FROM reps
    ), pt AS (
      SELECT source AS g, COUNT(*) AS n_rows,
             ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*) + 1e-9, 4) AS mean
      FROM documents GROUP BY source
    )
    SELECT pt.g AS source, pt.n_rows, 100 AS b_reps, pt.mean,
           lo.ci_lo, hi.ci_hi
    FROM pt
    JOIN (SELECT g, ROUND(m + 1e-9, 4) AS ci_lo FROM ranked WHERE rn = 3) lo
      ON lo.g = pt.g
    JOIN (SELECT g, ROUND(m + 1e-9, 4) AS ci_hi FROM ranked WHERE rn = 98) hi
      ON hi.g = pt.g
    """,
)
def source_length_ci_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mean document length with Poisson-bootstrap 95% CIs
    (operators/sampling.py:poisson_bootstrap_ci_grouped) — the grouped
    uncertainty band a per-source quality dashboard needs.  Exact
    decimal replicate sums; nearest-rank CI within each source's B
    replicate means."""
    return sampling.poisson_bootstrap_ci_grouped(
        load(spark, sf_dir, "documents"), "source", "doc_id", "n_chars",
        b_reps=100,
    )


# ---------------------------------------------------------------------------
# Persistent ANN index (round 10): build-once / probe-many split of the
# fused IVF and PQ forms — centroids, the cell-partitioned inverted
# file, and the PQ codebook/codes persist to parquet under a version
# key; probes load metadata and scan only the probed cell partitions.
# ---------------------------------------------------------------------------

_ANNIDX_QUERY_IDS = [3, 4, 5]


def _annidx_assign_sql() -> str:
    """Shared CTE text replaying the persisted cell assignment (same
    derivation as ann_ivf_topk: nearest of the first-16 seed centroids,
    6-decimal rounded cosine, centroid-id tie-break)."""
    return f"""
    cents AS (
      SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < {_IVF_CENTROIDS}
    ), scored AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.centroid_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 6) AS ccos
      FROM embeddings e CROSS JOIN cents c
    ), assigned AS (
      SELECT vec_id, v, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored) WHERE rk = 1
    )"""


@register(
    "ann_index_build",
    "WITH "
    + _annidx_assign_sql()
    + """
    SELECT CAST(cell AS INT) AS cell, COUNT(*) AS n_vectors,
           MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id
    FROM assigned GROUP BY cell
    """,
)
def ann_index_build_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build + persist the ANN index (operators/ann_index.py): IVF
    centroids, the cell-partitioned inverted file, PQ codebook + codes —
    the manifest is read BACK from the persisted inverted file, so the
    hash gate proves the on-disk layout, not an in-flight frame."""
    import tempfile

    from .operators import ann_index

    with tempfile.TemporaryDirectory() as tmp:
        out = ann_index.ann_index_build(
            load(spark, sf_dir, "embeddings"),
            f"{tmp}/annidx",
            n_centroids=_IVF_CENTROIDS,
            m=_PQ_M,
            k_codes=_PQ_K,
        )
        return out.localCheckpoint(eager=True)


@register(
    "ann_index_probe",
    "WITH "
    + _annidx_assign_sql()
    + f""",
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT vec_id AS query_id, v AS qv, centroid_id AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored WHERE vec_id IN ({', '.join(map(str, _ANNIDX_QUERY_IDS))})) WHERE rk <= {_IVF_PROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.v), 4) AS cos
      FROM assigned a JOIN probes p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM cand) WHERE rk <= {_IVF_K}
    """,
)
def ann_index_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the PERSISTED index — no rebuild: centroid table read from
    parquet, inverted file pruned to the probed cell directories
    (dynamic partition pruning), exact cosine re-rank.  Byte-identical
    to the fused ivf_topk (pinned by tests/test_ann_index.py)."""
    import tempfile

    from .operators import ann_index

    with tempfile.TemporaryDirectory() as tmp:
        ann_index.ann_index_build(
            load(spark, sf_dir, "embeddings"),
            f"{tmp}/annidx",
            n_centroids=_IVF_CENTROIDS,
            m=_PQ_M,
            k_codes=_PQ_K,
        ).collect()
        out = ann_index.ann_index_probe(
            spark,
            f"{tmp}/annidx",
            _ANNIDX_QUERY_IDS,
            k=_IVF_K,
            n_probe=_IVF_PROBE,
        )
        return out.localCheckpoint(eager=True)


_ANNIDX_FILTER_QUERY_IDS = [9, 10, 11]


@register(
    "ann_index_probe_filtered",
    "WITH "
    + _annidx_assign_sql()
    + f""",
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT vec_id AS query_id, v AS qv, centroid_id AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored WHERE vec_id IN ({', '.join(map(str, _ANNIDX_FILTER_QUERY_IDS))})) WHERE rk <= {_IVF_PROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.v), 4) AS cos
      FROM assigned a JOIN probes p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id AND a.vec_id % 3 = 0
    )
    SELECT query_id, neighbor_id, cos, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM cand) WHERE rk <= {_IVF_K}
    """,
)
def ann_index_probe_filtered_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN probe (ann_index.ann_index_probe with ``allowed``) — the
    metadata-predicate + vector-search retrieval shape: candidates from
    the probed cells semi-join the allowed-id set (here vec_id % 3 = 0,
    standing in for any metadata predicate) BEFORE the cosine re-rank
    (IVF post-filtering; selective predicates recover recall via
    n_probe — the FAISS IDSelector trade).  The oracle is the IVF rule
    with the same predicate on candidates."""
    import tempfile

    from .operators import ann_index

    emb = load(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory() as tmp:
        ann_index.ann_index_build(
            emb, f"{tmp}/annidx",
            n_centroids=_IVF_CENTROIDS, m=_PQ_M, k_codes=_PQ_K,
        ).collect()
        allowed = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
        out = ann_index.ann_index_probe(
            spark, f"{tmp}/annidx", _ANNIDX_FILTER_QUERY_IDS,
            k=_IVF_K, n_probe=_IVF_PROBE, allowed=allowed,
        )
        return out.localCheckpoint(eager=True)


@register("ann_index_probe_vectors_filtered", _ORACLES["ann_index_probe_filtered"])
def ann_index_probe_vectors_filtered_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN probe with CALLER-SUPPLIED query vectors
    (ann_index.ann_index_probe given a (query_id, qv) frame and
    ``allowed``): the metadata-predicate retrieval shape for the true
    serving case, where query embeddings arrive from outside the index.
    Here member vectors are passed as an external frame so the
    member-id oracle replays verbatim — results are byte-identical to
    the member-id filtered probe on the same queries (also pinned by
    tests/test_ann_index.py)."""
    import tempfile

    from .operators import ann_index

    emb = load(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory() as tmp:
        ann_index.ann_index_build(
            emb, f"{tmp}/annidx",
            n_centroids=_IVF_CENTROIDS, m=_PQ_M, k_codes=_PQ_K,
        ).collect()
        allowed = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
        qdf = emb.filter(
            F.col("vec_id").isin(_ANNIDX_FILTER_QUERY_IDS)
        ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        out = ann_index.ann_index_probe(
            spark, f"{tmp}/annidx", qdf,
            k=_IVF_K, n_probe=_IVF_PROBE, allowed=allowed,
        )
        return out.localCheckpoint(eager=True)


@register(
    "ann_index_stats",
    "WITH "
    + _annidx_assign_sql()
    + """
    SELECT CAST(cell AS INT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN vec_id BETWEEN 100 AND 149 THEN 1 ELSE 0 END) AS BIGINT) AS n_dead,
           CAST(COUNT(*) - SUM(CASE WHEN vec_id BETWEEN 100 AND 149 THEN 1 ELSE 0 END) AS BIGINT) AS n_live
    FROM assigned GROUP BY cell
    """,
)
def ann_index_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index monitoring (ann_index.ann_index_stats): per-cell physical
    rows, live rows, and tombstoned-but-unreclaimed rows — the
    compaction-debt and cell-skew dashboard.  Build, tombstone ids
    100-149, report; the oracle replays the assignment with the same
    delete range, so a stats query that miscounts tombstones or reads
    a stale generation flips the hash."""
    import tempfile

    from .operators import ann_index

    emb = load(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/annidx"
        ann_index.ann_index_build(
            emb, idx, n_centroids=_IVF_CENTROIDS, m=_PQ_M, k_codes=_PQ_K
        ).collect()
        ann_index.ann_index_delete(spark, idx, list(range(100, 150))).collect()
        out = ann_index.ann_index_stats(spark, idx)
        return out.localCheckpoint(eager=True)


@register(
    "ann_index_probe_pq",
    "WITH "
    + _pq_base_sql()
    + f"""
    , dtable AS (
      SELECT l.vid AS query_id, c.sub, c.code,
             CAST(SUM((l.val - c.val) * (l.val - c.val)) * 1000000000000 AS BIGINT) AS d_e12
      FROM long l JOIN cent c
        ON l.dim // {_PQ_DSUB} = c.sub AND l.dim % {_PQ_DSUB} = c.sdim
      WHERE l.vid IN ({', '.join(map(str, _ANNIDX_QUERY_IDS))})
      GROUP BY 1, 2, 3
    ),
    adc AS (
      SELECT t.query_id, x.vid AS neighbor_id, CAST(SUM(t.d_e12) AS BIGINT) AS adc_e12
      FROM codes x JOIN dtable t ON x.sub = t.sub AND x.code = t.code
      WHERE x.vid <> t.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_e12, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_e12, neighbor_id) AS rk
      FROM adc
    ) WHERE rk <= 5
    """,
)
def ann_index_probe_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC probe off the persisted PQ codes + round-tripped DECIMAL(9,6)
    codebook — no re-encode; distances are the same e12 BIGINTs as the
    fused pq_adc_topk."""
    import tempfile

    from .operators import ann_index

    with tempfile.TemporaryDirectory() as tmp:
        ann_index.ann_index_build(
            load(spark, sf_dir, "embeddings"),
            f"{tmp}/annidx",
            n_centroids=_IVF_CENTROIDS,
            m=_PQ_M,
            k_codes=_PQ_K,
        ).collect()
        out = ann_index.ann_index_probe_pq(
            spark, f"{tmp}/annidx", _ANNIDX_QUERY_IDS, topk=5
        )
        return out.localCheckpoint(eager=True)


@register("ann_index_probe_ivfpq", _ORACLES["ivf_pq_topk"])
def ann_index_probe_ivfpq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite probe off the PERSISTED store
    (ann_index.ann_index_probe_ivfpq — round 12): the IVF half prunes
    the cell-partitioned inverted file to each query's n_probe cells
    on disk, the PQ half ADC-scores ONLY that candidate slice off the
    persisted codes (vs ann_index_probe_pq's corpus-wide ADC — the
    candidate join bounds the distance compute to ~n_probe/n_centroids
    of the corpus; the FAISS serving shape).
    Byte-identical to the fused similarity.ivf_pq_topk (pinned by
    tests/test_ann_index.py); the oracle IS ivf_pq_topk's composed
    IVF+ADC replay."""
    import tempfile

    from .operators import ann_index

    with tempfile.TemporaryDirectory() as tmp:
        ann_index.ann_index_build(
            load(spark, sf_dir, "embeddings"),
            f"{tmp}/annidx",
            n_centroids=_IVFPQ_CENTROIDS,
            m=_PQ_M,
            k_codes=_PQ_K,
        ).collect()
        out = ann_index.ann_index_probe_ivfpq(
            spark,
            f"{tmp}/annidx",
            _ANN_QUERY_IDS,
            topk=5,
            n_probe=_IVFPQ_PROBE,
        )
        return out.localCheckpoint(eager=True)


@register("ann_index_probe_ivfpq_vectors", _ORACLES["ivf_pq_topk"])
def ann_index_probe_ivfpq_vectors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ probe with CALLER-SUPPLIED query vectors
    (ann_index.ann_index_probe_ivfpq given a (query_id, qv) frame): the
    serving form, where query embeddings arrive from outside the index
    (here: member vectors passed as an external frame so the oracle can
    replay them).  Byte-identical to the member-id form on the same
    queries (pinned by tests/test_ann_index.py)."""
    import tempfile

    from .operators import ann_index

    emb = load(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory() as tmp:
        ann_index.ann_index_build(
            emb,
            f"{tmp}/annidx",
            n_centroids=_IVFPQ_CENTROIDS,
            m=_PQ_M,
            k_codes=_PQ_K,
        ).collect()
        qdf = emb.filter(F.col("vec_id").isin(_ANN_QUERY_IDS)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        out = ann_index.ann_index_probe_ivfpq(
            spark,
            f"{tmp}/annidx",
            qdf,
            topk=5,
            n_probe=_IVFPQ_PROBE,
        )
        return out.localCheckpoint(eager=True)


@register(
    "streaming_dedup_bounded",
    """
    WITH base AS (
      SELECT event_id, ts, user_id, value
      FROM events ORDER BY event_id LIMIT 500
    ), mx AS (SELECT MAX(ts) AS max_ts FROM base)
    SELECT event_id, ts, user_id, value FROM base
    UNION ALL
    SELECT event_id, max_ts + INTERVAL 1 HOUR AS ts, user_id, value
    FROM base, mx
    WHERE event_id % 7 = 0 AND ts + INTERVAL 2 HOUR <= max_ts
    """,
)
def streaming_dedup_bounded_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-BOUNDED streaming dedup (dropDuplicatesWithinWatermark,
    streaming/ingest.py:dedup_within_watermark) — the state-bounded twin
    SURVEY O38 recommends at scale, now gated end-to-end.

    Three time-ordered micro-batches (maxFilesPerTrigger=1, staggered
    mtimes), delay = 1 hour:
    - batch 1: 500 events (unique keys) — all emitted; watermark for the
      NEXT batch becomes max_ts - 1h.
    - batch 2: same-timestamp redeliveries (event_id % 5 == 0) — every
      one suppressed: a key whose state survived is deduped, and a key
      whose state expired is necessarily below the watermark (same ts)
      and dropped as late.  Bounded state cannot re-emit an
      unchanged-timestamp duplicate, ever.
    - batch 3: redeliveries of event_id % 7 == 0 stamped with a FRESH
      timestamp max_ts + 1h (above the watermark).  Emitted iff the
      original state was evicted at the end of batch 2, i.e. iff
      orig_ts + delay <= max_ts - delay — the out-of-window redelivery
      the unbounded form would still suppress.
    The oracle IS that window rule in SQL (the UNION arm's
    ts + 2h <= max_ts predicate); both SFs have a non-empty emitted AND
    suppressed slice, and no event sits on the 2h boundary, so the gate
    distinguishes all four paths (emit, dedup, late-drop, evict+emit)."""
    import os
    import tempfile
    import time as _time
    import uuid

    from .streaming.ingest import dedup_within_watermark

    base = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(500)
        .select("event_id", "ts", "user_id", "value")
        .cache()
    )
    max_ts = base.agg(F.max("ts")).first()[0]
    with tempfile.TemporaryDirectory() as tmp:
        d = f"{tmp}/stream"
        base.coalesce(1).write.parquet(d)
        batch1 = {n for n in os.listdir(d) if n.startswith("part-")}
        base.filter(F.col("event_id") % 5 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        batch12 = {n for n in os.listdir(d) if n.startswith("part-")}
        base.filter(F.col("event_id") % 7 == 0).withColumn(
            "ts", F.lit(max_ts) + F.expr("INTERVAL 1 HOUR")
        ).coalesce(1).write.mode("append").parquet(d)
        now = _time.time()
        for name in os.listdir(d):
            if not name.startswith("part-"):
                continue
            t = now - 120 if name in batch1 else (
                now - 60 if name in batch12 else now
            )
            os.utime(f"{d}/{name}", (t, t))
        stream = (
            spark.readStream.schema(base.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        qname = f"sdedup_{uuid.uuid4().hex[:8]}"
        q = (
            dedup_within_watermark(stream, ["event_id"], "ts", "1 hour")
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        out = spark.table(qname)
        res = spark.createDataFrame(out.collect(), out.schema)
    base.unpersist()
    return res


_ANNIDX_APPEND_QUERY_IDS = [6, 7, 8]


@register(
    "ann_index_append",
    "WITH "
    + _annidx_assign_sql()
    + f""",
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT vec_id AS query_id, v AS qv, centroid_id AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored WHERE vec_id IN ({', '.join(map(str, _ANNIDX_APPEND_QUERY_IDS))})) WHERE rk <= {_IVF_PROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.v), 4) AS cos
      FROM assigned a JOIN probes p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM cand) WHERE rk <= {_IVF_K}
    """,
)
def ann_index_append_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance (operators/ann_index.ann_index_append):
    build over the first half of the corpus, APPEND the second half
    against the frozen centroids/codebook, then probe.  Because the
    seed rows live in the first half, build+append leaves the same
    store as a one-shot build over everything — so the oracle is the
    plain full-corpus IVF rule, and a drifted assignment, lost append,
    or re-derived centroid flips the hash."""
    import tempfile

    from .operators import ann_index

    emb = load(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("long")).first()[0]
    with tempfile.TemporaryDirectory() as tmp:
        ann_index.ann_index_build(
            emb.filter(F.col("vec_id") <= half),
            f"{tmp}/annidx",
            n_centroids=_IVF_CENTROIDS,
            m=_PQ_M,
            k_codes=_PQ_K,
        ).collect()
        ann_index.ann_index_append(
            spark, emb.filter(F.col("vec_id") > half), f"{tmp}/annidx"
        ).collect()
        out = ann_index.ann_index_probe(
            spark,
            f"{tmp}/annidx",
            _ANNIDX_APPEND_QUERY_IDS,
            k=_IVF_K,
            n_probe=_IVF_PROBE,
        )
        return out.localCheckpoint(eager=True)


# Fellegi–Sunter priors (production: EM or labeled pairs; pinned
# literals here so weights are deterministic and SQL-replayable).
_FS_M = {"p_name": 0.95, "p_brand": 0.9, "p_type": 0.85, "p_size": 0.8}
_FS_MAX_BLOCK_SIGS = 512
_FS_U_FUZZY = 0.002


def _fs_oracle() -> str:
    def u_cte(col: str) -> str:
        return f"""
    u_{col} AS (
      SELECT CAST(SUM(cnt * (cnt - 1)) AS DOUBLE)
             / (CAST((SELECT n FROM nstat) AS DOUBLE)
                * ((SELECT n FROM nstat) - 1)) AS u
      FROM (SELECT COUNT(*) AS cnt FROM p GROUP BY {col})
    )"""

    def wpair(col: str, m: float) -> str:
        if col == "p_name":
            u_agree, u_dis = str(_FS_U_FUZZY), str(1 - _FS_U_FUZZY)
        else:
            u_agree, u_dis = (
                f"(SELECT u FROM u_{col})",
                f"(1 - (SELECT u FROM u_{col}))",
            )
        return (
            f"CAST(ROUND(ln({m} / {u_agree}) * 1000000) AS BIGINT) AS wa_{col},\n"
            f"      CAST(ROUND(ln({1 - m} / {u_dis}) * 1000000) AS BIGINT) AS wd_{col}"
        )

    fields = ["p_name", "p_brand", "p_type", "p_size"]
    score = " + ".join(
        f"(CASE WHEN agree_{c} THEN (SELECT wa_{c} FROM w) "
        f"ELSE (SELECT wd_{c} FROM w) END)"
        for c in fields
    )
    return f"""
    WITH p AS (
      SELECT p_partkey AS id, p_name, p_brand, p_type, p_size,
             split_part(p_name, ' ', 2) || '|' || substring(p_name, 1, 1) AS blk
      FROM part
    ), nstat AS (SELECT COUNT(*) AS n FROM p),
    {','.join(u_cte(c) for c in fields[1:])},
    w AS (
      SELECT {', '.join(wpair(c, _FS_M[c]) for c in fields)}
    ), sig AS (
      SELECT blk, p_name, p_brand, p_type, p_size,
             COUNT(*) AS cnt, MIN(id) AS rep
      FROM p GROUP BY 1, 2, 3, 4, 5
    ), bsz AS (
      SELECT blk, COUNT(*) AS nsig FROM sig GROUP BY blk
    ), s AS (
      SELECT g.* FROM sig g JOIN bsz z USING (blk)
      WHERE z.nsig <= {_FS_MAX_BLOCK_SIGS}
    ), cand AS (
      SELECT (levenshtein(a.p_name, b.p_name) <= 2) AS agree_p_name,
             (a.p_brand = b.p_brand) AS agree_p_brand,
             (a.p_type = b.p_type) AS agree_p_type,
             (a.p_size = b.p_size) AS agree_p_size,
             CAST(a.cnt * b.cnt AS BIGINT) AS np
      FROM s a JOIN s b ON a.blk = b.blk AND a.rep < b.rep
      UNION ALL
      SELECT TRUE, TRUE, TRUE, TRUE,
             CAST(cnt * (cnt - 1) // 2 AS BIGINT) AS np
      FROM s WHERE cnt >= 2
    )
    SELECT agree_p_name, agree_p_brand, agree_p_type, agree_p_size,
           CAST({score} AS BIGINT) AS score_e6,
           CAST(SUM(np) AS BIGINT) AS n_pairs
    FROM cand
    GROUP BY 1, 2, 3, 4, 5
    """


@register("fellegi_sunter_scores", _fs_oracle())
def fellegi_sunter_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage
    (operators/dedup.fellegi_sunter_patterns): the agreement-pattern
    decision table over blocked part-record pairs — fuzzy name
    comparator + three exact comparators, data-estimated u for the
    exact fields (the classical value-frequency estimate, exact BIGINT
    arithmetic up to one double division), supplied priors for m and
    the fuzzy u, and match weights as integer micro-nats so the whole
    table hash-matches the SQL replay."""
    p = load(spark, sf_dir, "part")
    blk = F.concat_ws(
        "|",
        F.split(F.col("p_name"), " ").getItem(1),
        F.substring(F.col("p_name"), 1, 1),
    )
    return dedup.fellegi_sunter_patterns(
        p,
        "p_partkey",
        blk,
        "p_name",
        ["p_brand", "p_type", "p_size"],
        m_probs=_FS_M,
        u_fuzzy=_FS_U_FUZZY,
        max_fuzzy_distance=2,
        max_block_sigs=_FS_MAX_BLOCK_SIGS,
    )


@register(
    "golden_record_merge",
    _ER_CLOSURE_SQL
    + """, mem AS (
      SELECT l.entity_id, pp.p_partkey, pp.p_name, pp.p_brand,
             pp.p_type, length(pp.p_name) AS nl
      FROM lab l JOIN part pp ON l.node = pp.p_partkey
    ), best AS (
      SELECT entity_id, COUNT(*) AS n_members,
             MIN({'a': -nl, 'b': p_partkey}) AS kk
      FROM mem GROUP BY entity_id
    ), gb AS (
      SELECT entity_id, golden_p_brand FROM (
        SELECT entity_id, p_brand AS golden_p_brand,
               row_number() OVER (PARTITION BY entity_id
                 ORDER BY COUNT(*) DESC, p_brand) AS rn
        FROM mem GROUP BY entity_id, p_brand) WHERE rn = 1
    ), gc AS (
      SELECT entity_id, golden_p_type FROM (
        SELECT entity_id, p_type AS golden_p_type,
               row_number() OVER (PARTITION BY entity_id
                 ORDER BY COUNT(*) DESC, p_type) AS rn
        FROM mem GROUP BY entity_id, p_type) WHERE rn = 1
    )
    SELECT b.entity_id, (b.kk).b AS keeper_id,
           CAST(b.n_members AS BIGINT) AS n_members,
           gb.golden_p_brand, gc.golden_p_type
    FROM best b JOIN gb USING (entity_id) JOIN gc USING (entity_id)
    """,
)
def golden_record_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge (operators/dedup.golden_records) — the step
    AFTER entity resolution: per matched cluster, the golden record =
    keeper by longest-name/lowest-key plus modal brand/container
    (ties lexicographic).  The oracle replays the SAME ER closure
    (shared _ER_CLOSURE_SQL prefix) + the survivorship rules, so a
    drifted cluster OR a drifted merge rule flips the hash."""
    p = load(spark, sf_dir, "part")
    blk = F.concat_ws(
        "|",
        F.split(F.col("p_name"), " ").getItem(1),
        F.substring(F.col("p_name"), 1, 1),
    )
    pairs = dedup.blocked_entity_edges(
        p, "p_partkey", "p_name", blk,
        max_distance=2, max_block_names=_ER_MAX_BLOCK_NAMES,
    )
    comp = dedup.connected_components(pairs)
    records = p.select(
        "p_partkey", "p_brand", "p_type",
        F.length("p_name").alias("name_len"),
    )
    out = dedup.golden_records(
        comp, records, "p_partkey", ["p_brand", "p_type"], "name_len"
    )
    return out.select(
        F.col("label").alias("entity_id"),
        "keeper_id",
        F.col("n_members").cast("long").alias("n_members"),
        "golden_p_brand",
        "golden_p_type",
    )


@register(
    "streaming_golden_record_maintenance",
    _ER_CLOSURE_SQL
    + """, final AS (
      SELECT p_partkey, p_name,
             CASE WHEN p_partkey % 10 = 3 THEN 'Brand#99' ELSE p_brand END AS p_brand,
             CASE WHEN p_partkey % 10 = 7 THEN 'PROMO SPECIAL' ELSE p_type END AS p_type
      FROM part
    ), mem AS (
      SELECT l.entity_id, pp.p_partkey, pp.p_name, pp.p_brand,
             pp.p_type, length(pp.p_name) AS nl
      FROM lab l JOIN final pp ON l.node = pp.p_partkey
    ), best AS (
      SELECT entity_id, COUNT(*) AS n_members,
             MIN({'a': -nl, 'b': p_partkey}) AS kk
      FROM mem GROUP BY entity_id
    ), gb AS (
      SELECT entity_id, golden_p_brand FROM (
        SELECT entity_id, p_brand AS golden_p_brand,
               row_number() OVER (PARTITION BY entity_id
                 ORDER BY COUNT(*) DESC, p_brand) AS rn
        FROM mem GROUP BY entity_id, p_brand) WHERE rn = 1
    ), gc AS (
      SELECT entity_id, golden_p_type FROM (
        SELECT entity_id, p_type AS golden_p_type,
               row_number() OVER (PARTITION BY entity_id
                 ORDER BY COUNT(*) DESC, p_type) AS rn
        FROM mem GROUP BY entity_id, p_type) WHERE rn = 1
    )
    SELECT b.entity_id, (b.kk).b AS keeper_id,
           CAST(b.n_members AS BIGINT) AS n_members,
           gb.golden_p_brand, gc.golden_p_type
    FROM best b JOIN gb USING (entity_id) JOIN gc USING (entity_id)
    """,
)
def streaming_golden_record_maintenance_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming survivorship (streaming/golden.py): record UPSERTS
    land in the bucketed CDC store per micro-batch (the reference's ES
    id-upsert, O8), and after each batch the golden-record table is
    re-derived over the CURRENT store and republished — survivorship
    never lags ingest.  Two update batches mutate modal fields (brand
    for keys %10=3, type for keys %10=7), with batch 1 REDELIVERED
    inside batch 2 (at-least-once delivery: the keyed upsert makes the
    replay a value-identical no-op).  The oracle is the batch ER
    closure + survivorship rule over the FINAL upserted state, so a
    lost update, a duplicated key, a stale golden table, or a drifted
    merge rule flips the hash."""
    import tempfile
    import uuid

    from .streaming.golden import start_golden_record_maintenance
    from .streaming.ingest import upsert_parquet_by_key_bucketed

    p = load(spark, sf_dir, "part")
    records = p.select(
        "p_partkey", "p_name", "p_brand", "p_type",
        F.length("p_name").alias("name_len"),
    )
    blk = F.concat_ws(
        "|",
        F.split(F.col("p_name"), " ").getItem(1),
        F.substring(F.col("p_name"), 1, 1),
    )

    def edges_fn(recs: DataFrame) -> DataFrame:
        return dedup.blocked_entity_edges(
            recs, "p_partkey", "p_name", blk,
            max_distance=2, max_block_names=_ER_MAX_BLOCK_NAMES,
        )

    upd_a = records.filter(F.col("p_partkey") % 10 == 3).withColumn(
        "p_brand", F.lit("Brand#99")
    )
    upd_b = records.filter(F.col("p_partkey") % 10 == 7).withColumn(
        "p_type", F.lit("PROMO SPECIAL")
    )
    with tempfile.TemporaryDirectory() as tmp:
        store, golden_dir, usrc = f"{tmp}/store", f"{tmp}/golden", f"{tmp}/updates"
        # initial load: the store starts as the full record set
        upsert_parquet_by_key_bucketed(records, store, "p_partkey", n_buckets=16)
        upd_a.coalesce(1).write.parquet(usrc)
        upd_a.unionByName(upd_b).coalesce(1).write.mode("append").parquet(usrc)
        q = start_golden_record_maintenance(
            spark, usrc, records.schema,
            store, golden_dir, f"{tmp}/ckpt_{uuid.uuid4().hex[:8]}",
            "p_partkey", ["p_brand", "p_type"], "name_len", edges_fn,
        )
        q.awaitTermination(240)
        out = spark.read.parquet(golden_dir).select(
            F.col("label").alias("entity_id"),
            "keeper_id",
            F.col("n_members").cast("long").alias("n_members"),
            "golden_p_brand",
            "golden_p_type",
        )
        return out.localCheckpoint(eager=True)


@register(
    "l_diversity_t_closeness",
    """
    WITH cs AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS s,
             COUNT(*) AS ns
      FROM customer GROUP BY 1, 2, 3
    ), gl AS (
      SELECT s, CAST(SUM(ns) AS BIGINT) AS gs FROM cs GROUP BY s
    ), nst AS (SELECT CAST(SUM(ns) AS BIGINT) AS n_total FROM cs),
    classes AS (
      SELECT c_nationkey, c_mktsegment, CAST(SUM(ns) AS BIGINT) AS n
      FROM cs GROUP BY 1, 2
    ), grid AS (
      SELECT c.c_nationkey, c.c_mktsegment, c.n, g.gs,
             COALESCE(x.ns, 0) AS ns
      FROM classes c CROSS JOIN gl g
      LEFT JOIN cs x ON x.c_nationkey = c.c_nationkey
        AND x.c_mktsegment = c.c_mktsegment AND x.s = g.s
    ), per_class AS (
      SELECT c_nationkey, c_mktsegment, MIN(n) AS n,
             CAST(SUM(CASE WHEN ns > 0
                  THEN ns * CAST(ROUND(ln(ns) * 1000000) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS sum_nlnn,
             CAST(SUM(ABS((SELECT n_total FROM nst) * ns - n * gs))
                  AS BIGINT) AS tvd_num
      FROM grid GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(n AS BIGINT) AS class_size,
           CAST(ROUND(ln(n) * 1000000) AS BIGINT) - sum_nlnn // n
             AS entropy_e6,
           (CAST(ROUND(ln(n) * 1000000) AS BIGINT) - sum_nlnn // n)
             >= CAST(ROUND(ln(2) * 1000000) AS BIGINT) AS entropy_l_ok,
           CAST(ROUND(CAST(tvd_num AS DOUBLE) * 1000000
                      / (2.0 * n * (SELECT n_total FROM nst)))
                AS BIGINT) AS tvd_e6,
           CAST(ROUND(CAST(tvd_num AS DOUBLE) * 1000000
                      / (2.0 * n * (SELECT n_total FROM nst)))
                AS BIGINT) <= 400000 AS t_close_ok
    FROM per_class
    """,
)
def l_diversity_t_closeness_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy l-diversity + t-closeness release audit
    (operators/relational.l_diversity_t_closeness_audit) — the two
    stronger privacy gates above k-anonymity, with per-term-quantized
    ln sums and exact-rational TVD numerators so both statistics
    hash-match the SQL replay."""
    return relational.l_diversity_t_closeness_audit(
        load(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"],
        F.floor(F.col("c_acctbal") / 2000).cast("long"),
        l_div=2,
        t_e6=400_000,
    )


@register(
    "reddit_hot_rank",
    """
    WITH v AS (
      SELECT event_id,
             CAST(ROUND(value) AS BIGINT) - 50 AS votes,
             CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
    ), h AS (
      SELECT event_id, votes,
             ROUND((CASE WHEN votes > 0 THEN 1
                         WHEN votes < 0 THEN -1 ELSE 0 END)
                     * log10(GREATEST(ABS(votes), 1))
                   + CAST(es - 1134028003 AS DOUBLE) / 45000.0
                   + 1e-9, 4) AS hot
      FROM v
    )
    SELECT event_id, votes, hot FROM h
    ORDER BY hot DESC, event_id LIMIT 100
    """,
)
def reddit_hot_rank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reddit's public 'hot' ranking — ``sign(s) * log10(max(|s|, 1))
    + age/45000`` (the sign scales the LOG term, never the age term;
    epoch anchor 1134028003, divisor 45000) over the events table with
    a synthetic vote score (round(value) - 50, so both vote signs
    occur) — the ranking function the reference's harvested posts
    would feed.  Epoch seconds use the truncating floor(epoch()) form
    on the oracle side (the unix_timestamp rounding trap); the log/age
    sum rounds to 4 decimals with the +1e-9 guard.  Top-100 plans as
    TakeOrderedAndProject — a heap, never a global sort."""
    _utc(spark)
    ev = load(spark, sf_dir, "events")
    votes = (F.round(F.col("value"), 0).cast("long") - 50).alias("votes")
    es = F.unix_timestamp("ts")
    sign = F.when(F.col("votes") > 0, 1).when(F.col("votes") < 0, -1).otherwise(0)
    return (
        ev.select("event_id", votes, es.alias("es"))
        .select(
            "event_id",
            "votes",
            F.round(
                sign * F.log10(F.greatest(F.abs(F.col("votes")), F.lit(1)))
                + (F.col("es") - F.lit(1134028003)).cast("double") / 45000.0
                + F.lit(1e-9),
                4,
            ).alias("hot"),
        )
        .orderBy(F.desc("hot"), F.asc("event_id"))
        .limit(100)
    )


_ANNIDX_STREAM_QUERY_IDS = list(range(10, 22))


@register(
    "streaming_ann_probe",
    "WITH "
    + _annidx_assign_sql()
    + f""",
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT vec_id AS query_id, v AS qv, centroid_id AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored WHERE vec_id IN ({', '.join(map(str, _ANNIDX_STREAM_QUERY_IDS))})) WHERE rk <= {_IVF_PROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.v), 4) AS cos
      FROM assigned a JOIN probes p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM cand) WHERE rk <= {_IVF_K}
    """,
)
def streaming_ann_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving path: a STREAM of query vectors probed per
    micro-batch against the persisted index (ann_index.ann_index_probe
    on each batch frame, inside foreachBatch) — the index is built
    once and reused across batches, results append to a sink.
    Two single-file micro-batches of 6 queries each; the oracle is the
    batch IVF rule over all 12, so a dropped batch, a rebuilt index,
    or a drifted probe flips the hash."""
    import tempfile
    import uuid

    from .operators import ann_index

    emb = load(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory() as tmp:
        ann_index.ann_index_build(
            emb,
            f"{tmp}/annidx",
            n_centroids=_IVF_CENTROIDS,
            m=_PQ_M,
            k_codes=_PQ_K,
        ).collect()
        qsrc = f"{tmp}/queries"
        qset = emb.filter(F.col("vec_id").isin(_ANNIDX_STREAM_QUERY_IDS)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        qset.filter(F.col("query_id") < 16).coalesce(1).write.parquet(qsrc)
        qset.filter(F.col("query_id") >= 16).coalesce(1).write.mode(
            "append"
        ).parquet(qsrc)
        out_dir = f"{tmp}/results"

        def probe_batch(batch_df, batch_id):
            ann_index.ann_index_probe(
                spark,
                f"{tmp}/annidx",
                batch_df,
                k=_IVF_K,
                n_probe=_IVF_PROBE,
            ).write.mode("append").parquet(out_dir)

        stream = (
            spark.readStream.schema(qset.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(qsrc)
        )
        q = (
            stream.writeStream.foreachBatch(probe_batch)
            .option("checkpointLocation", f"{tmp}/ckpt_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        out = spark.read.parquet(out_dir)
        return out.localCheckpoint(eager=True)


def _annidx_probe_oracle(query_ids: list[int]) -> str:
    return (
        "WITH "
        + _annidx_assign_sql()
        + f""",
    probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT vec_id AS query_id, v AS qv, centroid_id AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored WHERE vec_id IN ({', '.join(map(str, query_ids))})) WHERE rk <= {_IVF_PROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.v), 4) AS cos
      FROM assigned a JOIN probes p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM cand) WHERE rk <= {_IVF_K}
    """
    )


@register("ann_index_compact", _annidx_probe_oracle([12, 13, 14]))
def ann_index_compact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index compaction (ann_index.ann_index_compact — the fourth
    verb): build, append twice (so cell directories hold multiple
    small files), COMPACT to one file per cell via a new generation
    directory committed through the one-row manifest append (object-
    store-safe: no rename anywhere), then probe.  The oracle is the
    plain full-corpus IVF rule — any row lost, duplicated, or drifted
    by the rewrite flips the hash."""
    import tempfile

    from .operators import ann_index

    emb = load(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("long")).first()[0]
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/annidx"
        ann_index.ann_index_build(
            emb.filter(F.col("vec_id") <= half), idx,
            n_centroids=_IVF_CENTROIDS, m=_PQ_M, k_codes=_PQ_K,
        ).collect()
        third = emb.filter(
            (F.col("vec_id") > half) & (F.col("vec_id") % 2 == 0)
        )
        rest = emb.filter((F.col("vec_id") > half) & (F.col("vec_id") % 2 == 1))
        ann_index.ann_index_append(spark, third, idx).collect()
        ann_index.ann_index_append(spark, rest, idx).collect()
        ann_index.ann_index_compact(spark, idx).collect()
        out = ann_index.ann_index_probe(
            spark, idx, [12, 13, 14], k=_IVF_K, n_probe=_IVF_PROBE
        )
        return out.localCheckpoint(eager=True)


@register("streaming_ann_index_maintenance", _annidx_probe_oracle([15, 16, 17]))
def streaming_ann_index_maintenance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming index maintenance: a stream of NEW vectors appended to
    the persisted index per micro-batch (foreachBatch →
    ann_index_append against the frozen centroids/codebook), then one
    probe.  Because the seed rows live in the initial build, the
    maintained index equals a one-shot build over everything, so the
    oracle is the plain full-corpus IVF rule — a lost batch or a
    drifted append flips the hash."""
    import tempfile
    import uuid

    from .operators import ann_index

    emb = load(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("long")).first()[0]
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/annidx"
        ann_index.ann_index_build(
            emb.filter(F.col("vec_id") <= half), idx,
            n_centroids=_IVF_CENTROIDS, m=_PQ_M, k_codes=_PQ_K,
        ).collect()
        vsrc = f"{tmp}/new_vectors"
        newv = emb.filter(F.col("vec_id") > half).select("vec_id", "embedding")
        mid = emb.agg((F.max("vec_id") * 3 / 4).cast("long")).first()[0]
        newv.filter(F.col("vec_id") <= mid).coalesce(1).write.parquet(vsrc)
        newv.filter(F.col("vec_id") > mid).coalesce(1).write.mode(
            "append"
        ).parquet(vsrc)

        def append_batch(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            ann_index.ann_index_append(spark, batch_df, idx).collect()

        stream = (
            spark.readStream.schema(newv.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(vsrc)
        )
        q = (
            stream.writeStream.foreachBatch(append_batch)
            .option("checkpointLocation", f"{tmp}/ckpt_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        out = ann_index.ann_index_probe(
            spark, idx, [15, 16, 17], k=_IVF_K, n_probe=_IVF_PROBE
        )
        return out.localCheckpoint(eager=True)


_ANNSRV_EPOCH_QIDS = {0: [30, 31], 1: [32, 33], 2: [34, 35]}
_ANNSRV_D1 = (300, 339)  # tombstoned before epoch-1 probes
_ANNSRV_D2 = (340, 379)  # tombstoned before epoch-2 probes (post-compact)


@register(
    "streaming_ann_serving_under_deletes",
    f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < {_IVF_CENTROIDS}
    ), qs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id IN ({', '.join(str(i) for e in sorted(_ANNSRV_EPOCH_QIDS) for i in _ANNSRV_EPOCH_QIDS[e])})
    ), qscored AS (
      SELECT q.vec_id, q.v, c.centroid_id,
             ROUND(list_cosine_similarity(q.v, c.cv), 6) AS ccos
      FROM qs q CROSS JOIN cents c
    ), probes AS (
      SELECT CAST(CASE WHEN query_id IN ({', '.join(map(str, _ANNSRV_EPOCH_QIDS[0]))}) THEN 0
                       WHEN query_id IN ({', '.join(map(str, _ANNSRV_EPOCH_QIDS[1]))}) THEN 1
                       ELSE 2 END AS INT) AS epoch,
             query_id, qv, cell FROM (
        SELECT vec_id AS query_id, v AS qv, centroid_id AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM qscored) WHERE rk <= {_IVF_PROBE}
    ), corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CASE WHEN vec_id BETWEEN {_ANNSRV_D1[0]} AND {_ANNSRV_D1[1]} THEN 1
                  WHEN vec_id BETWEEN {_ANNSRV_D2[0]} AND {_ANNSRV_D2[1]} THEN 2
                  ELSE 99 END AS dead_at
      FROM embeddings
    ), cscored AS (
      SELECT e.vec_id, e.v, e.dead_at, c.centroid_id,
             ROUND(list_cosine_similarity(e.v, c.cv), 6) AS ccos
      FROM corpus e CROSS JOIN cents c
    ), assigned AS (
      SELECT vec_id, v, dead_at, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM cscored) WHERE rk = 1
    ), cand AS (
      SELECT p.epoch, p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.v), 4) AS cos
      FROM assigned a JOIN probes p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id AND a.dead_at > p.epoch
    )
    SELECT epoch, query_id, neighbor_id, cos, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY epoch, query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM cand) WHERE rk <= {_IVF_K}
    """,
)
def streaming_ann_serving_under_deletes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving while the index MUTATES under it: three query
    micro-batches (epochs 0/1/2) probe the persisted index, with
    tombstones landing BETWEEN batches — epoch 1 after a delete batch,
    epoch 2 after a COMPACTION (generation flip mid-stream) plus a
    second delete batch tombstoning the fresh generation.  The oracle
    is the live-corpus IVF rule PER EPOCH (dead_at > epoch), so a probe
    that returns a deleted id, misses a still-live one, or reads a
    half-compacted store flips the hash.  Micro-batch order is pinned
    by distinct source-file mtimes (FileStreamSource orders by
    timestamp) — the delete schedule is epoch-keyed, derived from batch
    CONTENT, never from batch_id."""
    import os
    import shutil
    import tempfile
    import time as _time
    import uuid

    from .operators import ann_index

    emb = load(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/annidx"
        ann_index.ann_index_build(
            emb, idx, n_centroids=_IVF_CENTROIDS, m=_PQ_M, k_codes=_PQ_K
        ).collect()
        qsrc = f"{tmp}/queries"
        os.makedirs(qsrc)
        t0 = _time.time() - 600
        for e, qids in sorted(_ANNSRV_EPOCH_QIDS.items()):
            stage = f"{tmp}/stage_{e}"
            (
                emb.filter(F.col("vec_id").isin(qids))
                .select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qv"),
                    F.lit(e).cast("int").alias("epoch"),
                )
                .coalesce(1)
                .write.parquet(stage)
            )
            part = next(
                f for f in os.listdir(stage)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            dst = f"{qsrc}/epoch_{e}.parquet"
            shutil.move(f"{stage}/{part}", dst)
            os.utime(dst, (t0 + 60 * e, t0 + 60 * e))
        out_dir = f"{tmp}/results"
        schema = "query_id long, qv array<float>, epoch int"

        def probe_batch(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            e = int(batch_df.agg(F.max("epoch")).first()[0])
            if e == 1:
                ann_index.ann_index_delete(
                    spark, idx, list(range(_ANNSRV_D1[0], _ANNSRV_D1[1] + 1))
                ).collect()
            elif e == 2:
                ann_index.ann_index_compact(spark, idx).collect()
                ann_index.ann_index_delete(
                    spark, idx, list(range(_ANNSRV_D2[0], _ANNSRV_D2[1] + 1))
                ).collect()
            out = ann_index.ann_index_probe(
                spark, idx, batch_df.select("query_id", "qv"),
                k=_IVF_K, n_probe=_IVF_PROBE,
            )
            out.select(F.lit(e).cast("int").alias("epoch"), "*").write.mode(
                "append"
            ).parquet(out_dir)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(qsrc)
        )
        q = (
            stream.writeStream.foreachBatch(probe_batch)
            .option("checkpointLocation", f"{tmp}/ckpt_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        out = spark.read.parquet(out_dir)
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Remaining classic TPC-H shapes (Q2/Q11/Q12/Q20/Q21), adapted to this
# schema: partsupp does not exist, so supplier-part economics derive
# from lineitem (unit cost = min extendedprice/quantity per pair), and
# Q12/Q21's date logic rides l_shipdate vs o_orderdate.
# ---------------------------------------------------------------------------


@register(
    "min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             MIN(ROUND(CAST(l_extendedprice AS DOUBLE)
                       / CAST(l_quantity AS DOUBLE) + 1e-9, 4)) AS unit_cost
      FROM lineitem GROUP BY 1, 2
    ), cand AS (
      SELECT p.p_partkey, p.p_type, s.s_suppkey, s.s_name, s.s_acctbal,
             n.n_name, ps.unit_cost
      FROM ps
      JOIN part p ON p.p_partkey = ps.l_partkey
      JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE p.p_size <= 15 AND r.r_name = 'ASIA'
    )
    SELECT p_partkey, s_suppkey, s_name, n_name, unit_cost
    FROM cand c
    WHERE unit_cost = (SELECT MIN(unit_cost) FROM cand x
                       WHERE x.p_partkey = c.p_partkey)
    ORDER BY unit_cost, p_partkey, s_suppkey LIMIT 100
    """,
)
def min_cost_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated MIN subquery) over the DERIVED
    supplier-part cost table (no partsupp here: unit cost = min
    extendedprice/quantity per pair from lineitem).  The correlated
    min decorrelates to a per-part aggregate joined back — the min
    side is part-cardinality, broadcast onto the candidates; the
    region/nation dims broadcast; top-100 is a heap."""
    li = load(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey"), F.col("l_suppkey")
    ).agg(
        F.min(
            F.round(
                F.col("l_extendedprice").cast("double")
                / F.col("l_quantity").cast("double")
                + F.lit(1e-9),
                4,
            )
        ).alias("unit_cost")
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_size") <= 15)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cand = (
        ps.join(F.broadcast(p), ps["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), ps["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("p_partkey", "s_suppkey", "s_name", "n_name", "unit_cost")
    )
    mins = cand.groupBy("p_partkey").agg(F.min("unit_cost").alias("_mc"))
    return (
        cand.join(F.broadcast(mins), "p_partkey")
        .filter(F.col("unit_cost") == F.col("_mc"))
        .select("p_partkey", "s_suppkey", "s_name", "n_name", "unit_cost")
        .orderBy("unit_cost", "p_partkey", "s_suppkey")
        .limit(100)
    )


@register(
    "important_supply_share",
    f"""
    WITH ps AS (
      SELECT l_partkey,
             {_dec_sum_sql('l_extendedprice * (1 - l_discount)', 6)} AS val
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
      GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(CAST(val AS DECIMAL(18,6))) AS DOUBLE) AS t,
             COUNT(*) AS c
      FROM ps)
    SELECT l_partkey AS p_partkey, ROUND(val, 2) AS part_value
    FROM ps WHERE val > 2.0 * (SELECT t FROM tot) / (SELECT c FROM tot)
    ORDER BY part_value DESC, p_partkey LIMIT 100
    """,
)
def important_supply_share_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value within one nation's suppliers,
    kept when above a FRACTION of the nation total (scalar subquery →
    one-row broadcast; the HAVING threshold compares against it
    without re-shuffling the aggregate).  Decimal sums both sides."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    ps = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("l_partkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("val")
        )
    )
    tot = ps.agg(
        F.sum(F.col("val").cast("decimal(18,6)")).cast("double").alias("t"),
        F.count(F.lit(1)).alias("c"),
    )
    return (
        ps.crossJoin(F.broadcast(tot))
        .filter(F.col("val") > 2.0 * F.col("t") / F.col("c"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("val"), 2).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
        .limit(100)
    )


@register(
    "latency_bucket_priority",
    """
    SELECT CASE WHEN datediff('day', CAST(o_orderdate AS DATE),
                              CAST(l_shipdate AS DATE)) < 30 THEN 'FAST'
                WHEN datediff('day', CAST(o_orderdate AS DATE),
                              CAST(l_shipdate AS DATE)) < 90 THEN 'MEDIUM'
                ELSE 'SLOW' END AS latency_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def latency_bucket_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (conditional priority counts per category): the
    shipmode column doesn't exist here, so the category is the DERIVED
    ship-latency bucket (days between order and ship date).  One
    fact-fact join + one 3-row aggregate; the priority CASE folds
    map-side."""
    _utc(spark)
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    lat = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    bucket = (
        F.when(lat < 30, "FAST").when(lat < 90, "MEDIUM").otherwise("SLOW")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(bucket.alias("latency_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "excess_supply_semi_chain",
    """
    WITH fp AS (
      SELECT p_partkey FROM part WHERE p_type LIKE 'STANDARD%'
    ), sq AS (
      SELECT l_suppkey, l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem JOIN fp ON l_partkey = p_partkey
      GROUP BY 1, 2
    ), pt AS (
      SELECT l_partkey,
             CAST(SUM(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS tot,
             COUNT(*) AS nsup
      FROM sq GROUP BY 1
    ), keep AS (
      SELECT DISTINCT l_suppkey FROM sq JOIN pt USING (l_partkey)
      WHERE nsup >= 2 AND qty > 2.0 * tot / nsup
    )
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM keep)
    ORDER BY s.s_suppkey
    """,
)
def excess_supply_semi_chain_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (nested-aggregate semi-join chain): suppliers
    who shipped more than 20% of a filtered part's total quantity —
    the partsupp availability test re-derived from lineitem.  The
    per-(supplier, part) aggregate joins its part-total (broadcast,
    part-cardinality) and the survivor set SEMI-joins supplier — the
    supplier table is never widened by the fact side."""
    li = load(spark, sf_dir, "lineitem")
    fp = load(spark, sf_dir, "part").filter(
        F.col("p_type").like("STANDARD%")
    ).select("p_partkey")
    sq = (
        li.join(F.broadcast(fp), li["l_partkey"] == fp["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty")
        )
    )
    pt = sq.groupBy("l_partkey").agg(
        F.sum(F.col("qty").cast("decimal(18,2)")).cast("double").alias("tot"),
        F.count(F.lit(1)).alias("nsup"),
    )
    keep = (
        sq.join(F.broadcast(pt), "l_partkey")
        .filter((F.col("nsup") >= 2) & (F.col("qty") > 2.0 * F.col("tot") / F.col("nsup")))
        .select("l_suppkey")
        .distinct()
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(keep, s["s_suppkey"] == keep["l_suppkey"], "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


@register(
    "late_supplier_blame",
    """
    WITH ll AS (
      SELECT l.l_orderkey, l.l_suppkey,
             (CAST(l.l_shipdate AS DATE)
              > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY) AS late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    ), per AS (
      SELECT l_orderkey, l_suppkey, MAX(late) AS sup_late
      FROM ll GROUP BY 1, 2
    ), blame AS (
      SELECT p.l_orderkey, p.l_suppkey
      FROM per p
      WHERE p.sup_late
        AND EXISTS (SELECT 1 FROM per q
                    WHERE q.l_orderkey = p.l_orderkey
                      AND q.l_suppkey <> p.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM per q
                        WHERE q.l_orderkey = p.l_orderkey
                          AND q.l_suppkey <> p.l_suppkey AND q.sup_late)
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM blame b JOIN supplier s ON s.s_suppkey = b.l_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name LIMIT 100
    """,
)
def late_supplier_blame_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS correlated on the same
    table): the SOLE late supplier on finished multi-supplier orders
    (late = shipped > 60 days after order date — the commit/receipt
    columns don't exist here).  Collapsed to per-(order, supplier)
    lateness first, then both correlated predicates AND the blame-pair
    identity fold into ONE per-order aggregate: when n_late == 1,
    ``max(when(late, suppkey))`` IS the sole late supplier, so there is
    no join back to `per` at all (round 11: removed the per x
    order_stats sort-merge join that dominated the 100x smoke) — two
    map-side-combined aggregations and one broadcast dim join total."""
    _utc(spark)
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = F.col("l_shipdate").cast("date") > F.date_add(
        F.col("o_orderdate").cast("date"), 60
    )
    per = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("sup_late"))
    )
    blame = (
        per.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_sup"),
            F.sum(F.col("sup_late").cast("int")).alias("n_late"),
            F.max(F.when(F.col("sup_late"), F.col("l_suppkey"))).alias(
                "l_suppkey"
            ),
        )
        .filter((F.col("n_sup") >= 2) & (F.col("n_late") == 1))
        .select("l_orderkey", "l_suppkey")
    )
    s = load(spark, sf_dir, "supplier")
    return (
        blame.join(F.broadcast(s), blame["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@register(
    "ann_index_version_diff",
    f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ), a16 AS (
      SELECT vec_id, centroid_id AS cell FROM (
        SELECT e.vec_id, c.vec_id AS centroid_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 ROUND(list_cosine_similarity(e.ev, c.ev), 6) DESC, c.vec_id) AS rk
        FROM v e CROSS JOIN (SELECT * FROM v WHERE vec_id < {_IVF_CENTROIDS}) c
      ) WHERE rk = 1
    ), a8 AS (
      SELECT vec_id, centroid_id AS cell FROM (
        SELECT e.vec_id, c.vec_id AS centroid_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 ROUND(list_cosine_similarity(e.ev, c.ev), 6) DESC, c.vec_id) AS rk
        FROM v e CROSS JOIN (SELECT * FROM v WHERE vec_id < 8) c
      ) WHERE rk = 1
    )
    SELECT CAST(a16.cell AS INT) AS cell_v1, CAST(a8.cell AS INT) AS cell_v2,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM a16 JOIN a8 USING (vec_id)
    GROUP BY 1, 2
    """,
)
def ann_index_version_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-ops tool: the cell-TRANSITION matrix between two persisted
    index versions (v1: 16 centroids, v2: 8 — a re-layout) read back
    from the two inverted files — the blast-radius report before
    swapping serving traffic to a rebuilt index.  Oracle replays both
    assignments; a drifted store on either side flips the hash."""
    import tempfile

    from .operators import ann_index

    emb = load(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/annidx"
        # the two version builds are fully independent (disjoint
        # {idx}/v1 and {idx}/v2 trees, no shared mutable state) — run
        # them on concurrent driver threads (guide §2.6) so the v2
        # build's jobs back-fill the v1 build's task tails instead of
        # idling the cluster between its small driver-gated steps
        run_concurrent(
            lambda: ann_index.ann_index_build(
                emb, idx, n_centroids=_IVF_CENTROIDS, m=_PQ_M,
                k_codes=_PQ_K, version="v1",
            ).collect(),
            lambda: ann_index.ann_index_build(
                emb, idx, n_centroids=8, m=_PQ_M, k_codes=_PQ_K,
                version="v2",
            ).collect(),
        )
        c1 = spark.read.parquet(
            ann_index.resolve_dirs(spark, idx, "v1")["cells"]
        ).select("vec_id", F.col("cell").cast("int").alias("cell_v1"))
        c2 = spark.read.parquet(
            ann_index.resolve_dirs(spark, idx, "v2")["cells"]
        ).select("vec_id", F.col("cell").cast("int").alias("cell_v2"))
        out = (
            c1.join(c2, "vec_id")
            .groupBy("cell_v1", "cell_v2")
            .agg(F.count(F.lit(1)).alias("n_vectors"))
        )
        return out.localCheckpoint(eager=True)


@register(
    "rank_functions_suite",
    """
    WITH b AS (
      SELECT o_custkey, o_orderkey, o_totalprice FROM orders
      WHERE o_custkey < 200
    )
    SELECT o_custkey, o_orderkey,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           ROUND(percent_rank() OVER w + 1e-9, 6) AS prnk,
           ROUND(cume_dist() OVER w + 1e-9, 6) AS cdist,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM b
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def rank_functions_suite_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-function completeness: rank, dense_rank, percent_rank,
    cume_dist, and ntile over ONE shared window spec (one exchange +
    one sort for all five).  percent_rank/cume_dist are exact rationals
    rounded at 6 with the +1e-9 guard."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w) + F.lit(1e-9), 6).alias("prnk"),
        F.round(F.cume_dist().over(w) + F.lit(1e-9), 6).alias("cdist"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@register(
    "embedding_isotropy_audit",
    """
    WITH nrm AS (
      SELECT vec_id,
             ROUND(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[]))), 6)
               AS nn
      FROM embeddings
    ), u AS (
      SELECT e.vec_id, d.i AS dim,
             CAST(ROUND(CAST(d.x AS DOUBLE) / n.nn, 8) AS DECIMAL(18,8)) AS uq
      FROM embeddings e
      JOIN nrm n USING (vec_id),
      LATERAL (SELECT UNNEST(CAST(e.embedding AS DOUBLE[])) AS x,
                      generate_subscripts(e.embedding, 1) AS i) d
    ), s AS (
      SELECT dim, SUM(uq) AS sd FROM u GROUP BY dim
    ), parts AS (
      SELECT (SELECT CAST(SUM(CAST(sd * sd AS DECIMAL(38,16))) AS DOUBLE)
              FROM s) AS ssq,
             (SELECT CAST(SUM(CAST(uq * uq AS DECIMAL(38,16))) AS DOUBLE)
              FROM u) AS usq,
             (SELECT COUNT(*) FROM nrm) AS n,
             (SELECT CAST(SUM(CAST(nn AS DECIMAL(18,6))) AS DOUBLE)
              FROM nrm) AS norm_sum
    )
    SELECT CAST(n AS BIGINT) AS n_vectors,
           ROUND(norm_sum / n + 1e-9, 4) AS mean_norm,
           ROUND((ssq - usq) / (CAST(n AS DOUBLE) * (n - 1)) + 1e-9, 6)
             AS avg_pairwise_cos
    FROM parts
    """,
)
def embedding_isotropy_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy audit: mean vector norm + the MEAN
    PAIRWISE COSINE across all n(n-1) ordered pairs — computed O(n)
    via the sum-vector identity avg_cos = (||Σu||² - Σ||u||²)/(n(n-1))
    instead of any pairwise join (an anisotropic/collapsed embedding
    space shows avg_cos >> 0 — the representation-collapse smell test
    before ANN indexes are built on it).  Unit vectors quantize to
    DECIMAL(18,8) per component, so both quadratic forms are exact
    decimal sums — no float-order contract anywhere."""
    emb = load(spark, sf_dir, "embeddings")
    from .functions.vectors import as_double, norm as vnorm

    nrm = emb.select(
        "vec_id",
        F.col("embedding"),
        F.round(vnorm(as_double(F.col("embedding"))), 6).alias("nn"),
    )
    u = nrm.select(
        F.posexplode(as_double(F.col("embedding"))).alias("dim0", "x"),
        F.col("nn"),
    ).select(
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("x") / F.col("nn"), 8).cast("decimal(18,8)").alias("uq"),
    )
    s = u.groupBy("dim").agg(F.sum("uq").alias("sd"))
    ssq = s.agg(
        F.sum((F.col("sd") * F.col("sd")).cast("decimal(38,16)"))
        .cast("double")
        .alias("ssq")
    )
    usq = u.agg(
        F.sum((F.col("uq") * F.col("uq")).cast("decimal(38,16)"))
        .cast("double")
        .alias("usq")
    )
    base = nrm.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("nn").cast("decimal(18,6)")).cast("double").alias("norm_sum"),
    )
    return (
        base.crossJoin(F.broadcast(ssq))
        .crossJoin(F.broadcast(usq))
        .select(
            F.col("n").cast("long").alias("n_vectors"),
            F.round(F.col("norm_sum") / F.col("n") + F.lit(1e-9), 4).alias(
                "mean_norm"
            ),
            F.round(
                (F.col("ssq") - F.col("usq"))
                / (F.col("n").cast("double") * (F.col("n") - 1))
                + F.lit(1e-9),
                6,
            ).alias("avg_pairwise_cos"),
        )
    )


@register(
    "ann_index_delete",
    f"""
    WITH live AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id NOT BETWEEN 100 AND 149
    ), cents AS (
      SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM live WHERE vec_id < {_IVF_CENTROIDS}
    ), scored AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.centroid_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 6) AS ccos
      FROM live e CROSS JOIN cents c
    ), assigned AS (
      SELECT vec_id, v, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored) WHERE rk = 1
    ), probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT vec_id AS query_id, v AS qv, centroid_id AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored WHERE vec_id IN (18, 19, 20)) WHERE rk <= {_IVF_PROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.v), 4) AS cos
      FROM assigned a JOIN probes p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM cand) WHERE rk <= {_IVF_K}
    """,
)
def ann_index_delete_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone deletion — the fifth index verb
    (ann_index.ann_index_delete): build the full index, tombstone ids
    100-149 (no rewrite — probes anti-join the broadcast tombstone
    table; the next compact reclaims).  The oracle is the IVF rule
    over the LIVE corpus, so a leaked deleted neighbor or an
    over-deleted live one flips the hash."""
    import tempfile

    from .operators import ann_index

    emb = load(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/annidx"
        ann_index.ann_index_build(
            emb, idx, n_centroids=_IVF_CENTROIDS, m=_PQ_M, k_codes=_PQ_K
        ).collect()
        ann_index.ann_index_delete(spark, idx, list(range(100, 150))).collect()
        out = ann_index.ann_index_probe(
            spark, idx, [18, 19, 20], k=_IVF_K, n_probe=_IVF_PROBE
        )
        return out.localCheckpoint(eager=True)


@register(
    "ann_index_maintain",
    f"""
    WITH live AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id NOT BETWEEN 100 AND 149
    ), cents AS (
      SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM live WHERE vec_id < {_IVF_CENTROIDS}
    ), scored AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.centroid_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 6) AS ccos
      FROM live e CROSS JOIN cents c
    ), assigned AS (
      SELECT vec_id, v, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored) WHERE rk = 1
    ), probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT vec_id AS query_id, v AS qv, centroid_id AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored WHERE vec_id IN (21, 22, 23)) WHERE rk <= {_IVF_PROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.v), 4) AS cos
      FROM assigned a JOIN probes p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM cand) WHERE rk <= {_IVF_K}
    """,
)
def ann_index_maintain_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scheduled index maintenance (ann_index.ann_index_maintain —
    round-13 verdict task 3): after a delete wave, the scheduler verb
    derives the tombstone ratio from the store itself and triggers
    compact + GC — no operator hand-picks the moment (the index twin
    of snapshot_store_auto_maintain).  In-query hard gates: the
    maintain compacted for the dead_ratio reason, zero dead rows
    remain per ann_index_stats, and an immediate second call no-ops
    (scheduler idempotence).  Output = the probe over the maintained
    store; oracle = the IVF rule over the live corpus (identical shape
    to ann_index_delete's — maintenance must not move results)."""
    import tempfile

    from .operators import ann_index

    emb = load(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/annidx"
        ann_index.ann_index_build(
            emb, idx, n_centroids=_IVF_CENTROIDS, m=_PQ_M, k_codes=_PQ_K
        ).collect()
        ann_index.ann_index_delete(spark, idx, list(range(100, 150))).collect()
        rec = ann_index.ann_index_maintain(
            spark, idx, max_dead_ratio=0.001
        ).collect()[0]
        if rec["action"] != "compacted" or "dead_ratio" not in rec["reason"]:
            raise AssertionError(f"maintain receipt wrong: {rec}")
        n_dead = (
            ann_index.ann_index_stats(spark, idx)
            .agg(F.sum("n_dead"))
            .first()[0]
        )
        if n_dead:
            raise AssertionError(
                f"maintain left {n_dead} dead rows unreclaimed"
            )
        rec2 = ann_index.ann_index_maintain(
            spark, idx, max_dead_ratio=0.001
        ).collect()[0]
        if rec2["action"] != "noop" or rec2["n_dead"] != 0:
            raise AssertionError(f"maintain not idempotent: {rec2}")
        out = ann_index.ann_index_probe(
            spark, idx, [21, 22, 23], k=_IVF_K, n_probe=_IVF_PROBE
        )
        return out.localCheckpoint(eager=True)


@register(
    "ann_index_fsck",
    "WITH "
    + _annidx_assign_sql()
    + ","
    + _pq_base_sql()
    + f"""
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM assigned) AS n_cells_rows,
           (SELECT CAST(COUNT(DISTINCT vid) AS BIGINT) FROM codes) AS n_codes_rows,
           (SELECT COUNT(*) FROM
              ((SELECT vec_id FROM assigned EXCEPT SELECT vid FROM codes)
               UNION ALL
               (SELECT vid FROM codes EXCEPT SELECT vec_id FROM assigned))
           ) = 0 AS ids_match,
           (SELECT COUNT(*) FROM assigned
             WHERE cell < 0 OR cell >= {_IVF_CENTROIDS}) = 0 AS cells_in_range,
           (SELECT COUNT(*) FROM codes
             WHERE code < 0 OR code >= {_PQ_K}) = 0 AS codes_in_range,
           (SELECT CAST(COUNT(DISTINCT sub) AS INT) FROM cent) AS m_subspaces,
           (SELECT CAST(COUNT(*) AS BIGINT)
              FROM (SELECT DISTINCT sub, code FROM cent)) AS codebook_entries
    """,
)
def ann_index_fsck_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index integrity audit (fsck): the persisted components must
    agree — cells and codes cover the SAME id set, every cell value
    within [0, n_centroids), every code within [0, k), and the
    codebook complete.  Both sides DERIVE every field independently:
    Spark from the on-disk store (directories resolved through the
    generation manifest — resolve_dirs — so fsck audits exactly what
    probes read) via real anti-joins and range scans; the oracle from
    the assignment + PQ-encode CTE replay (no pinned literals).  A
    missing code row, an orphaned cell row, an out-of-range value, or
    a truncated codebook flips the hash on either side."""
    import tempfile

    from .operators import ann_index

    emb = load(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/annidx"
        ann_index.ann_index_build(
            emb, idx, n_centroids=_IVF_CENTROIDS, m=_PQ_M, k_codes=_PQ_K
        ).collect()
        dirs = ann_index.resolve_dirs(spark, idx)
        cells = spark.read.parquet(dirs["cells"])
        codes = spark.read.parquet(dirs["codes"])
        cb = spark.read.parquet(dirs["codebook"])
        n_cells = cells.count()
        n_codes = codes.count()
        # id-set agreement via the two anti-joins (each direction; a
        # full-outer null test is vacuous after USING-coalesce)
        only_one_side = (
            cells.select("vec_id")
            .join(codes.select("vec_id"), "vec_id", "left_anti")
            .count()
            + codes.select("vec_id")
            .join(cells.select("vec_id"), "vec_id", "left_anti")
            .count()
        )
        cells_ok = (
            cells.filter(
                (F.col("cell") < 0) | (F.col("cell") >= _IVF_CENTROIDS)
            ).count()
            == 0
        )
        code_cols = [c for c in codes.columns if c.startswith("code")]
        codes_ok = (
            codes.filter(
                " OR ".join(f"({c} < 0 OR {c} >= {_PQ_K})" for c in code_cols)
            ).count()
            == 0
        )
        m_sub = cb.select("sub").distinct().count()
        cb_n = cb.count()
        return spark.createDataFrame(
            [
                (
                    n_cells,
                    n_codes,
                    bool(only_one_side == 0),
                    bool(cells_ok),
                    bool(codes_ok),
                    m_sub,
                    cb_n,
                )
            ],
            "n_cells_rows long, n_codes_rows long, ids_match boolean, "
            "cells_in_range boolean, codes_in_range boolean, "
            "m_subspaces int, codebook_entries long",
        )


@register(
    "ann_index_lifecycle",
    f"""
    WITH live AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id NOT BETWEEN 200 AND 249
    ), cents AS (
      SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM live WHERE vec_id < {_IVF_CENTROIDS}
    ), scored AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.centroid_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv), 6) AS ccos
      FROM live e CROSS JOIN cents c
    ), assigned AS (
      SELECT vec_id, v, centroid_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored) WHERE rk = 1
    ), probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT vec_id AS query_id, v AS qv, centroid_id AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored WHERE vec_id IN (21, 22, 23)) WHERE rk <= {_IVF_PROBE}
    ), cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.qv, a.v), 4) AS cos
      FROM assigned a JOIN probes p ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      FROM cand) WHERE rk <= {_IVF_K}
    """,
)
def ann_index_lifecycle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index lifecycle CAPSTONE — all five verbs composed in one
    run: build(first half) → append(second half, frozen
    centroids/codebook) → delete(ids 200-249, tombstones) →
    compact(reclaim + truncate) → probe.  The oracle is the one-shot
    IVF rule over the LIVE corpus, so any verb corrupting the store
    anywhere in the chain flips the hash (the pairwise equivalences
    are pinned individually in tests/test_ann_index.py; this gates the
    COMPOSITION)."""
    import tempfile

    from .operators import ann_index

    emb = load(spark, sf_dir, "embeddings")
    half = emb.agg((F.max("vec_id") / 2).cast("long")).first()[0]
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/annidx"
        ann_index.ann_index_build(
            emb.filter(F.col("vec_id") <= half), idx,
            n_centroids=_IVF_CENTROIDS, m=_PQ_M, k_codes=_PQ_K,
        ).collect()
        ann_index.ann_index_append(
            spark, emb.filter(F.col("vec_id") > half), idx
        ).collect()
        ann_index.ann_index_delete(spark, idx, list(range(200, 250))).collect()
        ann_index.ann_index_compact(spark, idx).collect()
        out = ann_index.ann_index_probe(
            spark, idx, [21, 22, 23], k=_IVF_K, n_probe=_IVF_PROBE
        )
        return out.localCheckpoint(eager=True)


def _nprobe_curve_oracle() -> str:
    """Replay the IVF probe at every n_probe in 1..4 plus brute-force
    ground truth; per n_probe, the mean recall@k over the query set."""
    ids = ", ".join(map(str, _ANN_QUERY_IDS))
    legs = []
    for np_ in range(1, _IVF_PROBE + 1):
        legs.append(f"""
    probes{np_} AS (
      SELECT query_id, qv, cell FROM (
        SELECT vec_id AS query_id, v AS qv, centroid_id AS cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS rk
        FROM scored WHERE vec_id IN ({ids})) WHERE rk <= {np_}
    ), approx{np_} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY c.query_id
                 ORDER BY c.cos DESC, c.neighbor_id) AS rk
        FROM (
          SELECT p.query_id, a.vec_id AS neighbor_id,
                 ROUND(list_cosine_similarity(p.qv, a.v), 4) AS cos
          FROM assigned a JOIN probes{np_} p ON a.cell = p.cell
          WHERE a.vec_id <> p.query_id) c
      ) WHERE rk <= {_IVF_K}
    ), rec{np_} AS (
      SELECT {np_} AS n_probe,
             CAST(COUNT(e.neighbor_id) AS BIGINT) AS n_hits
      FROM approx{np_} a
      LEFT JOIN exact e ON e.query_id = a.query_id
                       AND e.neighbor_id = a.neighbor_id
    )""")
    unions = " UNION ALL ".join(
        f"SELECT n_probe, n_hits FROM rec{np_}"
        for np_ in range(1, _IVF_PROBE + 1)
    )
    return (
        "WITH "
        + _annidx_assign_sql()
        + f""",
    q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id IN ({ids})
    ), exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY ROUND(list_cosine_similarity(q.qv,
                         CAST(e.embedding AS DOUBLE[])), 4) DESC, e.vec_id) AS rk
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
      ) WHERE rk <= {_IVF_K}
    ),{','.join(legs)}
    SELECT CAST(n_probe AS INT) AS n_probe,
           ROUND(CAST(n_hits AS DOUBLE)
                 / ({len(_ANN_QUERY_IDS)} * {_IVF_K}) + 1e-9, 4) AS avg_recall
    FROM ({unions})
    """
    )


@register("ann_nprobe_recall_curve", _nprobe_curve_oracle())
def ann_nprobe_recall_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN tuning curve: recall@k of the IVF probe as n_probe sweeps
    1..4, against brute-force ground truth — the operating-point table
    an ANN deployment picks its latency/recall trade from.  The
    corpus-side work (assignment, brute scan) is shared across legs;
    each extra n_probe only widens the candidate join."""
    from .operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(emb, _ANN_QUERY_IDS, k=_IVF_K).select(
        "query_id", "neighbor_id"
    )
    legs = []
    for np_ in range(1, _IVF_PROBE + 1):
        approx = similarity.ivf_topk(
            emb, _ANN_QUERY_IDS, k=_IVF_K,
            n_centroids=_IVF_CENTROIDS, n_probe=np_,
        ).select("query_id", "neighbor_id")
        hits = approx.join(exact, ["query_id", "neighbor_id"], "left_semi")
        legs.append(
            hits.agg(F.count(F.lit(1)).alias("n_hits")).select(
                F.lit(np_).cast("int").alias("n_probe"),
                F.round(
                    F.col("n_hits").cast("double")
                    / (len(_ANN_QUERY_IDS) * _IVF_K)
                    + F.lit(1e-9),
                    4,
                ).alias("avg_recall"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


@register("wordpiece_artifact_roundtrip", _wordpiece.wordpiece_encode_oracle_sql(12))
def wordpiece_artifact_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece artifact round-trip: learn the merge table, PERSIST it
    (operators/artifacts.py), reload in rank order, rebuild the encode
    vocabulary (base symbols ∪ loaded merges), encode.  Same oracle as
    wordpiece_encode — a drifted artifact flips the hash."""
    import tempfile

    from .operators.artifacts import load_merges, save_merge_table
    from .operators.bpe import word_symbol_table

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as tmp:
        save_merge_table(
            _wordpiece.learn_wordpiece_merges(docs, "text", n_merges=12),
            f"{tmp}/wp",
        )
        merged = spark.createDataFrame(
            [(left + right,) for left, right in load_merges(spark, f"{tmp}/wp")],
            "sym string",
        )
        base = (
            word_symbol_table(docs, "text")
            .select(F.explode("syms").alias("sym"))
            .distinct()
        )
        vocab = base.unionByName(merged).distinct()
        out = _wordpiece.wordpiece_encode_stats(docs, "doc_id", "text", vocab)
        return out.localCheckpoint(eager=True)


@register("unigram_artifact_roundtrip", _unigram.unigram_encode_oracle_sql())
def unigram_artifact_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM artifact round-trip: learn the piece/score table,
    persist (integer micro-nat scores round-trip exactly), reload, and
    encode with the LOADED table.  Same oracle as unigram_lm_encode."""
    import tempfile

    from .operators.artifacts import load_pieces, save_piece_table

    docs = load(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as tmp:
        save_piece_table(
            _unigram.learn_unigram_vocab(docs, "text", em_rounds=2),
            f"{tmp}/ug",
        )
        out = _unigram.unigram_encode_stats(
            docs, "doc_id", "text", load_pieces(spark, f"{tmp}/ug")
        )
        return out.localCheckpoint(eager=True)


@register("bpe_artifact_roundtrip", bpe_encode_oracle_sql(12))
def bpe_artifact_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer artifact round-trip (operators/artifacts.py): learn
    the BPE merge table, PERSIST it as versioned parquet, reload it in
    rank order, and encode the corpus with the LOADED artifact.  The
    oracle is the same unrolled-CTE encode SQL as `bpe_encode` — a
    reordered, truncated, or type-drifted artifact flips the hash, so
    the round-trip (not just the learner) is what's gated."""
    import tempfile

    from .operators.artifacts import load_merges, save_merge_table
    from .operators.bpe import bpe_encode_stats, learn_bpe_merges

    from .functions.text import tokens as _tokens

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # one tokenization collapse shared by the learn and encode legs
    # (the bpe_encode / fertility-compare idiom)
    toks = F.transform(_tokens("text"), lambda t: F.lower(t))
    doc_words = (
        docs.select("doc_id", F.explode(toks).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    ).localCheckpoint(eager=True)
    words = doc_words.groupBy("w").agg(F.sum("n").alias("freq"))
    with tempfile.TemporaryDirectory() as tmp:
        save_merge_table(
            learn_bpe_merges(docs, "text", n_merges=12, words=words),
            f"{tmp}/bpe",
        )
        merges = load_merges(spark, f"{tmp}/bpe")
        out = bpe_encode_stats(
            docs, "doc_id", "text", merges, doc_words=doc_words
        )
        return out.localCheckpoint(eager=True)


@register(
    "lda_determinism",
    """
    SELECT doc_id, TRUE AS refit_identical, TRUE AS partition_invariant
    FROM documents
    """,
)
def lda_determinism_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantitative LDA determinism gate (round-9 verdict task 2): the
    reproducible fit (operators/topics.fit_topics_reproducible —
    canonical single-partition model-update order) is refit-identical
    AND invariant to the input's upstream partitioning.  HARD-gated per
    document: `refit_identical` compares two independent fits' widened
    topic loadings EXACTLY (0.0 tolerance — measured bit-exact),
    `partition_invariant` compares against a fit over a repartition(32)
    input.  A single diverging loading anywhere flips the value hash.
    (The distributed fit_topics stays the scale form; its float
    reduce-order nondeterminism is measured and documented in the
    operator docstring.)"""
    from .operators.topics import fit_topics_reproducible, widen_topics

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def widened(d: DataFrame) -> DataFrame:
        _, t = fit_topics_reproducible(
            d, id_col="doc_id", text_col="text", k=5, min_df=2.0
        )
        return widen_topics(t, ["doc_id"], k=5)

    a, b, c = widened(docs), widened(docs), widened(docs.repartition(32))
    tcols = [f"topic_{i}" for i in range(1, 6)]
    b = b.select("doc_id", *[F.col(t).alias(f"b_{t}") for t in tcols])
    c = c.select("doc_id", *[F.col(t).alias(f"c_{t}") for t in tcols])
    refit_ok = None
    part_ok = None
    for t in tcols:
        eb = F.col(t) == F.col(f"b_{t}")
        ec = F.col(t) == F.col(f"c_{t}")
        refit_ok = eb if refit_ok is None else (refit_ok & eb)
        part_ok = ec if part_ok is None else (part_ok & ec)
    return (
        a.join(b, "doc_id")
        .join(c, "doc_id")
        .select(
            "doc_id",
            refit_ok.alias("refit_identical"),
            part_ok.alias("partition_invariant"),
        )
    )


@register(
    "lda_label_stability",
    """
    SELECT CAST(i AS INT) AS topic, TRUE AS labels_stable
    FROM range(0, 5) t(i)
    """,
)
def lda_label_stability_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topic_labels stability under repartition(n), n in {1, 8, 32}
    (round-9 verdict task 2, second half): the reproducible fit's
    'topic_N: w1 .. w10' label strings must be IDENTICAL whatever the
    upstream layout — per topic, all three labels string-equal.
    HARD-gated: any reordered or substituted top word flips the hash."""
    from .operators.topics import fit_topics_reproducible, topic_names

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    legs = []
    for i, n in enumerate((1, 8, 32)):
        model, _ = fit_topics_reproducible(
            docs.repartition(n), id_col="doc_id", text_col="text", k=5, min_df=2.0
        )
        legs.append(
            topic_names(model, 10).select(
                "topic", F.col("topic_name").alias(f"name_{i}")
            )
        )
    j = legs[0].join(legs[1], "topic").join(legs[2], "topic")
    return j.select(
        F.col("topic").cast("int").alias("topic"),
        (
            (F.col("name_0") == F.col("name_1"))
            & (F.col("name_1") == F.col("name_2"))
        ).alias("labels_stable"),
    )


# ---------------------------------------------------------------------------
# Persistent MinHash-LSH dedup index (operators/dedup_index.py): the
# sign-once / probe-at-ingest lifecycle — build, probe, append, delete,
# compact, stats, composed capstone.  Every oracle replays the persisted
# artifacts from the same shingle → salted-md5 MinHash → band-key chain
# the fused near-dup queries use (must stay in lockstep with
# dedup.minhash_signatures / dedup.lsh_band_keys).
# ---------------------------------------------------------------------------

# Shared CTE text: signatures + band keys (+ the pfx partition column,
# first hex char of the band key) over the whole documents table.
_DEDUPIDX_BANDED_SQL = (
    _SHINGLE_SQL
    + f""", sig AS (
      SELECT doc_id, {_MINHASH_AGGS_SQL} FROM sh GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, band, key, substring(key, 1, 1) AS pfx FROM (
        SELECT doc_id, 0 AS band, md5(concat(h0, '|', h1)) AS key FROM sig
        UNION ALL SELECT doc_id, 1, md5(concat(h2, '|', h3)) FROM sig
        UNION ALL SELECT doc_id, 2, md5(concat(h4, '|', h5)) FROM sig
        UNION ALL SELECT doc_id, 3, md5(concat(h6, '|', h7)) FROM sig)
    )"""
)

# Signature-agreement estimate between a probe/index candidate pair.
_DEDUPIDX_AGREE_SQL = (
    "CAST(("
    + "+".join(f"(ps.h{i} = isg.h{i})::INT" for i in range(_MINHASH_K))
    + ") AS INT)"
)

_DEDUPIDX_MIN_AGREE = 4
_DEDUPIDX_DEL_LO, _DEDUPIDX_DEL_HI = 1, 149  # literal tombstone id range


def _dedupidx_probe_sql(index_pred: str, probe_pred: str) -> str:
    """Oracle text for a probe: LSH band-collision candidates between
    the probe set and the LIVE index set, then the n/num_hashes
    signature-agreement estimate — the exact rule dedup_index_probe
    serves off the persisted artifacts."""
    return f"""
    WITH {_DEDUPIDX_BANDED_SQL}, cand AS (
      SELECT DISTINCT p.doc_id AS probe_id, i.doc_id AS index_id
      FROM banded p JOIN banded i ON p.band = i.band AND p.key = i.key
      WHERE ({probe_pred.replace('doc_id', 'p.doc_id')})
        AND ({index_pred.replace('doc_id', 'i.doc_id')})
        AND p.doc_id <> i.doc_id
    ), ag AS (
      SELECT c.probe_id, c.index_id, {_DEDUPIDX_AGREE_SQL} AS n_agree
      FROM cand c
      JOIN sig ps ON ps.doc_id = c.probe_id
      JOIN sig isg ON isg.doc_id = c.index_id
    )
    SELECT probe_id, index_id, n_agree,
           CAST(n_agree AS DOUBLE) / {_MINHASH_K}.0 AS est_jaccard
    FROM ag WHERE n_agree >= {_DEDUPIDX_MIN_AGREE}
    """


def _dedupidx_manifest_sql(doc_pred: str = "TRUE") -> str:
    return f"""
    WITH {_DEDUPIDX_BANDED_SQL}
    SELECT band, pfx, COUNT(*) AS n_rows, COUNT(DISTINCT key) AS n_keys,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM banded WHERE {doc_pred} GROUP BY band, pfx
    """


@register("dedup_index_build", _dedupidx_manifest_sql())
def dedup_index_build_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build + persist the dedup index (operators/dedup_index.py):
    MinHash signature table + the (band, pfx)-partitioned band table —
    the manifest is read BACK from the persisted band table, so the
    hash gate proves the on-disk layout, not an in-flight frame."""
    import tempfile

    from .operators import dedup_index

    with tempfile.TemporaryDirectory() as tmp:
        out = dedup_index.dedup_index_build(
            load(spark, sf_dir, "documents"), f"{tmp}/dix"
        )
        return out.localCheckpoint(eager=True)


@register(
    "dedup_index_probe",
    _dedupidx_probe_sql("doc_id % 10 != 0", "doc_id % 10 = 0"),
)
def dedup_index_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-dup check off the PERSISTED index — no corpus
    re-sign: the incoming batch is signed, its band keys hash-join the
    band table (pruned on disk to the batch's (band, pfx) set — a
    routing collect bounded by bands x 16 regardless of batch size),
    and Jaccard is estimated from the persisted signatures.  Matches
    the fused signature+band rule exactly (tests/test_dedup_index.py)."""
    import tempfile

    from .operators import dedup_index

    docs = load(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as tmp:
        dedup_index.dedup_index_build(
            docs.filter("doc_id % 10 != 0"), f"{tmp}/dix"
        ).collect()
        out = dedup_index.dedup_index_probe(
            spark,
            docs.filter("doc_id % 10 = 0"),
            f"{tmp}/dix",
            min_agree=_DEDUPIDX_MIN_AGREE,
        )
        return out.localCheckpoint(eager=True)


@register("dedup_index_append", _dedupidx_manifest_sql())
def dedup_index_append_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance: build on half the corpus, append the
    other half, read the manifest back from disk.  Signatures are a
    pure per-document function, so the store is byte-identical to a
    one-shot full build — the oracle IS the full-corpus manifest."""
    import tempfile

    from .operators import dedup_index

    docs = load(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as tmp:
        dedup_index.dedup_index_build(
            docs.filter("doc_id % 2 = 0"), f"{tmp}/dix"
        ).collect()
        dedup_index.dedup_index_append(
            spark, docs.filter("doc_id % 2 = 1"), f"{tmp}/dix"
        ).collect()
        out = dedup_index.dedup_index_manifest(spark, f"{tmp}/dix")
        return out.localCheckpoint(eager=True)


@register(
    "dedup_index_delete",
    _dedupidx_probe_sql(
        f"doc_id % 10 != 0 AND doc_id NOT BETWEEN {_DEDUPIDX_DEL_LO} "
        f"AND {_DEDUPIDX_DEL_HI}",
        "doc_id % 10 = 0",
    ),
)
def dedup_index_delete_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSM delete: tombstone a fixed id range, then probe — tombstoned
    corpus documents must never surface as near-dup hits (the probe
    anti-joins the broadcast delete log).  Oracle = the probe rule over
    the live (non-deleted) corpus."""
    import tempfile

    from .operators import dedup_index

    docs = load(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as tmp:
        dedup_index.dedup_index_build(
            docs.filter("doc_id % 10 != 0"), f"{tmp}/dix"
        ).collect()
        dedup_index.dedup_index_delete(
            spark,
            f"{tmp}/dix",
            list(range(_DEDUPIDX_DEL_LO, _DEDUPIDX_DEL_HI + 1)),
        ).collect()
        out = dedup_index.dedup_index_probe(
            spark,
            docs.filter("doc_id % 10 = 0"),
            f"{tmp}/dix",
            min_agree=_DEDUPIDX_MIN_AGREE,
        )
        return out.localCheckpoint(eager=True)


@register(
    "dedup_index_compact",
    _dedupidx_manifest_sql(
        f"doc_id NOT BETWEEN {_DEDUPIDX_DEL_LO} AND {_DEDUPIDX_DEL_HI}"
    ),
)
def dedup_index_compact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction: tombstone a fixed range, compact into a fresh
    generation (ONE manifest-append commit — same object-store-safe
    protocol as ann_index_compact), read the manifest back from the
    NEW generation.  Oracle = the band manifest over the live corpus:
    tombstoned rows must be physically gone."""
    import tempfile

    from .operators import dedup_index

    with tempfile.TemporaryDirectory() as tmp:
        dedup_index.dedup_index_build(
            load(spark, sf_dir, "documents"), f"{tmp}/dix"
        ).collect()
        dedup_index.dedup_index_delete(
            spark,
            f"{tmp}/dix",
            list(range(_DEDUPIDX_DEL_LO, _DEDUPIDX_DEL_HI + 1)),
        ).collect()
        out = dedup_index.dedup_index_compact(spark, f"{tmp}/dix")
        return out.localCheckpoint(eager=True)


@register(
    "dedup_index_stats",
    f"""
    WITH {_DEDUPIDX_BANDED_SQL},
    live AS (
      SELECT * FROM banded
      WHERE doc_id NOT BETWEEN {_DEDUPIDX_DEL_LO} AND {_DEDUPIDX_DEL_HI}
    ),
    phys AS (
      SELECT band, pfx, COUNT(*) AS n_rows_physical
      FROM banded GROUP BY band, pfx
    ),
    perkey AS (
      SELECT band, pfx, key, COUNT(*) AS nb FROM live GROUP BY band, pfx, key
    ),
    lv AS (
      SELECT band, pfx, CAST(SUM(nb) AS BIGINT) AS n_rows_live,
             COUNT(*) AS n_keys_live, MAX(nb) AS max_bucket_live
      FROM perkey GROUP BY band, pfx
    )
    SELECT p.band, p.pfx, p.n_rows_physical,
           COALESCE(lv.n_rows_live, 0) AS n_rows_live,
           COALESCE(lv.n_keys_live, 0) AS n_keys_live,
           COALESCE(lv.max_bucket_live, 0) AS max_bucket_live
    FROM phys p LEFT JOIN lv ON p.band = lv.band AND p.pfx = lv.pfx
    """,
)
def dedup_index_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops monitoring after a delete wave: physical vs live rows per
    (band, pfx) partition, live distinct keys, and the max live bucket
    size — the hot-bucket skew monitor (one degenerate band key is what
    turns an LSH join quadratic; production dedup services alert on
    it).  Oracle derives physical from all rows and live from the
    non-tombstoned set."""
    import tempfile

    from .operators import dedup_index

    with tempfile.TemporaryDirectory() as tmp:
        dedup_index.dedup_index_build(
            load(spark, sf_dir, "documents"), f"{tmp}/dix"
        ).collect()
        dedup_index.dedup_index_delete(
            spark,
            f"{tmp}/dix",
            list(range(_DEDUPIDX_DEL_LO, _DEDUPIDX_DEL_HI + 1)),
        ).collect()
        out = dedup_index.dedup_index_stats(spark, f"{tmp}/dix")
        return out.localCheckpoint(eager=True)


@register(
    "dedup_index_maintain",
    _dedupidx_probe_sql(
        f"doc_id % 10 != 0 AND doc_id NOT BETWEEN {_DEDUPIDX_DEL_LO} "
        f"AND {_DEDUPIDX_DEL_HI}",
        "doc_id % 10 = 0",
    ),
)
def dedup_index_maintain_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scheduled index maintenance (dedup_index.dedup_index_maintain —
    round-13 verdict task 3): after a delete wave, the scheduler verb
    derives the tombstone ratio from the store itself and triggers the
    compact + GC — no operator hand-picks the moment.  In-query hard
    gates: the maintain compacted for the dead_ratio reason, fsck is
    green on the result, the delete log is empty, and an immediate
    second call no-ops (scheduler idempotence).  Output = the probe
    over the maintained store; oracle = the probe rule over the live
    corpus (identical to dedup_index_delete's — maintenance must not
    move results).  The torn-append auto-heal path of the same verb is
    pinned by tests/test_dedup_index.py."""
    import tempfile

    from .operators import dedup_index

    docs = load(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as tmp:
        dedup_index.dedup_index_build(
            docs.filter("doc_id % 10 != 0"), f"{tmp}/dix"
        ).collect()
        dedup_index.dedup_index_delete(
            spark,
            f"{tmp}/dix",
            list(range(_DEDUPIDX_DEL_LO, _DEDUPIDX_DEL_HI + 1)),
        ).collect()
        rec = dedup_index.dedup_index_maintain(
            spark, f"{tmp}/dix", max_dead_ratio=0.01
        ).collect()[0]
        if rec["action"] != "compacted" or "dead_ratio" not in rec["reason"]:
            raise AssertionError(f"maintain receipt wrong: {rec}")
        fsck = dedup_index.dedup_index_fsck(spark, f"{tmp}/dix").collect()[0]
        if not (fsck["ids_match"] and fsck["rows_per_doc_ok"]):
            raise AssertionError(f"maintained store fails fsck: {fsck}")
        rec2 = dedup_index.dedup_index_maintain(
            spark, f"{tmp}/dix", max_dead_ratio=0.01
        ).collect()[0]
        if rec2["action"] != "noop" or rec2["n_dead"] != 0:
            raise AssertionError(f"maintain not idempotent: {rec2}")
        out = dedup_index.dedup_index_probe(
            spark,
            docs.filter("doc_id % 10 = 0"),
            f"{tmp}/dix",
            min_agree=_DEDUPIDX_MIN_AGREE,
        )
        return out.localCheckpoint(eager=True)


@register(
    "dedup_index_lifecycle",
    _dedupidx_probe_sql(
        "doc_id % 3 IN (0, 1) AND doc_id NOT BETWEEN 0 AND 59",
        "doc_id % 3 = 2",
    ),
)
def dedup_index_lifecycle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed lifecycle capstone — all verbs in ONE query:
    build(⅓ of corpus) → append(another ⅓) → delete a fixed range →
    compact (generation flip) → probe with the remaining ⅓.  The
    oracle knows nothing about the journey: it is the one-shot probe
    rule over the final live corpus, so any verb corrupting the store
    (lost append, resurrected delete, compaction drift) flips the
    hash."""
    import tempfile

    from .operators import dedup_index

    docs = load(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as tmp:
        d = f"{tmp}/dix"
        dedup_index.dedup_index_build(docs.filter("doc_id % 3 = 0"), d).collect()
        dedup_index.dedup_index_append(
            spark, docs.filter("doc_id % 3 = 1"), d
        ).collect()
        dedup_index.dedup_index_delete(spark, d, list(range(0, 60))).collect()
        dedup_index.dedup_index_compact(spark, d).collect()
        out = dedup_index.dedup_index_probe(
            spark,
            docs.filter("doc_id % 3 = 2"),
            d,
            min_agree=_DEDUPIDX_MIN_AGREE,
        )
        return out.localCheckpoint(eager=True)


@register(
    "dedup_index_fsck",
    f"""
    WITH {_DEDUPIDX_BANDED_SQL}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sig) AS n_docs,
           (SELECT COUNT(*) FROM
              ((SELECT doc_id FROM sig
                EXCEPT SELECT DISTINCT doc_id FROM banded)
               UNION ALL
               (SELECT DISTINCT doc_id FROM banded
                EXCEPT SELECT doc_id FROM sig))
           ) = 0 AS ids_match,
           (SELECT COUNT(*) FROM (
              SELECT doc_id FROM banded GROUP BY doc_id
              HAVING COUNT(*) <> 4 OR COUNT(DISTINCT band) <> 4)
           ) = 0 AS rows_per_doc_ok,
           (SELECT COUNT(*) FROM banded
             WHERE band < 0 OR band >= 4) = 0 AS band_range_ok,
           (SELECT COUNT(*) FROM banded
             WHERE pfx <> substring(key, 1, 1)) = 0 AS pfx_ok
    """,
)
def dedup_index_fsck_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-index integrity audit (dedup_index.dedup_index_fsck) after
    a build + append: signature/band tables must cover the same doc
    set (real anti-joins both ways), every doc exactly 4 band rows on
    4 distinct bands, band ids in range, pfx = first hex char of the
    key.  Both sides DERIVE every boolean — Spark from the on-disk
    store via the generation resolver, the oracle from the banded CTE
    replay (no pinned literals)."""
    import tempfile

    from .operators import dedup_index

    docs = load(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as tmp:
        dedup_index.dedup_index_build(
            docs.filter("doc_id % 2 = 0"), f"{tmp}/dix"
        ).collect()
        dedup_index.dedup_index_append(
            spark, docs.filter("doc_id % 2 = 1"), f"{tmp}/dix"
        ).collect()
        out = dedup_index.dedup_index_fsck(spark, f"{tmp}/dix")
        return out.localCheckpoint(eager=True)


def _dedupidx_epoch_sql(e: int, live_pred: str) -> str:
    """One unrolled ingest epoch: band-collision hits of batch `e`
    against the live set, best match per probe (max agreement, min
    index id), and the epoch's ingested survivors."""
    return f"""
    c{e} AS (
      SELECT DISTINCT p.doc_id AS probe_id, i.doc_id AS index_id
      FROM banded p JOIN banded i ON p.band = i.band AND p.key = i.key
      WHERE p.doc_id % 4 = {e} AND ({live_pred})
    ), a{e} AS (
      SELECT c.probe_id, c.index_id, {_DEDUPIDX_AGREE_SQL} AS n_agree
      FROM c{e} c
      JOIN sig ps ON ps.doc_id = c.probe_id
      JOIN sig isg ON isg.doc_id = c.index_id
    ), b{e} AS (
      SELECT probe_id, index_id, n_agree FROM (
        SELECT *, row_number() OVER (
          PARTITION BY probe_id ORDER BY n_agree DESC, index_id) AS rk
        FROM a{e} WHERE n_agree >= {_DEDUPIDX_MIN_AGREE}) WHERE rk = 1
    ), ing{e} AS (
      SELECT doc_id FROM documents WHERE doc_id % 4 = {e}
        AND doc_id NOT IN (SELECT probe_id FROM b{e})
    )"""


def _dedupidx_fate_sql(e: int) -> str:
    return f"""
    SELECT CAST({e} AS INT) AS epoch, d.doc_id,
           CASE WHEN b.probe_id IS NOT NULL THEN 'dup' ELSE 'ingested' END AS fate,
           b.index_id AS dup_of, b.n_agree
    FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = {e}) d
    LEFT JOIN b{e} b ON b.probe_id = d.doc_id"""


@register(
    "streaming_dedup_index_ingest",
    f"""
    WITH {_DEDUPIDX_BANDED_SQL},
    {_dedupidx_epoch_sql(1, "i.doc_id % 4 = 0")},
    {_dedupidx_epoch_sql(
        2,
        "i.doc_id % 4 = 0 OR i.doc_id IN (SELECT doc_id FROM ing1)",
    )},
    {_dedupidx_epoch_sql(
        3,
        "i.doc_id % 4 = 0 OR i.doc_id IN (SELECT doc_id FROM ing1) "
        "OR i.doc_id IN (SELECT doc_id FROM ing2)",
    )}
    {_dedupidx_fate_sql(1)}
    UNION ALL {_dedupidx_fate_sql(2)}
    UNION ALL {_dedupidx_fate_sql(3)}
    """,
)
def streaming_dedup_index_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ingest-dedup loop as a STREAM: a persistent dedup
    index is built on a quarter of the corpus; three document
    micro-batches (epochs 1/2/3 = the other mod-4 classes) arrive in
    order; each batch is probed against the index state BEFORE the
    batch (within-batch pairs are deliberately not flagged against each
    other — the contract at ingest), hit docs are fated 'dup' with
    their best match (max signature agreement, min index id tie-break),
    and the survivors are APPENDED — so an epoch-3 document can be a
    duplicate of an epoch-1 ingest.  The oracle unrolls the three
    epochs with the live set threaded through (ing1 → ing2 → ing3), so
    a lost append, a stale index read, or a wrong tie-break flips the
    hash.  Micro-batch order is pinned by distinct source-file mtimes;
    the epoch key is derived from batch CONTENT, never batch_id."""
    import os
    import shutil
    import tempfile
    import time as _time
    import uuid

    from pyspark.sql import Window

    from .operators import dedup_index

    docs = load(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/dix"
        dedup_index.dedup_index_build(docs.filter("doc_id % 4 = 0"), idx).collect()
        src = f"{tmp}/batches"
        os.makedirs(src)
        t0 = _time.time() - 600
        for e in (1, 2, 3):
            stage = f"{tmp}/stage_{e}"
            (
                docs.filter(f"doc_id % 4 = {e}")
                .select("doc_id", "text", F.lit(e).cast("int").alias("epoch"))
                .coalesce(1)
                .write.parquet(stage)
            )
            part = next(
                f for f in os.listdir(stage)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            dst = f"{src}/epoch_{e}.parquet"
            shutil.move(f"{stage}/{part}", dst)
            os.utime(dst, (t0 + 60 * e, t0 + 60 * e))
        out_dir = f"{tmp}/fates"

        def ingest_batch(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            e = int(batch_df.agg(F.max("epoch")).first()[0])
            batch_docs = batch_df.select("doc_id", "text")
            hits = dedup_index.dedup_index_probe(
                spark, batch_docs, idx, min_agree=_DEDUPIDX_MIN_AGREE
            )
            w = Window.partitionBy("probe_id").orderBy(
                F.desc("n_agree"), F.asc("index_id")
            )
            best = (
                hits.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .select("probe_id", "index_id", "n_agree")
            )
            fates = (
                batch_docs.join(
                    best, batch_docs["doc_id"] == best["probe_id"], "left"
                )
                .select(
                    F.lit(e).cast("int").alias("epoch"),
                    "doc_id",
                    F.when(F.col("probe_id").isNotNull(), F.lit("dup"))
                    .otherwise(F.lit("ingested"))
                    .alias("fate"),
                    F.col("index_id").alias("dup_of"),
                    F.col("n_agree"),
                )
            )
            # idempotent per-epoch write (redelivery overwrites in place)
            fates.write.mode("overwrite").parquet(f"{out_dir}/e{e}")
            survivors = batch_docs.join(
                best.select("probe_id"),
                batch_docs["doc_id"] == F.col("probe_id"),
                "left_anti",
            )
            dedup_index.dedup_index_append(spark, survivors, idx)

        stream = (
            spark.readStream.schema("doc_id long, text string, epoch int")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(ingest_batch)
            .option("checkpointLocation", f"{tmp}/ckpt_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        out = spark.read.parquet(
            *[f"{out_dir}/e{e}" for e in (1, 2, 3)]
        ).select("epoch", "doc_id", "fate", "dup_of", "n_agree")
        return out.localCheckpoint(eager=True)


def _lshcurve_sql() -> str:
    """Oracle for the LSH banding operating-point curve: per-config band
    keys + candidate pairs from the shared 8-hash signature, exact
    Jaccard truth (threshold 0.5) within the loosest (rows=1) config's
    candidate neighborhood, recall per config."""
    cfgs = [(8, 1), (4, 2), (2, 4), (1, 8)]
    # AS MATERIALIZED throughout: the scalar subqueries below reference
    # pairs_* / truth several times each, and DuckDB inlines plain CTEs
    # — without materialization the signature + shingle passes would
    # re-execute per reference (measured: minutes instead of seconds).
    ctes = []
    for b, r in cfgs:
        legs = []
        for i in range(b):
            hs = [f"h{i * r + k}" for k in range(r)]
            inner = ", '|', ".join(hs)
            legs.append(
                f"SELECT doc_id, {i} AS band, md5(concat({inner})) AS key FROM sig"
            )
        union = " UNION ALL ".join(legs)
        ctes.append(f"banded_{b} AS MATERIALIZED ({union})")
        ctes.append(
            f"pairs_{b} AS MATERIALIZED "
            f"(SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
            f"FROM banded_{b} a JOIN banded_{b} b "
            f"ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)"
        )
    truth = """
    cdocs AS MATERIALIZED (
      SELECT id_a AS d FROM pairs_8 UNION SELECT id_b FROM pairs_8
    ), shr AS MATERIALIZED (
      SELECT * FROM sh WHERE doc_id IN (SELECT d FROM cdocs)
    ), sz AS MATERIALIZED (
      SELECT doc_id, COUNT(*) AS sz FROM shr GROUP BY doc_id
    ), inter AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM shr a JOIN shr b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), truth AS MATERIALIZED (
      SELECT n.id_a, n.id_b
      FROM inter n
      JOIN pairs_8 p ON p.id_a = n.id_a AND p.id_b = n.id_b
      JOIN sz sa ON sa.doc_id = n.id_a
      JOIN sz sb ON sb.doc_id = n.id_b
      WHERE ROUND(n.i / (sa.sz + sb.sz - n.i) + 1e-9, 4) >= 0.5
    )"""
    selects = []
    for b, r in cfgs:
        cap = (
            f"(SELECT COUNT(*) FROM truth t JOIN pairs_{b} p "
            f"ON p.id_a = t.id_a AND p.id_b = t.id_b)"
        )
        selects.append(f"""
        SELECT CAST({b} AS INT) AS bands, CAST({r} AS INT) AS rows_per_band,
               (SELECT COUNT(*) FROM pairs_{b}) AS n_candidates,
               (SELECT COUNT(*) FROM truth) AS n_truth,
               {cap} AS n_captured,
               CASE WHEN (SELECT COUNT(*) FROM truth) > 0 THEN
                 ROUND(CAST({cap} AS DOUBLE)
                       / (SELECT COUNT(*) FROM truth) + 1e-9, 4)
               END AS recall""")
    return (
        "WITH "
        + _SHINGLE_SQL
        + f", sig AS MATERIALIZED "
        f"(SELECT doc_id, {_MINHASH_AGGS_SQL} FROM sh GROUP BY doc_id),\n"
        + ",\n".join(ctes)
        + ","
        + truth
        + " UNION ALL ".join(selects)
    )


@register("minhash_band_recall_curve", _lshcurve_sql())
def minhash_band_recall_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding operating-point curve (dedup.lsh_recall_curve): for
    each (bands, rows_per_band) split of ONE shared 8-hash MinHash
    signature, the candidate-pair volume and the recall of true
    near-dups (exact Jaccard ≥ 0.5 within the loosest config's
    candidate neighborhood — ≥ 99.6% complete at the threshold by the
    1-(1-J)^8 collision bound).  The dedup twin of
    ann_nprobe_recall_curve: the table that picks the
    recall-vs-volume operating point before a 100 TB dedup run."""
    from .operators import dedup

    return dedup.lsh_recall_curve(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


# ---------------------------------------------------------------------------
# Versioned snapshot store (streaming/snapshots.py): append-only commit
# log + time-travel reads + horizon compaction — the data-versioning
# layer a reproducible training pipeline needs ("read the corpus as of
# run X").  The three synthetic changelog batches are deterministic
# functions of o_orderkey, so the oracle replays each historical state
# with CASE logic: seq 1 upserts %3 keys, seq 2 updates %6 / tombstones
# %9, seq 3 re-upserts %12 (resurrecting the %36 keys deleted at seq 2).
# ---------------------------------------------------------------------------

_SNAP_STATE_SQL = {
    1: """
    SELECT o_orderkey AS id, o_totalprice AS val
    FROM orders WHERE o_orderkey % 3 = 0
    """,
    2: """
    SELECT o_orderkey AS id,
           CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice + 1000
                ELSE o_totalprice END AS val
    FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 9 != 0
    """,
    3: """
    SELECT o_orderkey AS id,
           CASE WHEN o_orderkey % 12 = 0 THEN o_totalprice + 500
                WHEN o_orderkey % 6 = 0 THEN o_totalprice + 1000
                ELSE o_totalprice END AS val
    FROM orders
    WHERE o_orderkey % 3 = 0
      AND (o_orderkey % 9 != 0 OR o_orderkey % 12 = 0)
    """,
}


def _snapshot_batches(spark: SparkSession, sf_dir: str):
    orders = load(spark, sf_dir, "orders")
    b1 = orders.filter("o_orderkey % 3 = 0").select(
        F.col("o_orderkey").alias("id"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        F.col("o_totalprice").cast("double").alias("val"),
    )
    b2 = (
        orders.filter("o_orderkey % 6 = 0")
        .select(
            F.col("o_orderkey").alias("id"),
            F.lit(2).alias("seq"),
            F.lit("U").alias("op"),
            (F.col("o_totalprice") + 1000).cast("double").alias("val"),
        )
        .unionByName(
            orders.filter("o_orderkey % 9 = 0").select(
                F.col("o_orderkey").alias("id"),
                F.lit(2).alias("seq"),
                F.lit("D").alias("op"),
                F.lit(None).cast("double").alias("val"),
            )
        )
    )
    b3 = orders.filter("o_orderkey % 12 = 0").select(
        F.col("o_orderkey").alias("id"),
        F.lit(3).alias("seq"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") + 500).cast("double").alias("val"),
    )
    return b1, b2, b3


@register(
    "snapshot_store_time_travel",
    " UNION ALL ".join(
        f"SELECT CAST({s} AS INT) AS as_of, id, val FROM ({sql})"
        for s, sql in _SNAP_STATE_SQL.items()
    ),
)
def snapshot_store_time_travel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel (streaming/snapshots.py): three changelog batches
    commit as snapshots 1/2/3 (each commit = one immutable log
    partition + ONE manifest-row append, which is the commit point);
    `read_as_of` then reproduces EVERY historical state — including the
    seq-2 tombstones and the seq-3 resurrect-after-delete.  The oracle
    derives each state independently from the key arithmetic, so a
    wrong merge order, a leaked tombstone, or a lost resurrect flips
    the hash."""
    import tempfile

    from .streaming import snapshots

    with tempfile.TemporaryDirectory() as tmp:
        st = f"{tmp}/store"
        b1, b2, b3 = _snapshot_batches(spark, sf_dir)
        for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
            snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
        legs = [
            snapshots.read_as_of(spark, st, s).select(
                F.lit(s).cast("int").alias("as_of"), "id", "val"
            )
            for s in (1, 2, 3)
        ]
        out = legs[0].unionByName(legs[1]).unionByName(legs[2])
        return out.localCheckpoint(eager=True)


@register(
    "snapshot_store_compaction",
    f"SELECT id, val FROM ({_SNAP_STATE_SQL[3]})",
)
def snapshot_store_compaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizon compaction: snapshots ≤ 2 fold into a base generation
    (winners keep their original (snap, seq, op), commit = one
    `_commits` append — the shared ann_index manifest protocol, crash
    leaves readers on the full history), then `read_as_of(3)` runs off
    base + the one tail partition.  Oracle = the final state rule: the
    fold must be invisible to reads at-or-above the horizon (and
    tests/test_snapshots.py pins byte-identity against the
    pre-compaction read + the below-horizon raise + log GC)."""
    import tempfile

    from .streaming import snapshots

    with tempfile.TemporaryDirectory() as tmp:
        st = f"{tmp}/store"
        b1, b2, b3 = _snapshot_batches(spark, sf_dir)
        for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
            snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
        snapshots.compact_snapshots(spark, st, 2).collect()
        out = snapshots.read_as_of(spark, st, 3).select("id", "val")
        return out.localCheckpoint(eager=True)


_DDXSRV_D1 = (1, 99)    # tombstoned before epoch 1
_DDXSRV_D2 = (101, 199)  # tombstoned before epoch 2 (after a compaction)


def _ddxsrv_epoch_leg(e: int, probe_pred: str, live_pred: str) -> str:
    return f"""
    SELECT CAST({e} AS INT) AS epoch, probe_id, index_id, n_agree,
           CAST(n_agree AS DOUBLE) / {_MINHASH_K}.0 AS est_jaccard
    FROM (
      SELECT c.probe_id, c.index_id, {_DEDUPIDX_AGREE_SQL} AS n_agree
      FROM (
        SELECT DISTINCT p.doc_id AS probe_id, i.doc_id AS index_id
        FROM banded p JOIN banded i ON p.band = i.band AND p.key = i.key
        WHERE ({probe_pred.replace('doc_id', 'p.doc_id')})
          AND ({live_pred.replace('doc_id', 'i.doc_id')})
          AND p.doc_id <> i.doc_id
      ) c
      JOIN sig ps ON ps.doc_id = c.probe_id
      JOIN sig isg ON isg.doc_id = c.index_id
    ) WHERE n_agree >= {_DEDUPIDX_MIN_AGREE}"""


@register(
    "streaming_dedup_serving_under_deletes",
    "WITH "
    + _DEDUPIDX_BANDED_SQL
    + f"""
    {_ddxsrv_epoch_leg(0, "doc_id % 30 = 0", "doc_id % 10 != 0")}
    UNION ALL
    {_ddxsrv_epoch_leg(
        1,
        "doc_id % 30 = 10",
        f"doc_id % 10 != 0 AND doc_id NOT BETWEEN {_DDXSRV_D1[0]} AND {_DDXSRV_D1[1]}",
    )}
    UNION ALL
    {_ddxsrv_epoch_leg(
        2,
        "doc_id % 30 = 20",
        f"doc_id % 10 != 0 AND doc_id NOT BETWEEN {_DDXSRV_D1[0]} AND {_DDXSRV_D2[1]}",
    )}
    """,
)
def streaming_dedup_serving_under_deletes_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup-index serving while the index MUTATES under it (the dedup
    twin of streaming_ann_serving_under_deletes): three probe
    micro-batches (epochs 0/1/2), with tombstones landing before epoch
    1 and a COMPACTION (generation flip) plus a second tombstone wave
    before epoch 2 — the epoch-2 probes run against the fresh
    generation's store with a new delete log.  The oracle is the
    live-corpus probe rule PER EPOCH, so a probe that surfaces a
    deleted near-dup, misses a live one, or reads a half-compacted
    store flips the hash.  Batch order pinned by source-file mtimes;
    the delete schedule keys off batch CONTENT, never batch_id."""
    import os
    import shutil
    import tempfile
    import time as _time
    import uuid

    from .operators import dedup_index

    docs = load(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/dix"
        dedup_index.dedup_index_build(docs.filter("doc_id % 10 != 0"), idx).collect()
        src = f"{tmp}/probes"
        os.makedirs(src)
        t0 = _time.time() - 600
        for e in (0, 1, 2):
            stage = f"{tmp}/stage_{e}"
            (
                docs.filter(f"doc_id % 30 = {10 * e}")
                .select("doc_id", "text", F.lit(e).cast("int").alias("epoch"))
                .coalesce(1)
                .write.parquet(stage)
            )
            part = next(
                f for f in os.listdir(stage)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            dst = f"{src}/epoch_{e}.parquet"
            shutil.move(f"{stage}/{part}", dst)
            os.utime(dst, (t0 + 60 * e, t0 + 60 * e))
        out_dir = f"{tmp}/results"

        def probe_batch(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            e = int(batch_df.agg(F.max("epoch")).first()[0])
            if e == 1:
                dedup_index.dedup_index_delete(
                    spark, idx, list(range(_DDXSRV_D1[0], _DDXSRV_D1[1] + 1))
                ).collect()
            elif e == 2:
                dedup_index.dedup_index_compact(spark, idx).collect()
                dedup_index.dedup_index_delete(
                    spark, idx, list(range(_DDXSRV_D2[0], _DDXSRV_D2[1] + 1))
                ).collect()
            out = dedup_index.dedup_index_probe(
                spark,
                batch_df.select("doc_id", "text"),
                idx,
                min_agree=_DEDUPIDX_MIN_AGREE,
            )
            out.select(F.lit(e).cast("int").alias("epoch"), "*").write.mode(
                "overwrite"
            ).parquet(f"{out_dir}/e{e}")

        stream = (
            spark.readStream.schema("doc_id long, text string, epoch int")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(probe_batch)
            .option("checkpointLocation", f"{tmp}/ckpt_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        out = spark.read.parquet(*[f"{out_dir}/e{e}" for e in (0, 1, 2)])
        return out.localCheckpoint(eager=True)


def _snapdiff_leg_sql(s_from: int, s_to: int) -> str:
    return f"""
    SELECT CAST({s_from} AS INT) AS from_snap, CAST({s_to} AS INT) AS to_snap,
           b.id AS id, 'added' AS change,
           CAST(NULL AS DOUBLE) AS val_before, b.val AS val_after
    FROM s{s_to} b LEFT JOIN s{s_from} a ON a.id = b.id WHERE a.id IS NULL
    UNION ALL
    SELECT CAST({s_from} AS INT), CAST({s_to} AS INT),
           a.id, 'deleted', a.val, CAST(NULL AS DOUBLE)
    FROM s{s_from} a LEFT JOIN s{s_to} b ON b.id = a.id WHERE b.id IS NULL
    UNION ALL
    SELECT CAST({s_from} AS INT), CAST({s_to} AS INT),
           a.id, 'updated', a.val, b.val
    FROM s{s_from} a JOIN s{s_to} b ON a.id = b.id WHERE a.val <> b.val
    """


@register(
    "snapshot_store_diff",
    f"""
    WITH s1 AS ({_SNAP_STATE_SQL[1]}), s2 AS ({_SNAP_STATE_SQL[2]}),
         s3 AS ({_SNAP_STATE_SQL[3]})
    {_snapdiff_leg_sql(1, 2)} UNION ALL {_snapdiff_leg_sql(2, 3)}
    """,
)
def snapshot_store_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version diff (snapshots.snapshot_diff): row-level changes between
    consecutive table versions — 1→2 surfaces the seq-2 updates and
    tombstone DELETIONS, 2→3 surfaces the seq-3 updates and the
    resurrect-after-delete keys as ADDITIONS.  Both legs derive from
    `read_as_of` views, so the diff audits exactly what readers see;
    the oracle recomputes each state from the key arithmetic and joins
    the states directly."""
    import tempfile

    from .streaming import snapshots

    with tempfile.TemporaryDirectory() as tmp:
        st = f"{tmp}/store"
        b1, b2, b3 = _snapshot_batches(spark, sf_dir)
        for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
            snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
        legs = [
            snapshots.snapshot_diff(spark, st, f, t).select(
                F.lit(f).cast("int").alias("from_snap"),
                F.lit(t).cast("int").alias("to_snap"),
                "id",
                "change",
                "val_before",
                "val_after",
            )
            for f, t in ((1, 2), (2, 3))
        ]
        out = legs[0].unionByName(legs[1])
        return out.localCheckpoint(eager=True)


@register(
    "streaming_snapshot_commits",
    " UNION ALL ".join(
        f"SELECT CAST({s} AS INT) AS as_of, id, val FROM ({sql})"
        for s, sql in _SNAP_STATE_SQL.items()
    ),
)
def streaming_snapshot_commits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot store fed by a STREAM: three changelog micro-batches
    (order pinned by source-file mtimes) land through foreachBatch →
    `snapshot_commit` with the batch_id as the exactly-once key, then
    time travel reproduces every per-batch state.  Same oracle as the
    batch twin — the stream must leave an identical snapshot history."""
    import os
    import shutil
    import tempfile
    import time as _time
    import uuid

    from .streaming import snapshots

    with tempfile.TemporaryDirectory() as tmp:
        st = f"{tmp}/store"
        src = f"{tmp}/changelog"
        os.makedirs(src)
        t0 = _time.time() - 600
        for i, b in enumerate(_snapshot_batches(spark, sf_dir), start=1):
            stage = f"{tmp}/stage_{i}"
            b.coalesce(1).write.parquet(stage)
            part = next(
                f for f in os.listdir(stage)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            dst = f"{src}/batch_{i}.parquet"
            shutil.move(f"{stage}/{part}", dst)
            os.utime(dst, (t0 + 60 * i, t0 + 60 * i))
        stream = (
            spark.readStream.schema("id long, seq int, op string, val double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = snapshots.start_snapshot_stream(
            stream, st, f"{tmp}/ckpt_{uuid.uuid4().hex[:8]}"
        )
        q.awaitTermination(240)
        legs = [
            snapshots.read_as_of(spark, st, s).select(
                F.lit(s).cast("int").alias("as_of"), "id", "val"
            )
            for s in (1, 2, 3)
        ]
        out = legs[0].unionByName(legs[1]).unionByName(legs[2])
        return out.localCheckpoint(eager=True)


_SNAP_LOOKUP_KEYS = [7, 12, 18, 21, 24, 36, 45, 72, 108, 144]


@register(
    "snapshot_store_lookup",
    f"""
    WITH s2 AS ({_SNAP_STATE_SQL[2]}), s3 AS ({_SNAP_STATE_SQL[3]})
    SELECT CAST(2 AS INT) AS as_of, id, val FROM s2
    WHERE id IN ({', '.join(map(str, _SNAP_LOOKUP_KEYS))})
    UNION ALL
    SELECT CAST(3 AS INT), id, val FROM s3
    WHERE id IN ({', '.join(map(str, _SNAP_LOOKUP_KEYS))})
    """,
)
def snapshot_store_lookup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point time-travel lookups (snapshots.snapshot_lookup): resolve a
    fixed key batch at snapshots 2 and 3 touching ONLY the bucket
    sub-partitions the keys hash into (static pruning on the bucket
    directory column of base and log alike — the Delta/Iceberg
    point-read shape).  The key set spans every interesting class:
    updated, tombstoned-then-gone, tombstoned-then-resurrected, plain,
    and never-present.  Byte-identical to filtering a full read_as_of
    (pinned by test); oracle = the state rules filtered to the keys."""
    import tempfile

    from .streaming import snapshots

    with tempfile.TemporaryDirectory() as tmp:
        st = f"{tmp}/store"
        b1, b2, b3 = _snapshot_batches(spark, sf_dir)
        for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
            snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
        legs = [
            snapshots.snapshot_lookup(
                spark, st, _SNAP_LOOKUP_KEYS, s
            ).select(F.lit(s).cast("int").alias("as_of"), "id", "val")
            for s in (2, 3)
        ]
        out = legs[0].unionByName(legs[1])
        return out.localCheckpoint(eager=True)


@register(
    "snapshot_store_fsck",
    f"""
    WITH s1 AS ({_SNAP_STATE_SQL[1]}), s2 AS ({_SNAP_STATE_SQL[2]}),
         s3 AS ({_SNAP_STATE_SQL[3]})
    SELECT CAST(1 AS INT) AS snap,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0) AS n_rows_manifest,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 3 = 0) AS n_rows_log,
           (SELECT COUNT(*) FROM s1) AS n_state
    UNION ALL
    SELECT CAST(2 AS INT),
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 6 = 0)
             + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 9 = 0),
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 6 = 0)
             + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 9 = 0),
           (SELECT COUNT(*) FROM s2)
    UNION ALL
    SELECT CAST(3 AS INT),
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 12 = 0),
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 12 = 0),
           (SELECT COUNT(*) FROM s3)
    """,
)
def snapshot_store_fsck_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-store integrity audit (snapshots.snapshot_fsck): per
    committed snapshot, the manifest's recorded row count, the log
    partition's ACTUAL on-disk count, and the live-state count through
    `read_as_of` — the engine derives all three from the store, the
    oracle from the batch/state rules, so a truncated log partition, a
    lying manifest, or a merge regression flips the hash.  Completes
    the fsck trio (ann_index_fsck, dedup_index_fsck)."""
    import tempfile

    from .streaming import snapshots

    with tempfile.TemporaryDirectory() as tmp:
        st = f"{tmp}/store"
        b1, b2, b3 = _snapshot_batches(spark, sf_dir)
        for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
            snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
        out = snapshots.snapshot_fsck(spark, st)
        return out.localCheckpoint(eager=True)


@register(
    "snapshot_store_auto_maintain",
    f"SELECT id, val FROM ({_SNAP_STATE_SQL[3]})",
)
def snapshot_store_auto_maintain_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scheduled store maintenance (snapshots.snapshot_maintain): fold
    all but the newest commit and DERIVE the retention watermark from
    the surviving tail's min seq (here 3 — batch 3 is the tail), so no
    operator ever hand-picks a horizon or watermark.  In-query hard
    gates: the fold landed (horizon = 2), zero tombstones survive in
    the base, and a late seq-1 redelivery is rejected; output = the
    untouched final state."""
    import tempfile

    from .streaming import snapshots

    with tempfile.TemporaryDirectory() as tmp:
        st = f"{tmp}/store"
        b1, b2, b3 = _snapshot_batches(spark, sf_dir)
        for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
            snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
        rec = snapshots.snapshot_maintain(
            spark, st, keep_snapshots=1
        ).collect()[0]
        if rec["horizon"] != 2 or rec["base_gen"] != 1:
            raise AssertionError(f"auto-maintain receipt wrong: {rec}")
        n_tomb = (
            spark.read.parquet(f"{st}/base_g1")
            .filter(F.col("op") == "D")
            .count()
        )
        if n_tomb:
            raise AssertionError(
                f"auto-maintain left {n_tomb} tombstones under the derived "
                f"watermark"
            )
        try:
            snapshots.snapshot_commit(b1, st, "id", "seq", batch_id="late")
            raise AssertionError("late redelivery accepted after maintain")
        except ValueError:
            pass
        out = snapshots.read_as_of(spark, st, 3).select("id", "val")
        return out.localCheckpoint(eager=True)


@register(
    "snapshot_store_retention",
    f"""
    WITH s3 AS ({_SNAP_STATE_SQL[3]})
    SELECT id, val,
           (SELECT COUNT(*) FROM orders
             WHERE o_orderkey % 9 = 0 AND o_orderkey % 12 != 0
               AND 2 >= 3) AS n_base_tombstones
    FROM s3
    """,
)
def snapshot_store_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redelivery-horizon retention (snapshots.compact_snapshots with
    drop_tombstones_below_seq — round-12 verdict task 4): fold the full
    history with a seq-3 watermark, dropping the seq-2 tombstones from
    the base, then HARD-GATE in-query that (a) zero tombstone rows
    survive in the base, and (b) a late redelivery of the seq-1 batch
    is REJECTED at commit (the pair is what makes the drop safe — the
    tombstoned keys stay gone with their tombstones GC'd).  Output is
    the final state plus the derived base-tombstone count; the oracle
    derives the same count from the key arithmetic (deletes at seq 2,
    watermark 3 → none survive).  tests/test_snapshots.py pins the
    rejection and the unsafe-watermark refusal."""
    import tempfile

    from .streaming import snapshots

    with tempfile.TemporaryDirectory() as tmp:
        st = f"{tmp}/store"
        b1, b2, b3 = _snapshot_batches(spark, sf_dir)
        for b, bid in ((b1, "b1"), (b2, "b2"), (b3, "b3")):
            snapshots.snapshot_commit(b, st, "id", "seq", batch_id=bid)
        snapshots.compact_snapshots(
            spark, st, 3, drop_tombstones_below_seq=3
        ).collect()
        n_tomb = (
            spark.read.parquet(f"{st}/base_g1")
            .filter(F.col("op") == "D")
            .count()
        )
        if n_tomb:
            raise AssertionError(
                f"retention compact left {n_tomb} tombstones below the "
                f"watermark in the base"
            )
        try:
            snapshots.snapshot_commit(b1, st, "id", "seq", batch_id="late")
            raise AssertionError(
                "late redelivery below the retention watermark was accepted"
            )
        except ValueError:
            pass
        out = snapshots.read_as_of(spark, st, 3).select(
            "id", "val", F.lit(n_tomb).cast("long").alias("n_base_tombstones")
        )
        return out.localCheckpoint(eager=True)


@register(
    "versioned_dedup_ingest",
    f"""
    WITH {_DEDUPIDX_BANDED_SQL},
    {_dedupidx_epoch_sql(1, "i.doc_id % 4 = 0")},
    {_dedupidx_epoch_sql(
        2,
        "i.doc_id % 4 = 0 OR i.doc_id IN (SELECT doc_id FROM ing1)",
    )},
    {_dedupidx_epoch_sql(
        3,
        "i.doc_id % 4 = 0 OR i.doc_id IN (SELECT doc_id FROM ing1) "
        "OR i.doc_id IN (SELECT doc_id FROM ing2)",
    )}
    SELECT CAST(1 AS INT) AS as_of, d.doc_id, d.n_chars
    FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM ing1)
    UNION ALL
    SELECT CAST(2 AS INT), d.doc_id, d.n_chars
    FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM ing1)
       OR d.doc_id IN (SELECT doc_id FROM ing2)
    UNION ALL
    SELECT CAST(3 AS INT), d.doc_id, d.n_chars
    FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM ing1)
       OR d.doc_id IN (SELECT doc_id FROM ing2)
       OR d.doc_id IN (SELECT doc_id FROM ing3)
    """,
)
def versioned_dedup_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed capstone: the two round-11 stores cooperating — each
    document batch is near-dup-checked against the PERSISTENT dedup
    index (probe against pre-batch state), the survivors are appended
    to the index AND committed to the VERSIONED snapshot store as that
    epoch's snapshot, and time travel then reproduces the exact
    dedup-surviving corpus at every epoch ("train run N read snapshot
    N" — the reproducibility contract).  The oracle threads the live
    set through the three unrolled epochs and derives each snapshot
    state independently, so a missed duplicate, a lost append, or a
    wrong snapshot boundary flips the hash."""
    import tempfile

    from pyspark.sql import Window

    from .operators import dedup_index
    from .streaming import snapshots

    docs = load(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory() as tmp:
        idx = f"{tmp}/dix"
        st = f"{tmp}/store"
        dedup_index.dedup_index_build(docs.filter("doc_id % 4 = 0"), idx).collect()
        for e in (1, 2, 3):
            batch = docs.filter(f"doc_id % 4 = {e}")
            hits = dedup_index.dedup_index_probe(
                spark, batch.select("doc_id", "text"), idx,
                min_agree=_DEDUPIDX_MIN_AGREE,
            )
            w = Window.partitionBy("probe_id").orderBy(
                F.desc("n_agree"), F.asc("index_id")
            )
            dup_ids = (
                hits.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") == 1)
                .select(F.col("probe_id").alias("doc_id"))
            )
            survivors = batch.join(dup_ids, "doc_id", "left_anti")
            dedup_index.dedup_index_append(
                spark, survivors.select("doc_id", "text"), idx
            )
            snapshots.snapshot_commit(
                survivors.select(
                    "doc_id",
                    F.lit(e).alias("seq"),
                    F.lit("U").alias("op"),
                    "n_chars",
                ),
                st,
                "doc_id",
                "seq",
                batch_id=f"epoch-{e}",
            )
        legs = [
            snapshots.read_as_of(spark, st, s, key="doc_id").select(
                F.lit(s).cast("int").alias("as_of"), "doc_id", "n_chars"
            )
            for s in (1, 2, 3)
        ]
        out = legs[0].unionByName(legs[1]).unionByName(legs[2])
        return out.localCheckpoint(eager=True)


__all__ = ["queries", "oracle_sql", "register"]


def queries() -> dict[str, SparkQuery]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
