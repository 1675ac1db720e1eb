"""Relational query surface: the reference's analytics layer re-expressed as
DataFrame plans over the driver's TPC-H-ish testdata, each paired with an
ANSI-SQL oracle that DuckDB runs on the same parquet.

Coverage map (SURVEY.md §2 row -> query key):
  T1/T2 top-k                    -> top_k_orders
  A3 pct-of-total group-by       -> pct_of_total_by_priority
  A4 regex-key group-by + HAVING -> group_having_regex_key
  A6/X7 JSON-map aggregation     -> json_props_agg
  A7 capped count estimate       -> capped_count
  J1/J4 star joins               -> star_join_revenue
  J3/D7 anti join                -> anti_join_no_orders
  (semi)                         -> semi_join_active_parts
  J7 self join                   -> self_join_same_region
  D2 dedup-with-priority-pick    -> dedup_priority_pick
  D3/D4 exact dedup              -> dedup_exact_docs
  F8 BETWEEN / F9 IN / F11 null  -> between_in_filters
  X1/X5 regex + CASE buckets     -> case_bucket_classify
  §2.7 set ops                   -> union_distinct_hosts
  T6-adjacent window analytics   -> window_running_total
  C1-adjacent time bucketing     -> tumbling_window_events

Training-pipeline operators (first-class per the build brief):
  exact dedup (hash groupBy)     -> dedup_exact_docs
  doc fingerprinting             -> doc_fingerprint
  token counting                 -> doc_token_count
  quality scoring                -> doc_quality_score
  language id (n-gram heuristic) -> doc_lang_id
  minhash signatures             -> minhash_signatures
  minhash-LSH candidate pairs    -> minhash_lsh_pairs
  n-gram jaccard near-dup        -> ngram_jaccard_pairs
  simhash                        -> simhash_docs
  ANN brute-force cosine top-k   -> embedding_cosine_topk
  embedding near-dup pairs       -> embedding_neardup_pairs
  near-dup clustering (CC)       -> embedding_neardup_components
  sessionization (gap windows)   -> events_sessionize
  train/valid/test split         -> doc_train_split (textops)
  TF-IDF top terms per source    -> tfidf_top_terms (textops)
  phash similarity top-k (image) -> image_phash_topk (imageops)

Float discipline: every double output is rounded in BOTH engines so the
driver's value-hash comparison is stable; counts/keys stay exact integers.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fanout(df: DataFrame) -> DataFrame:
    """Rebalance a parallelism-deficient scan before heavy per-row compute.

    The fixture parquet files are single-row-group, so every scan is ONE
    partition and anything upstream of the first exchange (Python kernels,
    shingle explodes, HOF folds) runs serially (guide §6: row groups are
    the minimum split unit — maxPartitionBytes cannot split them). A
    keyless round-robin repartition of the scan output restores
    parallelism; it is deterministic under task retry (sort-before-
    repartition, SPARK-23207, on by default). Scale-adaptive by
    construction: a production table scan already has >= defaultParallelism
    partitions, making this a no-op — only deficient scans pay the (tiny)
    exchange."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


@dataclass(frozen=True)
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None -> rows-only check (non-SQL-expressible)
    note: str = ""


QUERIES: dict[str, QuerySpec] = {}


def q(name: str, oracle: str | None, note: str = ""):
    def deco(fn):
        QUERIES[name] = QuerySpec(fn, oracle, note)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Reference-derived relational operators
# ---------------------------------------------------------------------------


@q(
    "top_k_orders",
    """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
    """,
    "T1: ORDER BY prob DESC LIMIT k (production_classification_queries:16-17)",
)
def top_k_orders(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


@q(
    "pct_of_total_by_priority",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n,
           ROUND(AVG(o_totalprice), 4) AS avg_price,
           ROUND(COUNT(*) * 100.0 / (SELECT COUNT(*) FROM orders), 4) AS pct
    FROM orders GROUP BY o_orderpriority
    """,
    "A3: GROUP BY + pct-of-total scalar subquery (classification sql:19-28)",
)
def pct_of_total_by_priority(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
        .withColumn(
            "pct", F.round(F.col("n") * 100.0 / F.sum("n").over(Window.partitionBy()), 4)
        )
    )


@q(
    "group_having_regex_key",
    """
    SELECT regexp_replace(source, '[0-9]+$', '') AS src_family,
           COUNT(*) AS n,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           MAX(n_chars) AS max_chars,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
    FROM documents
    GROUP BY regexp_replace(source, '[0-9]+$', '')
    HAVING COUNT(*) >= 2
    """,
    "A4+X1+X5: regex-derived group key + HAVING + SUM(CASE) (classification sql:30-42)",
)
def group_having_regex_key(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.regexp_replace("source", "[0-9]+$", "").alias("src_family"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_en"),
        )
        .filter(F.col("n") >= 2)
    )


@q(
    "star_join_revenue",
    """
    SELECT r_name, n_name,
           COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    "J1/J4: fact-to-dimension star joins (README.md:161-166; 2_mega FK star)",
)
def star_join_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    region = F.broadcast(load(spark, sf_dir, "region"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


@q(
    "anti_join_no_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 450000)
    """,
    "J3/D7: NOT EXISTS anti-join (resend_script_ids.py:62-72); right side filtered so the set is non-trivial at every sf",
)
def anti_join_no_orders(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# Demoted from the driver-oracle window in round 5 (rotation policy, see
# __spark_entry__.py): its slot now carries image_phash_neardup_pairs. The
# SQL stays here as the pytest replica (tests/test_queries_oracle.py).
_SEMI_JOIN_ORACLE_SQL = """
    SELECT p_partkey, p_brand FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey
                  AND l.l_quantity > 40)
    """


@q(
    "semi_join_active_parts",
    None,  # pytest-oracled via _SEMI_JOIN_ORACLE_SQL (rotation, round 5)
    "semi-join complement of D7 (cache-hit path, backend tasks.py:151-156)",
)
def semi_join_active_parts(spark, sf_dir):
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 40)
    return part.join(li, part.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_brand"
    )


@q(
    "self_join_same_region",
    """
    SELECT a.n_name AS nation_a, b.n_name AS nation_b, a.n_regionkey AS regionkey
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
    "J7: hash-keyed self-join (eval_parent_hash, 2_mega:55)",
)
def self_join_same_region(spark, sf_dir):
    n = load(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(
        F.col("a.n_name").alias("nation_a"),
        F.col("b.n_name").alias("nation_b"),
        F.col("a.n_regionkey").alias("regionkey"),
    )


@q(
    "dedup_priority_pick",
    """
    SELECT o_custkey, o_orderkey AS picked_order, ROUND(o_totalprice, 2) AS totalprice
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders)
    WHERE rn = 1
    """,
    "D2: group-by-URL keep preferred candidate (eval_banks.py:36-70)",
)
def dedup_priority_pick(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("picked_order"),
            F.round("o_totalprice", 2).alias("totalprice"),
        )
    )


@q(
    "between_in_filters",
    """
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS totalprice
    FROM orders
    WHERE o_totalprice BETWEEN 1000 AND 5000
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_orderstatus IS NOT NULL
    """,
    "F8 BETWEEN + F9 IN-list + F11 null filter (classification sql:52-54; investigation sql:18)",
)
def between_in_filters(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .filter(
            F.col("o_totalprice").between(1000, 5000)
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & F.col("o_orderstatus").isNotNull()
        )
        .select(
            "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("totalprice")
        )
    )


# Demoted from the driver-oracle window in round 5 (rotation policy, see
# __spark_entry__.py): its slot now carries doc_gopher_repetition. The SQL
# stays here as the pytest replica (tests/test_queries_oracle.py).
_CASE_BUCKET_ORACLE_SQL = """
    SELECT CASE WHEN o_totalprice >= 4000 THEN 'high'
                WHEN o_totalprice >= 1500 THEN 'medium'
                ELSE 'low' END AS confidence_level,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """


@q(
    "case_bucket_classify",
    None,  # pytest-oracled via _CASE_BUCKET_ORACLE_SQL (rotation, round 5)
    "X6: 3-way bucket classify (production_classifier.py:264-268) + A9 summary",
)
def case_bucket_classify(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .withColumn(
            "confidence_level",
            F.when(F.col("o_totalprice") >= 4000, "high")
            .when(F.col("o_totalprice") >= 1500, "medium")
            .otherwise("low"),
        )
        .groupBy("confidence_level")
        .count()
        .withColumnRenamed("count", "n")
    )


# Demoted from the driver-oracle window in round 5 (rotation policy, see
# __spark_entry__.py): unchanged since round 1 and trivially replicable, its
# slot now carries embedding_lsh_multiprobe_topk. The SQL stays here as the
# pytest replica (tests/test_queries_oracle.py runs it verbatim).
_CAPPED_COUNT_ORACLE_SQL = (
    "SELECT COUNT(*) AS n FROM (SELECT * FROM lineitem LIMIT 1000) sub"
)


@q(
    "capped_count",
    None,  # pytest-oracled via _CAPPED_COUNT_ORACLE_SQL (rotation, round 5)
    "A7: existence-capped count (resend_script_ids.py:168-184)",
)
def capped_count(spark, sf_dir):
    # deliberate driver-side action: A7's semantics ARE "stop scanning after
    # the cap" — limit(1000).count() plans a LocalLimit that short-circuits
    # the scan, and the 1-row result is re-lifted only so the driver gate
    # gets a DataFrame. Not a hot-path pattern; do not imitate for large
    # results (see PLANS.md on collect discipline).
    n = load(spark, sf_dir, "lineitem").limit(1000).count()
    return spark.createDataFrame([(n,)], "n long")


@q(
    "json_props_agg",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
    FROM events GROUP BY event_type
    """,
    "A6/X7: JSON-field parse + aggregate (production_classifier.py:104-123,154-211)",
)
def json_props_agg(spark, sf_dir):
    # fanout (round 6): one JSON parse per row ran in ONE task on the
    # single-row-group events scan (2.4 s at sf1.0; the aggregate itself
    # is trivial)
    ev = fanout(load(spark, sf_dir, "events")).withColumn(
        "k", F.get_json_object("props", "$.k").cast("long")
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
    )


@q(
    "window_running_total",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC), 2) AS running_total
    FROM orders
    """,
    "running per-entity counters (url_sender.py:242-257 campaign totals analog)",
)
def window_running_total(spark, sf_dir):
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@q(
    "tumbling_window_events",
    """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    "C1: wave/time bucketing (url_sender.py:47-49) as tumbling windows",
)
def tumbling_window_events(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").cast("long").alias("hour_epoch"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


@q(
    "price_percentiles",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders GROUP BY o_orderpriority
    """,
    "exact grouped percentiles (the latency/size distribution report every crawl "
    "dashboard needs — decode_ms p99 analog): Spark's exact `percentile` aggregate vs "
    "DuckDB quantile_cont, both linear-interpolation so the values match bit-for-bit "
    "after rounding. At 100 TB swap to percentile_approx (t-digest) and drop the oracle "
    "to a tolerance check — exact grouped percentiles need the full sort per group.",
)
def price_percentiles(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
            F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
        )
    )


@q(
    "price_percentiles_approx",
    None,  # sketch values differ across engines; tolerance-tested vs the
    # exact DuckDB quantiles in tests/test_queries_oracle.py
    "the 100 TB form price_percentiles' docstring promised: percentile_approx "
    "(Greenwald-Khanna sketch, accuracy 10000 -> rank error <= n/10000) instead of the "
    "exact percentile aggregate, so each group needs a mergeable fixed-size sketch "
    "rather than a full per-group sort. Rows-only for the oracle gate; pytest asserts "
    "every group's p50/p90/p99 within 2% of the exact DuckDB quantile.",
)
def price_percentiles_approx(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)).alias("p50"),
            F.percentile_approx("o_totalprice", F.lit(0.9), F.lit(10000)).alias("p90"),
            F.percentile_approx("o_totalprice", F.lit(0.99), F.lit(10000)).alias("p99"),
        )
    )


@q(
    "events_sessionize",
    """
    WITH o AS (
      SELECT user_id, event_id, ts, value,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tsec,
             CASE WHEN lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                     - lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                  THEN 1 ELSE 0 END AS is_start
      FROM events),
    s AS (SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS sess FROM o)
    SELECT user_id, CAST(sess AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(tsec) AS start_epoch, MAX(tsec) AS end_epoch,
           ROUND(SUM(value), 4) AS sum_value
    FROM s GROUP BY user_id, sess
    """,
    "gap-based sessionization (30-min inactivity closes a session) — the classic "
    "large-scale event-pipeline operator: lag + windowed running count assigns session "
    "ids, then one groupBy rolls sessions up. One shuffle on user_id serves both the "
    "window and the aggregate (same partitioning reused). Gap math on "
    "second-truncated epochs so both engines floor identically.",
)
def events_sessionize(spark, sf_dir):
    # ts is TIMESTAMP_NTZ (not directly castable to long in Spark 4);
    # date_trunc('second') -> cast matches DuckDB's epoch(date_trunc(...))
    ev = load(spark, sf_dir, "events").withColumn(
        "tsec", F.date_trunc("second", "ts").cast("long")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    prev = F.lag("tsec").over(w)
    is_start = F.when(prev.isNull() | ((F.col("tsec") - prev) > 1800), 1).otherwise(0)
    sess = F.sum(is_start).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("sess", sess)
        .groupBy("user_id", F.col("sess").cast("long").alias("session_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("tsec").alias("start_epoch"),
            F.max("tsec").alias("end_epoch"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@q(
    "sql_api_status_revenue",
    """
    SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
    "the spark.sql() text surface (README.md:161-166 shows the reference's users write raw SQL): temp view + SQL string, same Catalyst plan as the DataFrame form",
)
def sql_api_status_revenue(spark, sf_dir):
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        "SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS revenue "
        "FROM orders_v GROUP BY o_orderstatus"
    )


@q(
    "posexplode_tokens",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id, u.i AS pos, toks[u.i] AS tok
    FROM t, unnest(generate_series(1, least(len(toks), 3))) AS u(i)
    """,
    "J6/X12/X14 + UDTF analog: positional zip of a list column (scripts/crawl.py:217-243 url/actions pairing) via posexplode; 1-based pos matches the reference's 1-based ids",
)
def posexplode_tokens(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    return d.select(
        "doc_id", F.posexplode(F.slice("toks", 1, 3)).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")


@q(
    "approx_distinct_sources",
    None,  # HLL sketches differ across engines; bounded-error-checked in tests/test_queries_oracle.py
    "approximate distinct cardinality (frontier-metrics tool at 10^10 scale where exact COUNT(DISTINCT) is a full shuffle); rows-only for the oracle gate, error-bound-tested in pytest",
)
def approx_distinct_sources(spark, sf_dir):
    return (
        load(spark, sf_dir, "documents")
        .agg(
            F.approx_count_distinct("source", 0.02).alias("approx_sources"),
            F.approx_count_distinct("doc_id", 0.02).alias("approx_docs"),
        )
    )


# Demoted from the driver-oracle window in round 5 (rotation policy, see
# __spark_entry__.py): its slot now carries benchmark_contamination. The SQL
# stays here as the pytest replica (tests/test_queries_oracle.py).
_UNION_DISTINCT_HOSTS_ORACLE_SQL = """
    SELECT source AS src, 'docs' AS via FROM documents WHERE n_chars > 400
    UNION
    SELECT source AS src, 'docs' AS via FROM documents WHERE lang = 'zh'
    """


@q(
    "union_distinct_hosts",
    None,  # pytest-oracled via _UNION_DISTINCT_HOSTS_ORACLE_SQL (rotation, round 5)
    "§2.7: retried ∪ fresh per wave (url_sender.py:242-253) as UNION DISTINCT",
)
def union_distinct_hosts(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    a = docs.filter(F.col("n_chars") > 400).select(
        F.col("source").alias("src"), F.lit("docs").alias("via")
    )
    b = docs.filter(F.col("lang") == "zh").select(
        F.col("source").alias("src"), F.lit("docs").alias("via")
    )
    return a.union(b).distinct()


# ---------------------------------------------------------------------------
# As-of join + range join (round 5): the two inequality-join shapes Spark
# has no native operator for, each re-expressed as a shuffle-minimal plan
# ---------------------------------------------------------------------------

# Tie rules, spelled out because both engines must agree exactly:
# - as-of match is INCLUSIVE (ref.ts <= probe.ts); at equal ts the ref
#   sorts before the probe (is_probe ascending), among equal-ts refs the
#   highest event_id wins (sort key (ts, is_probe, event_id), last value).
# - gap is exact integer microseconds (epoch_us difference) — no float.
_ASOF_ORACLE_SQL = """
    WITH tagged AS (
      SELECT user_id, ts, event_id, 0 AS is_probe FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, event_id, 1 FROM events WHERE event_type = 'purchase'),
    w AS (
      SELECT user_id, ts, event_id, is_probe,
             LAST_VALUE(CASE WHEN is_probe = 0 THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, is_probe, event_id
                     ROWS UNBOUNDED PRECEDING) AS click_id,
             LAST_VALUE(CASE WHEN is_probe = 0 THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, is_probe, event_id
                     ROWS UNBOUNDED PRECEDING) AS click_ts
      FROM tagged)
    SELECT event_id, user_id, click_id,
           CASE WHEN click_ts IS NOT NULL
                THEN epoch_us(ts) - epoch_us(click_ts) END AS gap_micros
    FROM w WHERE is_probe = 1 ORDER BY event_id
"""


@q(
    "events_asof_join",
    None,  # pytest-oracled via _ASOF_ORACLE_SQL (rotation policy: driver
           # window entry next round)
    "AS-OF JOIN — each purchase matched to the latest click at-or-before "
    "it for the same user (the trade⋈quote shape Spark lacks natively). "
    "NOT a join at all in this plan: both sides union into one tagged "
    "relation, ONE shuffle on user_id, one sort by (ts, tag, id), and "
    "last_value(ignorenulls) over an unbounded-preceding frame carries "
    "the most recent ref forward — vs the naive inequality join, which "
    "Spark executes as a per-user cross product. At 100 TB the shuffle "
    "is the same one any per-user op pays; skewed users bound the sort, "
    "not a quadratic blowup. Gap emitted as exact integer microseconds.",
)
def events_asof_join(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    refs = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit(0).alias("is_probe")
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("is_probe")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ref_id = F.when(F.col("is_probe") == 0, F.col("event_id"))
    ref_ts = F.when(F.col("is_probe") == 0, F.col("ts"))
    return (
        refs.unionByName(probes)
        .withColumn("click_id", F.last(ref_id, ignorenulls=True).over(w))
        .withColumn("click_ts", F.last(ref_ts, ignorenulls=True).over(w))
        .filter(F.col("is_probe") == 1)
        .select(
            "event_id",
            "user_id",
            "click_id",
            # ts is TIMESTAMP_NTZ: timestampdiff is the timezone-free exact
            # integer difference (unix_micros would force a tz interpretation)
            F.expr("timestampdiff(MICROSECOND, click_ts, ts)").alias("gap_micros"),
        )
        .orderBy("event_id")
    )


_RANGE_WINDOW_S = 60

# Window semantics: [probe.ts - 60s, probe.ts) — inclusive lower bound,
# strict upper (the probe itself and same-instant events are excluded).
# value aggregates as floor(value * 1e6) per ELEMENT before summing:
# integer addition is order-independent, where a double sum would differ
# in the last ulp between engines' partial-combine orders.
_RANGE_JOIN_ORACLE_SQL = f"""
    SELECT p.event_id, p.user_id,
           COUNT(e.event_id) AS n_prior,
           COALESCE(SUM(CAST(floor(e.value * 1e6) AS BIGINT)), 0) AS sum_value_micro
    FROM events p
    LEFT JOIN events e
      ON e.user_id = p.user_id
     AND e.ts >= p.ts - INTERVAL {_RANGE_WINDOW_S} SECOND
     AND e.ts < p.ts
    WHERE p.event_type = 'error'
    GROUP BY p.event_id, p.user_id
    ORDER BY p.event_id
"""


@q(
    "events_range_join",
    None,  # pytest-oracled via _RANGE_JOIN_ORACLE_SQL (rotation policy)
    "RANGE JOIN — per error event, count+sum all same-user events in the "
    "preceding 60 s, via the BINNED band join (the strategy every engine "
    "that lacks a native range join uses at scale): both sides key on "
    "(user_id, floor(ts/60s)), probes explode into their bin and bin-1 "
    "(2 rows each, probe side only), equi-join then exact window filter. "
    "The oracle's inequality join is what Spark would naively run as a "
    "per-user cross product; the binned plan is a plain hash equi-join "
    "whose key cardinality grows with time span — skew-safe at 100 TB "
    "because a user's events spread across bins. Sum is per-element "
    "floor-micro integer so engine sum order cannot move the output.",
)
def events_range_join(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    bin_us = _RANGE_WINDOW_S * 1_000_000
    # NTZ-safe absolute offset: micros since a fixed NTZ epoch (only ever
    # used in differences/bins, so the epoch choice cancels)
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)")
    probes = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id"),
            us.alias("p_us"),
            F.floor(us / bin_us).alias("bin0"),
        )
        .withColumn("bin", F.explode(F.array(F.col("bin0") - 1, F.col("bin0"))))
        .drop("bin0")
    )
    cands = ev.select(
        "user_id",
        us.alias("e_us"),
        F.floor(us / bin_us).alias("bin"),
        F.floor(F.col("value") * F.lit(1e6)).cast("long").alias("v_micro"),
    )
    agg = (
        probes.join(cands, ["user_id", "bin"])
        .filter(
            (F.col("e_us") >= F.col("p_us") - bin_us) & (F.col("e_us") < F.col("p_us"))
        )
        .groupBy(F.col("p_id").alias("event_id"), "user_id")
        .agg(
            F.count("*").alias("n_prior"),
            F.sum("v_micro").alias("sum_value_micro"),
        )
    )
    # LEFT-join semantics: probes whose bins held no candidate still appear
    # with zero counts (the oracle's LEFT JOIN row)
    all_probes = ev.filter(F.col("event_type") == "error").select("event_id", "user_id")
    return (
        all_probes.join(agg, ["event_id", "user_id"], "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("n_prior"), F.lit(0)).cast("long").alias("n_prior"),
            F.coalesce(F.col("sum_value_micro"), F.lit(0))
            .cast("long")
            .alias("sum_value_micro"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Rollup + pivot (round 5): hierarchical and wide aggregation shapes
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE_SQL = """
    SELECT COALESCE(r_name, '<ALL>') AS region,
           COALESCE(n_name, '<ALL>') AS nation,
           CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INT) AS lvl,
           COUNT(*) AS n_cust,
           ROUND(SUM(c_acctbal), 2) AS sum_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY lvl, region, nation
"""


@q(
    "customer_rollup",
    None,  # pytest-oracled via _ROLLUP_ORACLE_SQL (rotation policy)
    "ROLLUP — hierarchical aggregation (nation ⊂ region ⊂ grand total) in "
    "ONE pass: Spark's rollup() compiles to a single Expand + hash "
    "aggregate, i.e. each input row fans into its 3 grouping sets before "
    "the shuffle and partial aggregation still applies — the hypertable-"
    "rollup shape, vs 3 separate scans+aggs. GROUPING() bits disambiguate "
    "a real NULL key from a rollup subtotal; dimensions broadcast.",
)
def customer_rollup(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    nation = F.broadcast(load(spark, sf_dir, "nation"))
    region = F.broadcast(load(spark, sf_dir, "region"))
    joined = cust.join(
        nation, cust.c_nationkey == nation.n_nationkey
    ).join(region, nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name") * 2 + F.grouping("n_name"))
            .cast("int")
            .alias("lvl"),
            F.count("*").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("<ALL>")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("<ALL>")).alias("nation"),
            "lvl",
            "n_cust",
            "sum_bal",
        )
        .orderBy("lvl", "region", "nation")
    )


_PIVOT_LANGS = ("en", "de", "zh", "fr", "es")

_PIVOT_ORACLE_SQL = f"""
    SELECT source,
           {", ".join(
               f"CAST(COALESCE(SUM(CASE WHEN lang = '{l}' THEN 1 END), 0) AS BIGINT) AS n_{l}"
               for l in _PIVOT_LANGS)},
           CAST(SUM(CASE WHEN lang IN {_PIVOT_LANGS} THEN 0 ELSE 1 END) AS BIGINT) AS n_other
    FROM documents
    GROUP BY source
    ORDER BY source
"""


@q(
    "docs_lang_pivot",
    None,  # pytest-oracled via _PIVOT_ORACLE_SQL (rotation policy)
    "PIVOT — long-to-wide: per-source language histogram as columns. "
    "Spark's pivot() with an EXPLICIT value list compiles to one "
    "hash aggregate with k conditional counts (no second job to discover "
    "values, no second shuffle) — at 100 TB the value list must always "
    "be declared for exactly this reason. Unlisted (and NULL) languages "
    "pre-map into an 'other' bucket IN the pivot column, so the "
    "completeness column rides the SAME single scan+aggregate instead of "
    "a second scan + join (and NULL keys can never fall through a "
    "non-null-safe join). Oracle is the portable SUM(CASE) spelling.",
)
def docs_lang_pivot(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.when(F.col("lang").isin(*_PIVOT_LANGS), F.col("lang")).otherwise("other")
    )
    agged = (
        docs.withColumn("bucket", bucket)
        .groupBy("source")
        .pivot("bucket", [*_PIVOT_LANGS, "other"])
        .agg(F.count(F.lit(1)))  # count("*") is rejected inside Pivot
    )
    return agged.select(
        "source",
        *[
            F.coalesce(F.col(lang), F.lit(0)).cast("long").alias(f"n_{lang}")
            for lang in _PIVOT_LANGS
        ],
        F.coalesce(F.col("other"), F.lit(0)).cast("long").alias("n_other"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Funnel + cohort (round 5, late additions): the two sequential-behavior
# shapes every events warehouse runs, each kept to ONE shuffle on its
# entity key
# ---------------------------------------------------------------------------

# Stage semantics (both engines must agree exactly): t1 = MIN ts of a
# 'view'; t2 = MIN 'click' ts STRICTLY after t1; t3 = MIN 'purchase' ts
# strictly after t2. pct is basis points vs stage 1, floor-truncated
# (PLANS.md §11 float rule).
_FUNNEL_ORACLE_SQL = """
    WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
    n AS (SELECT (SELECT COUNT(*) FROM s1) AS n1,
                 (SELECT COUNT(*) FROM s2) AS n2,
                 (SELECT COUNT(*) FROM s3) AS n3)
    SELECT stage, n_users,
           CAST(floor(n_users * 10000.0 / NULLIF(n1, 0)) AS BIGINT) AS pct_of_first_bp
    FROM (SELECT '1_view' AS stage, n1 AS n_users, n1 FROM n
          UNION ALL SELECT '2_click', n2, n1 FROM n
          UNION ALL SELECT '3_purchase', n3, n1 FROM n)
    ORDER BY stage
"""


@q(
    "events_funnel",
    None,  # pytest-oracled via _FUNNEL_ORACLE_SQL (rotation policy: newborn)
    "ORDERED FUNNEL (view -> click -> purchase): the sequential-pattern "
    "shape whose naive SQL is k-1 correlated self-joins — each a shuffle "
    "and a skew hazard. This plan pays ONE shuffle (groupBy user_id, "
    "collect_list) and folds each user's time-sorted events through a "
    "3-slot struct accumulator with F.aggregate — a pure Catalyst "
    "expression, codegen'd JVM-side, no UDF. Per-user state is 3 longs; "
    "the array is bounded by per-user event count (the same bound "
    "sessionization already accepts). At 100 TB, k more stages cost zero "
    "extra shuffles — the correlated-join spelling costs k more.",
)
def events_funnel(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    stage = (
        F.when(F.col("event_type") == "view", 0)
        .when(F.col("event_type") == "click", 1)
        .otherwise(2)
    )
    # ts is TIMESTAMP_NTZ: timestampdiff vs a fixed NTZ epoch is the
    # timezone-free exact integer microsecond (PLANS.md §12 note)
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)")
    per_user = (
        ev.filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", us.alias("us"), stage.alias("s"))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list(F.struct("us", "s"))).alias("evs"))
    )
    init = F.struct(
        F.lit(None).cast("long").alias("t1"),
        F.lit(None).cast("long").alias("t2"),
        F.lit(None).cast("long").alias("t3"),
    )

    def step(acc, x):
        # array is (ts, stage)-sorted, so the first qualifying hit IS the
        # min; strict > matches the oracle's e.ts > t_prev
        return F.struct(
            F.when(acc["t1"].isNull() & (x["s"] == 0), x["us"])
            .otherwise(acc["t1"])
            .alias("t1"),
            F.when(
                acc["t2"].isNull()
                & acc["t1"].isNotNull()
                & (x["s"] == 1)
                & (x["us"] > acc["t1"]),
                x["us"],
            )
            .otherwise(acc["t2"])
            .alias("t2"),
            F.when(
                acc["t3"].isNull()
                & acc["t2"].isNotNull()
                & (x["s"] == 2)
                & (x["us"] > acc["t2"]),
                x["us"],
            )
            .otherwise(acc["t3"])
            .alias("t3"),
        )

    counts = (
        per_user.select(F.aggregate("evs", init, step).alias("r"))
        .agg(
            F.sum(F.col("r.t1").isNotNull().cast("long")).alias("n1"),
            F.sum(F.col("r.t2").isNotNull().cast("long")).alias("n2"),
            F.sum(F.col("r.t3").isNotNull().cast("long")).alias("n3"),
        )
    )
    stages = F.array(
        F.struct(F.lit("1_view").alias("stage"), F.col("n1").alias("n_users")),
        F.struct(F.lit("2_click").alias("stage"), F.col("n2").alias("n_users")),
        F.struct(F.lit("3_purchase").alias("stage"), F.col("n3").alias("n_users")),
    )
    return (
        counts.select("n1", F.explode(stages).alias("x"))
        .select(
            F.col("x.stage").alias("stage"),
            F.col("x.n_users").alias("n_users"),
            F.floor(
                F.col("x.n_users") * 10000 / F.nullif(F.col("n1"), F.lit(0))
            )
            .cast("long")
            .alias("pct_of_first_bp"),
        )
        .orderBy("stage")
    )


# Month key: ym = year*12 + month - 1 (exact integer, timezone-free on
# TIMESTAMP_NTZ); cohort_ym renders back to yyyymm for readability.
_COHORT_ORACLE_SQL = """
    WITH m AS (SELECT o_custkey,
                      (CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) * 12
                       + CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) - 1) AS ym
               FROM orders),
    g AS (SELECT o_custkey, MIN(ym) AS cm FROM m GROUP BY o_custkey),
    a AS (SELECT DISTINCT o_custkey, ym FROM m)
    SELECT CAST((g.cm // 12) * 100 + (g.cm % 12) + 1 AS BIGINT) AS cohort_ym,
           CAST(a.ym - g.cm AS BIGINT) AS month_offset,
           COUNT(*) AS n_customers
    FROM a JOIN g ON a.o_custkey = g.o_custkey
    GROUP BY 1, 2
    ORDER BY cohort_ym, month_offset
"""


@q(
    "orders_retention_cohort",
    None,  # pytest-oracled via _COHORT_ORACLE_SQL (rotation policy: newborn)
    "RETENTION COHORT matrix (month of first order x months-since): the "
    "oracle's spelling is first-order agg JOIN distinct-activity — two "
    "scans and a customer-keyed join. This plan is ONE scan and ONE "
    "shuffle: groupBy customer collects (min month, distinct-month set) "
    "together, then explodes the set into (cohort, offset) cells for a "
    "second, cells-sized aggregate — count(*) IS count(distinct customer) "
    "because the set made rows unique per (customer, month). At 100 TB "
    "the customer shuffle is the only data-sized exchange; the cell agg "
    "is bounded by months^2, not rows.",
)
def orders_retention_cohort(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    ym = (
        F.year("o_orderdate").cast("long") * 12
        + F.month("o_orderdate").cast("long")
        - 1
    )
    per_cust = (
        o.select("o_custkey", ym.alias("ym"))
        .groupBy("o_custkey")
        .agg(F.min("ym").alias("cm"), F.collect_set("ym").alias("months"))
    )
    cells = per_cust.select("cm", F.explode("months").alias("am"))
    return (
        cells.groupBy(
            (F.floor(F.col("cm") / 12) * 100 + F.col("cm") % 12 + 1)
            .cast("long")
            .alias("cohort_ym"),
            (F.col("am") - F.col("cm")).cast("long").alias("month_offset"),
        )
        .agg(F.count("*").alias("n_customers"))
        .orderBy("cohort_ym", "month_offset")
    )


# Born pytest-oracled (rotation policy, __spark_entry__.py). The oracle
# spells the window-membership arithmetic (each event belongs to the 4
# 15-min-grid starts covering it); the Spark plan uses the native
# F.window(slide) operator — the same overlapping-window machinery
# Structured Streaming runs, so the batch query IS the streaming query's
# semantics, proven against independent arithmetic.
_HOPPING_ORACLE_SQL = """
    WITH w AS (SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 900 - k) * 900
                          AS win_start,
                      event_type, value
               FROM events, UNNEST(generate_series(0, 3)) AS u(k))
    SELECT win_start, event_type, COUNT(*) AS n,
           ROUND(SUM(value), 4) AS sum_value
    FROM w GROUP BY 1, 2 ORDER BY 1, 2
"""


@q(
    "events_hopping_window",
    None,  # pytest-oracled via _HOPPING_ORACLE_SQL (newborn-oracle queue)
    "Hopping (sliding) window aggregation — 1 h windows every 15 min via "
    "the native F.window(slide) operator, the shape Structured Streaming "
    "uses for overlapping-window metrics; each event expands to "
    "window/slide = 4 rows BEFORE the one keyed shuffle, so the cost "
    "model at 100 TB is an explicit 4x input inflation (bounded, chosen "
    "by the window/slide ratio), not a join. Epoch-aligned starts keep "
    "the arithmetic timezone-free and exactly mirrorable in the oracle.",
)
def events_hopping_window(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            # parquet ts reads as TIMESTAMP_NTZ, which cannot cast straight
            # to BIGINT; the intermediate TIMESTAMP cast (no-op for LTZ,
            # UTC-session interpretation for NTZ — the same alignment the
            # tumbling oracle relies on) makes the epoch conversion legal
            # for both
            F.col("w.start").cast("timestamp").cast("long").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("win_start", "event_type")
    )


# Born pytest-oracled (rotation policy, tests/test_queries_oracle.py).
# Native-rule note (pinned empirically in the boundary gate): an event
# whose ts falls EXACTLY on the open window's end still MERGES — Spark's
# session merge is end-inclusive — so a new session starts only when the
# gap is STRICTLY exceeded (> in the replica's is_start), the same rule
# events_sessionize uses. session_end = last event + gap.
_SESSION_WINDOW_ORACLE_SQL = """
    WITH o AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS is_start
      FROM events),
    s AS (SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS sess FROM o)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM s GROUP BY user_id, sess
"""


@q(
    "events_session_window",
    None,  # pytest-oracled via _SESSION_WINDOW_ORACLE_SQL (newborn-oracle queue)
    "Gap-based sessions via the NATIVE F.session_window operator — the "
    "dynamic-window primitive Structured Streaming uses for stateful "
    "session aggregation, here as a batch query. One keyed shuffle on "
    "(user_id) and Spark's session-merge does the islands assignment "
    "internally — no lag/running-sum window pair, so unlike "
    "events_sessionize there is no second windowing pass over each "
    "partition; at 100 TB both plans shuffle once on user_id, this one "
    "does strictly less per-partition work. Proven equal to the manual "
    "gaps-and-islands plan (strict-> boundary rule, end-inclusive merge) "
    "in the gate, which also pins the exact-gap boundary case.",
)
def events_session_window(spark, sf_dir):
    # one shared aggregation body with the streaming wrapper
    # (streaming/windows.py session_rollup_body) so batch and stream
    # cannot drift; the NTZ ts column stays uncast here (batch needs no
    # watermark, and the replica compares naive timestamps)
    from ..streaming.windows import session_rollup_body

    return session_rollup_body(load(spark, sf_dir, "events"))
