"""Driver-contract query battery (SURVEY.md §2 operator inventory).

Each entry pairs a Spark DataFrame program with an ANSI-SQL oracle that
DuckDB runs over the same parquet tables. Column names and value
rounding are aligned on both sides (the driver hashes values after
sorting columns by name).

Conventions to keep the value-hash stable across engines:
  - no raw timestamp columns in results (cast to epoch bigint)
  - double aggregates rounded: big sums -> 2 dp, ratios/means -> 6 dp
  - deterministic tie-breaks on every top-k
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _fan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin fan-out for single-file scans feeding CPU-heavy
    hashing/regex chains: Spark splits scans by BYTES, which
    underestimates per-row compute, so a one-file table otherwise runs
    the whole map side on one core (measured 6.7s -> sub-second on the
    embedding-dedup cosine stage). No-op when the scan already fans
    wide; results of every caller are partition-independent by
    construction (deterministic caps/folds), so this is pure layout."""
    target = spark.sparkContext.defaultParallelism * 2
    return df.repartition(target) if df.rdd.getNumPartitions() < target else df


# ---------------------------------------------------------------------------
# EMF-core operators (SURVEY.md §2) over the testdata star schema
# ---------------------------------------------------------------------------


def q_dim_hash_group(spark, sf):
    """F6 dimension hash + A1 hash group-by (aggregator.go:96-151,234-248)."""
    ev = _t(spark, sf, "events")
    dim_hash = F.concat_ws(
        ";",
        F.concat(F.lit("etype="), F.col("event_type")),
        F.concat(F.lit("ubucket="), (F.col("user_id") % 10).cast("string")),
    )
    return (
        ev.groupBy(dim_hash.alias("dim_hash"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
    )


SQL_DIM_HASH_GROUP = """
SELECT 'etype=' || event_type || ';ubucket=' || CAST(user_id % 10 AS VARCHAR) AS dim_hash,
       COUNT(*) AS cnt,
       ROUND(SUM(value), 2) AS sum_value,
       ROUND(MIN(value), 2) AS min_value,
       ROUND(MAX(value), 2) AS max_value
FROM events GROUP BY 1
"""


def q_value_count_hist(spark, sf):
    """A2 exact sparse value->count histogram (histogram.go:28-37)."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_quantity").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))


SQL_VALUE_COUNT_HIST = """
SELECT l_returnflag AS flag, l_quantity AS v, COUNT(*) AS c
FROM lineitem GROUP BY 1, 2
"""


def q_seh_buckets(spark, sf):
    """A8/F10 SEH bucket aggregation (seh.go:35-40,64-80)."""
    li = _t(spark, sf, "lineitem")
    bucket = (
        F.when(F.col("l_extendedprice") <= 0, F.lit(0))
        .otherwise(F.floor(F.log(F.col("l_extendedprice")) / F.log(F.lit(1.1))))
        .cast("int")
    )
    return li.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("c"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_v"),
    )


SQL_SEH_BUCKETS = """
SELECT CASE WHEN l_extendedprice <= 0 THEN 0
            ELSE CAST(FLOOR(LN(l_extendedprice) / LN(1.1)) AS INTEGER) END AS bucket,
       COUNT(*) AS c,
       ROUND(SUM(l_extendedprice), 2) AS sum_v
FROM lineitem GROUP BY 1
"""


def q_seh_representative(spark, sf):
    """F11 geometric-midpoint representative values (seh.go:43-45)."""
    li = _t(spark, sf, "lineitem")
    bucket = (
        F.when(F.col("l_extendedprice") <= 0, F.lit(0))
        .otherwise(F.floor(F.log(F.col("l_extendedprice")) / F.log(F.lit(1.1))))
        .cast("int")
    )
    b = li.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("c"))
    return b.select(
        F.round(
            F.exp((F.col("bucket").cast("double") + F.lit(0.5)) * F.log(F.lit(1.1))), 6
        ).alias("rep_value"),
        "c",
    )


SQL_SEH_REPRESENTATIVE = """
WITH b AS (
  SELECT CASE WHEN l_extendedprice <= 0 THEN 0
              ELSE CAST(FLOOR(LN(l_extendedprice) / LN(1.1)) AS INTEGER) END AS bucket,
         COUNT(*) AS c
  FROM lineitem GROUP BY 1)
SELECT ROUND(EXP((CAST(bucket AS DOUBLE) + 0.5) * LN(1.1)), 6) AS rep_value, c FROM b
"""


def q_tumbling_window(spark, sf):
    """W1 tumbling event-time window (task.go:29-47 -> event-time)."""
    ev = _t(spark, sf, "events")
    win = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("bigint")
    return ev.groupBy(
        win.alias("window_start"), F.col("event_type").alias("event_type")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


SQL_TUMBLING_WINDOW = """
SELECT CAST(FLOOR(EPOCH(ts) / 3600) * 3600 AS BIGINT) AS window_start,
       event_type,
       COUNT(*) AS cnt,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_sliding_window(spark, sf):
    """W1 extension: hopping window via Spark's native F.window
    (size 2h, slide 1h — every event lands in exactly two windows).
    The oracle replicates the epoch-aligned window set with a
    range(0,2) cross join."""
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").cast("bigint").alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


SQL_SLIDING_WINDOW = """
SELECT (CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) - k) * 3600 AS window_start,
       event_type, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
FROM events CROSS JOIN (SELECT unnest(range(0, 2)) AS k) ks
GROUP BY 1, 2
"""


def q_session_window(spark, sf):
    """Gap-based session windows (W-family beyond the reference's
    tumbling flush): per-user sessions with a 30-minute inactivity gap
    via Spark's session_window; the oracle is the classic
    lag -> new-session-flag -> cumulative-sum sessionization. Spark's
    session end = last event + gap, and events EXACTLY gap seconds
    apart merge (probe-verified: new-session condition is diff > gap,
    not >=), both mirrored in the SQL."""
    from emf_spark.operators import sessions

    ev = _t(spark, sf, "events")
    return sessions.sessionize(
        ev,
        gap="30 minutes",
        keys=["user_id"],
        aggs=[
            F.count(F.lit(1)).alias("events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ],
    ).select(
        "user_id",
        F.col("session_start").alias("s_start"),
        F.col("session_end").alias("s_end"),
        "events",
        "sum_value",
    )


SQL_SESSION_WINDOW = """
WITH marked AS (
  SELECT user_id, ts, value,
    CASE WHEN EPOCH(ts) - EPOCH(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
              > 1800 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         THEN 1 ELSE 0 END AS new_s
  FROM events),
sessioned AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT user_id,
       CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS s_start,
       CAST(FLOOR(EPOCH(MAX(ts))) + 1800 AS BIGINT) AS s_end,
       COUNT(*) AS events,
       ROUND(SUM(value), 2) AS sum_value
FROM sessioned GROUP BY user_id, sid
"""


def q_broadcast_enrich(spark, sf):
    """J3 broadcast enrichment join (flush dispatch generalized)."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


SQL_BROADCAST_ENRICH = """
SELECT r_name AS region, n_name AS nation, COUNT(*) AS customers,
       ROUND(SUM(c_acctbal), 2) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


def q_route_fanout(spark, sf):
    """S6/§2.10 sink routing expressed as per-sink aggregate counts."""
    ev = _t(spark, sf, "events")
    sink = (
        F.when(F.col("event_type") == "error", "cloudwatch")
        .when(F.col("event_type") == "purchase", "file")
        .otherwise("archive")
    )
    return ev.groupBy(sink.alias("sink")).agg(
        F.count(F.lit(1)).alias("routed_rows"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


SQL_ROUTE_FANOUT = """
SELECT CASE WHEN event_type = 'error' THEN 'cloudwatch'
            WHEN event_type = 'purchase' THEN 'file'
            ELSE 'archive' END AS sink,
       COUNT(*) AS routed_rows,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1
"""


def q_malformed_filter(spark, sf):
    """P1-style validity predicate on a JSON payload column."""
    ev = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k").isNotNull() & (F.col("k") > 50))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("k").alias("sum_k"))
    )


SQL_MALFORMED_FILTER = """
SELECT event_type, COUNT(*) AS cnt, CAST(SUM(k) AS BIGINT) AS sum_k FROM (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events) t
WHERE k IS NOT NULL AND k > 50
GROUP BY 1
"""


def q_first_wins_metadata(spark, sf):
    """A4 first-wins / A5 last-wins under deterministic (ts, id) order
    (aggregator.go:100-121; SURVEY.md §7.4 determinism rule)."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("first_event_type"),
            F.unix_timestamp("ts").cast("bigint").alias("first_ts_epoch"),
        )
    )


SQL_FIRST_WINS_METADATA = """
SELECT user_id, event_type AS first_event_type,
       CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS first_ts_epoch
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
      FROM events) t
WHERE rn = 1
"""


def q_projection_union(spark, sf):
    """A6/U1 intended metric-definition union as a set-union aggregate."""
    o = _t(spark, sf, "orders")
    return o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.array_join(F.array_sort(F.collect_set("o_orderpriority")), ",").alias(
            "priorities"
        ),
        F.count(F.lit(1)).alias("orders_cnt"),
    )


SQL_PROJECTION_UNION = """
SELECT o_custkey AS custkey,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
       COUNT(*) AS orders_cnt
FROM orders GROUP BY 1
"""


def q_dimension_set_subset(spark, sf):
    """U2 dim-set subset test via forall/exists higher-order functions
    (common/emf.go:53-57; utils.go:27-45 Find/Every): customers whose
    distinct order-priority set is contained in the 'urgent' family."""
    o = _t(spark, sf, "orders")
    urgent = F.array(F.lit("1-URGENT"), F.lit("2-HIGH"))
    sets = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.collect_set("o_orderpriority").alias("prios")
    )
    subset = F.forall(F.col("prios"), lambda p: F.array_contains(urgent, p))
    return sets.groupBy(subset.alias("is_urgent_only")).agg(
        F.count(F.lit(1)).alias("customers")
    )


SQL_DIMENSION_SET_SUBSET = """
WITH sets AS (
  SELECT o_custkey, list(DISTINCT o_orderpriority) AS prios
  FROM orders GROUP BY 1)
SELECT len(list_filter(prios, p -> p IN ('1-URGENT','2-HIGH'))) = len(prios)
         AS is_urgent_only,
       COUNT(*) AS customers
FROM sets GROUP BY 1
"""


def q_membership_semi_join(spark, sf):
    """P3/P4 membership predicate as a broadcast semi-join."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(F.col("p_size") <= 10)
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"], "left_semi")
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


SQL_MEMBERSHIP_SEMI_JOIN = """
SELECT l_returnflag AS flag, COUNT(*) AS cnt, ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 10)
GROUP BY 1
"""


def q_compression_ratio(spark, sf):
    """A11 input/output compression accounting (aggregator.go:218-221).
    Fully in-plan: both counts are 1-row aggregates broadcast-crossed
    (no construction-time actions — the pattern r2 item 9 established
    for |Q|; review finding)."""
    ev = _t(spark, sf, "events")
    n_in = ev.agg(F.count(F.lit(1)).alias("records_in"))
    n_out = (
        ev.groupBy("event_type", (F.col("user_id") % 10))
        .count()
        .agg(F.count(F.lit(1)).alias("groups_out"))
    )
    return n_in.crossJoin(F.broadcast(n_out)).select(
        "records_in",
        "groups_out",
        F.round(
            (F.col("records_in") - F.col("groups_out"))
            / F.col("records_in") * 100,
            6,
        ).alias("reduction_pct"),
    )


SQL_COMPRESSION_RATIO = """
WITH g AS (SELECT event_type, user_id % 10 AS ub FROM events GROUP BY 1, 2)
SELECT (SELECT COUNT(*) FROM events) AS records_in,
       (SELECT COUNT(*) FROM g) AS groups_out,
       ROUND(( (SELECT COUNT(*) FROM events) - (SELECT COUNT(*) FROM g) )
             * 100.0 / (SELECT COUNT(*) FROM events), 6) AS reduction_pct
"""


def q_pricing_summary(spark, sf):
    """TPC-H Q1 shape: partial-aggregation showcase for the agg engine."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_linestatus").alias("status"),
        )
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag AS flag, l_linestatus AS status,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Training-data ops (dedup / similarity / text) over documents+embeddings
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf):
    """Exact dedup: hash-groupBy on content, keep first doc_id."""
    d = _t(spark, sf, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS dup_count
FROM documents GROUP BY 1
"""


def q_text_jaccard_vs_query(spark, sf):
    """N-gram (word-set) Jaccard similarity of every doc vs doc_id=0."""
    d = _t(spark, sf, "documents")
    words = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    qwords = words.filter(F.col("doc_id") == 0).select(F.col("w").alias("qw"))
    # |Q| stays IN the plan (1-row broadcast cross join) — no action at
    # query-construction time (VERDICT r2 item 9)
    nq = qwords.agg(F.count(F.lit(1)).alias("nq"))
    inter = (
        words.join(F.broadcast(qwords), words["w"] == qwords["qw"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nd"))
    return (
        sizes.join(inter, "doc_id", "left")
        .crossJoin(F.broadcast(nq))
        .select(
            "doc_id",
            F.round(
                F.coalesce(F.col("inter"), F.lit(0))
                / (F.col("nd") + F.col("nq") - F.coalesce(F.col("inter"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


SQL_TEXT_JACCARD_VS_QUERY = """
WITH words AS (
  SELECT doc_id, DISTINCT_W AS w FROM (
    SELECT doc_id, UNNEST(list_distinct(string_split(text, ' '))) AS DISTINCT_W
    FROM documents) t),
q AS (SELECT w FROM words WHERE doc_id = 0),
sizes AS (SELECT doc_id, COUNT(*) AS nd FROM words GROUP BY 1),
inter AS (SELECT doc_id, COUNT(*) AS inter FROM words WHERE w IN (SELECT w FROM q) GROUP BY 1)
SELECT s.doc_id,
       ROUND(COALESCE(i.inter, 0) * 1.0
             / (s.nd + (SELECT COUNT(*) FROM q) - COALESCE(i.inter, 0)), 6) AS jaccard
FROM sizes s LEFT JOIN inter i ON s.doc_id = i.doc_id
"""


def q_text_token_stats(spark, sf):
    """Token counting + per-language corpus stats."""
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


SQL_TEXT_TOKEN_STATS = """
SELECT lang, COUNT(*) AS docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       ROUND(AVG(n_chars), 6) AS avg_chars
FROM documents GROUP BY 1
"""


def q_text_quality(spark, sf):
    """Quality scoring: length/word-length/uniqueness ratios per source."""
    d = _t(spark, sf, "documents")
    n_words = F.size(F.split("text", " "))
    n_uniq = F.size(F.array_distinct(F.split("text", " ")))
    score = F.round(
        (n_uniq / n_words) * F.least(F.length("text") / F.lit(200.0), F.lit(1.0)), 6
    )
    return (
        d.select("source", score.alias("q"))
        .groupBy("source")
        .agg(F.round(F.avg("q"), 6).alias("avg_quality"), F.count(F.lit(1)).alias("docs"))
    )


SQL_TEXT_QUALITY = """
SELECT source,
       ROUND(AVG(q), 6) AS avg_quality, COUNT(*) AS docs
FROM (
  SELECT source,
         ROUND((len(list_distinct(string_split(text, ' '))) * 1.0
                / len(string_split(text, ' ')))
               * LEAST(LENGTH(text) / 200.0, 1.0), 6) AS q
  FROM documents) t
GROUP BY 1
"""


def q_grok_parse(spark, sf):
    """Grok/regex parse leg (north rule): render events as text log
    lines, grok them back, aggregate by extracted fields."""
    from emf_spark.operators.grok import grok_extract

    ev = _t(spark, sf, "events")
    line = F.concat(
        F.col("event_type"),
        F.lit(" uid="),
        F.col("user_id").cast("string"),
        F.lit(" val="),
        F.col("value").cast("string"),
    )
    lines = ev.select(line.alias("line"))
    parsed = grok_extract(lines, "line", "%{WORD:etype} uid=%{INT:uid} val=%{NUMBER:val}")
    return parsed.groupBy("etype").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum(F.col("val").cast("double")), 2).alias("sum_val"),
        F.count(F.when(F.col("uid").cast("int") % 2 == 0, 1)).alias("even_uids"),
    )


SQL_GROK_PARSE = r"""
WITH lines AS (
  SELECT event_type || ' uid=' || CAST(user_id AS VARCHAR)
         || ' val=' || CAST(value AS VARCHAR) AS line
  FROM events),
parsed AS (
  SELECT regexp_extract(line, '(\w+) uid=([+-]?\d+) val=([+-]?\d+(?:\.\d+)?)', 1) AS etype,
         regexp_extract(line, '(\w+) uid=([+-]?\d+) val=([+-]?\d+(?:\.\d+)?)', 2) AS uid,
         regexp_extract(line, '(\w+) uid=([+-]?\d+) val=([+-]?\d+(?:\.\d+)?)', 3) AS val
  FROM lines
  WHERE regexp_matches(line, '(\w+) uid=([+-]?\d+) val=([+-]?\d+(?:\.\d+)?)'))
SELECT etype, COUNT(*) AS cnt,
       ROUND(SUM(CAST(val AS DOUBLE)), 2) AS sum_val,
       COUNT(CASE WHEN CAST(uid AS INTEGER) % 2 = 0 THEN 1 END) AS even_uids
FROM parsed GROUP BY 1
"""


def q_grok_accesslog(spark, sf):
    """Combined-access-log grok leg: render events as full COMBINED
    access-log lines (incl. HTTP version, referrer, agent) and parse
    them with the ONE library ref %{COMBINEDAPACHELOG} — nested grok
    composition surfaces clientip/verb/response/bytes/... captures
    recursively, logstash-style (VERDICT r2 item 6)."""
    from emf_spark.operators.grok import grok_extract

    ev = _fan(spark, _t(spark, sf, "events"))
    method = (
        F.when(F.col("event_type") == "view", "GET")
        .when(F.col("event_type") == "purchase", "POST")
        .otherwise("PUT")
    )
    status = (F.lit(200) + (F.col("user_id") % 3) * 100).cast("int")
    line = F.concat(
        F.lit("10.0.0."), (F.col("user_id") % 200).cast("string"),
        F.lit(" - u"), (F.col("user_id") % 50).cast("string"),
        F.lit(" [12/Mar/2025:10:00:00 +0000] \""),
        method, F.lit(" /api/"), F.col("event_type"), F.lit(" HTTP/1.1\" "),
        status.cast("string"), F.lit(" "),
        F.floor("value").cast("int").cast("string"),
        F.lit(' "-" "spark-graft/3.0"'),
    )
    parsed = grok_extract(
        ev.select(line.alias("line")), "line", "%{COMBINEDAPACHELOG}"
    )
    return parsed.groupBy(
        F.col("verb").alias("method"),
        F.col("response").cast("bigint").alias("status"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("bytes").cast("bigint")).alias("sum_bytes"),
    )


SQL_GROK_ACCESSLOG = """
SELECT CASE WHEN event_type = 'view' THEN 'GET'
            WHEN event_type = 'purchase' THEN 'POST'
            ELSE 'PUT' END AS method,
       CAST(200 + (user_id % 3) * 100 AS BIGINT) AS status,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(FLOOR(value) AS INTEGER)) AS BIGINT) AS sum_bytes
FROM events GROUP BY 1, 2
"""


def q_grok_syslog(spark, sf):
    """Classic-syslog grok leg (VERDICT r4 item 7): render events as
    RFC3164-style lines and parse with the ONE library ref
    %{SYSLOGLINE} — the nested composite surfaces
    timestamp/logsource/program/pid/message recursively, including the
    optional [pid] branch (every third line omits it, so pid comes back
    as the grok empty string and try_cast(null))."""
    from emf_spark.operators.grok import grok_extract

    ev = _fan(spark, _t(spark, sf, "events"))
    pid = (F.col("user_id") % 9000 + 1).cast("string")
    prog = F.concat(F.lit("svc-"), F.col("event_type"))
    line = F.concat(
        F.lit("Mar 12 10:00:01 host-"),
        (F.col("user_id") % 20).cast("string"),
        F.lit(" "), prog,
        F.when(F.col("user_id") % 3 == 0, F.lit("")).otherwise(
            F.concat(F.lit("["), pid, F.lit("]"))
        ),
        F.lit(": evt uid="), F.col("user_id").cast("string"),
    )
    parsed = grok_extract(
        ev.select(line.alias("line")), "line", "%{SYSLOGLINE}"
    )
    return parsed.groupBy(F.col("program")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("pid").try_cast("bigint")).alias("sum_pid"),
        F.count(F.when(F.col("pid") == "", 1)).alias("no_pid"),
        F.count_distinct(F.col("logsource")).alias("hosts"),
    )


SQL_GROK_SYSLOG = """
SELECT 'svc-' || event_type AS program,
       COUNT(*) AS cnt,
       CAST(SUM(CASE WHEN user_id % 3 <> 0
                     THEN user_id % 9000 + 1 END) AS BIGINT) AS sum_pid,
       COUNT(CASE WHEN user_id % 3 = 0 THEN 1 END) AS no_pid,
       COUNT(DISTINCT 'host-' || CAST(user_id % 20 AS VARCHAR)) AS hosts
FROM events GROUP BY 1
"""


def q_grok_httpd_error(spark, sf):
    """Apache error-log grok leg (VERDICT r4 item 7): render events as
    httpd error lines and parse with %{HTTPD_ERRORLOG} — exercises the
    OPTIONAL [client ip] branch (every fourth line omits it; the
    non-participating group extracts as the grok empty string)."""
    from emf_spark.operators.grok import grok_extract

    ev = _fan(spark, _t(spark, sf, "events"))
    level = F.element_at(
        F.array(F.lit("error"), F.lit("warn"), F.lit("notice")),
        (F.col("user_id") % 3 + 1).cast("int"),
    )
    line = F.concat(
        F.lit("[Wed Mar 12 10:00:00 2025] ["), level, F.lit("] "),
        F.when(F.col("user_id") % 4 == 0, F.lit("")).otherwise(
            F.concat(F.lit("[client 10.0.0."),
                     (F.col("user_id") % 200).cast("string"), F.lit("] "))
        ),
        F.lit("evt "), F.col("event_type"),
        F.lit(" uid="), F.col("user_id").cast("string"),
    )
    parsed = grok_extract(
        ev.select(line.alias("line")), "line", "%{HTTPD_ERRORLOG}"
    )
    return parsed.groupBy(F.col("loglevel")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count(F.when(F.col("clientip") != "", 1)).alias("with_client"),
        F.count_distinct(
            F.when(F.col("clientip") != "", F.col("clientip"))
        ).alias("clients"),
    )


SQL_GROK_HTTPD_ERROR = """
SELECT CASE user_id % 3 WHEN 0 THEN 'error' WHEN 1 THEN 'warn'
            ELSE 'notice' END AS loglevel,
       COUNT(*) AS cnt,
       COUNT(CASE WHEN user_id % 4 <> 0 THEN 1 END) AS with_client,
       COUNT(DISTINCT CASE WHEN user_id % 4 <> 0
             THEN '10.0.0.' || CAST(user_id % 200 AS VARCHAR) END) AS clients
FROM events GROUP BY 1
"""


def q_cw_batching(spark, sf):
    """S5 PutLogEvents batching plan (flush/cloudwatch.go:83-103) via
    operators.output.plan_cw_batches: one integer unit-cost running total
    per 'sink' (event_type) that provably respects both the byte and the
    count limit per batch (scaled-down limits: 4 KiB / 100 events,
    1 KiB max event)."""
    from emf_spark.operators.output import plan_cw_batches

    ev = _t(spark, sf, "events")
    sized = ev.select(
        F.col("event_type").alias("sink"),
        "event_id",
        (F.octet_length("props") + F.lit(26)).cast("bigint").alias("sz"),
    )
    planned = plan_cw_batches(
        sized,
        order_cols=["event_id"],
        max_batch_bytes=4096,
        max_batch_events=100,
        max_event_bytes=1024,
        bytes_col="sz",
    )
    return planned.groupBy("sink", "batch_id").agg(
        F.count(F.lit(1)).alias("events"),
        F.sum("sz").alias("batch_bytes"),
    )


# unit = max(sz*100, 3072); batch = cum_before_units // (3072*100)
SQL_CW_BATCHING = """
WITH sized AS (
  SELECT event_type AS sink, event_id, CAST(strlen(props) + 26 AS BIGINT) AS sz
  FROM events),
planned AS (
  SELECT sink, sz,
    CAST(SUM(GREATEST(sz * 100, 3072)) OVER (
           PARTITION BY sink ORDER BY event_id ROWS UNBOUNDED PRECEDING)
         - GREATEST(sz * 100, 3072) AS BIGINT) AS cum_before
  FROM sized)
SELECT sink, CAST(cum_before // 307200 AS INTEGER) AS batch_id,
       COUNT(*) AS events, CAST(SUM(sz) AS BIGINT) AS batch_bytes
FROM planned GROUP BY 1, 2
"""


def q_text_langid(spark, sf):
    """Language-ID heuristic (datax.textstats.lang_id): marker-word
    ratios, first-wins argmax."""
    from emf_spark.datax import textstats

    d = _t(spark, sf, "documents")
    return (
        textstats.lang_id(d)
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("docs"))
    )


_LANG_IN = {
    "en": "('the','and','of','to','is')",
    "es": "('el','la','de','que','los')",
    "de": "('der','die','und','das','ist')",
    "fr": "('le','la','et','les','des')",
}

SQL_TEXT_LANGID = f"""
WITH s AS (
  SELECT lang,
    len(list_filter(string_split(lower(text), ' '), w -> w IN {_LANG_IN['en']})) * 1.0
      / greatest(len(string_split(lower(text), ' ')), 1) AS s_en,
    len(list_filter(string_split(lower(text), ' '), w -> w IN {_LANG_IN['es']})) * 1.0
      / greatest(len(string_split(lower(text), ' ')), 1) AS s_es,
    len(list_filter(string_split(lower(text), ' '), w -> w IN {_LANG_IN['de']})) * 1.0
      / greatest(len(string_split(lower(text), ' ')), 1) AS s_de,
    len(list_filter(string_split(lower(text), ' '), w -> w IN {_LANG_IN['fr']})) * 1.0
      / greatest(len(string_split(lower(text), ' ')), 1) AS s_fr
  FROM documents)
SELECT lang,
  CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr THEN 'es'
       WHEN s_de > 0 AND s_de >= s_fr THEN 'de'
       WHEN s_fr > 0 THEN 'fr'
       ELSE 'unk' END AS pred_lang,
  COUNT(*) AS docs
FROM s GROUP BY 1, 2
"""


def _ns_corpus_tokenized(spark, sf):
    """The two-namespace tokenized corpus for q_emf_namespace_keyed,
    built from the events table (to_json render + tokenize UDF)."""
    from emf_spark.tokenizer import tokenize_udf

    ev = _fan(spark, _t(spark, sf, "events"))
    payload = F.to_json(
        F.struct(
            F.struct(
                (F.unix_timestamp("ts") * 1000).cast("bigint").alias("Timestamp"),
                F.array(
                    F.struct(
                        F.lit("NS_Type").alias("Namespace"),
                        F.array(F.array(F.lit("EventType"))).alias("Dimensions"),
                        F.array(
                            F.struct(F.lit("Value").alias("Name"), F.lit("None").alias("Unit"))
                        ).alias("Metrics"),
                    ),
                    F.struct(
                        F.lit("NS_User").alias("Namespace"),
                        F.array(F.array(F.lit("UserBucket"))).alias("Dimensions"),
                        F.array(
                            F.struct(F.lit("Score").alias("Name"), F.lit("None").alias("Unit"))
                        ).alias("Metrics"),
                    ),
                ).alias("CloudWatchMetrics"),
            ).alias("_aws"),
            F.col("value").alias("Value"),
            (F.col("user_id") % 100).alias("Score"),
            F.col("event_type").alias("EventType"),
            (F.col("user_id") % 10).cast("string").alias("UserBucket"),
        )
    )
    tok = ev.select(
        F.concat(F.lit("d"), F.col("event_id").cast("string")).alias("doc_id"),
        payload.alias("payload"),
        F.lit("app-a").alias("source"),
    ).withColumn("tokens", tokenize_udf("payload"))
    return tok.select(
        "doc_id", "tokens", F.size("tokens").cast("int").alias("n_tok"), "source"
    )



def _staged_cache(spark, sf: str, tag: str, source_table: str, build, writer=None):
    """Shared .bench_cache staging with a SOURCE FINGERPRINT guard: the
    cache key includes the source parquet's (size, mtime_ns — whole
    seconds would miss a same-second same-size regeneration), so a
    regenerated testdata dir invalidates the staged copy instead of
    silently serving stale rows into the correctness gate. ``build``
    is a thunk returning the DataFrame to persist; pass ``writer``
    (path -> None) for custom write shapes (e.g. partitionBy bucket
    materialization). Returns the staged path."""
    import json as _json
    from pathlib import Path

    src = Path(sf) / f"{source_table}.parquet"
    st = src.stat()
    fp = {"size": st.st_size, "mtime_ns": st.st_mtime_ns}
    cache = Path(__file__).resolve().parent.parent / ".bench_cache"
    staged = cache / f"{tag}_{Path(sf).name}.parquet"
    meta = cache / f"{tag}_{Path(sf).name}.src.json"
    fresh = (
        (staged / "_SUCCESS").exists()
        and meta.exists()
        and _json.loads(meta.read_text()) == fp
    )
    if not fresh:
        cache.mkdir(exist_ok=True)
        if writer is not None:
            writer(str(staged))
        else:
            build().write.mode("overwrite").parquet(str(staged))
        meta.write_text(_json.dumps(fp))
    return str(staged)


def q_emf_namespace_keyed(spark, sf):
    """North-rule keying mode ((namespace, dim_hash, window) group key,
    SURVEY §2.5 A1 note): events rendered as two-namespace EMF payloads,
    tokenized, then run through the real parse -> window -> namespace-
    keyed aggregation; the oracle recomputes every per-(namespace,
    dim_hash) stat from the raw events table.

    The corpus-CONSTRUCTION half (to_json render + tokenize UDF over the
    full events table) is deterministic input prep, not the operator
    under test — it is staged once per sf dir to .bench_cache (same
    pattern as bench.py's pipeline corpus; VERDICT r2 item 2: it was
    ~70% of the 34-query battery's wall, re-done x3 for medians). The
    measured/correctness-checked path is detokenize -> parse -> window
    -> namespace-keyed aggregation, unchanged."""
    from emf_spark.operators import aggregate as agg
    from emf_spark.operators import parse as parse_op
    from emf_spark.tokenizer import with_payload

    staged = _staged_cache(
        spark, sf, "nskeyed", "events",
        lambda: _ns_corpus_tokenized(spark, sf),
    )
    tok = _fan(spark, spark.read.parquet(staged))
    parsed = parse_op.parse_emf(with_payload(tok)).filter(F.col("valid"))
    windowed = agg.with_window(parsed, window_ms=3_600_000)
    obs = agg.explode_observations(windowed, key_by_namespace=True)
    hist = agg.aggregate_histograms(obs, key_by_namespace=True)
    return hist.groupBy("namespace", "dim_hash").agg(
        F.count_distinct("window_start").alias("windows"),
        F.sum("count").alias("total_cnt"),
        F.round(F.sum("sum"), 2).alias("sum_v"),
        F.round(F.min("min"), 2).alias("min_v"),
        F.round(F.max("max"), 2).alias("max_v"),
    )


SQL_EMF_NAMESPACE_KEYED = """
WITH base AS (
  SELECT CAST(FLOOR(EPOCH(ts)) AS BIGINT) * 1000 AS tsms, value, event_type,
         CAST(user_id % 10 AS VARCHAR) AS ub,
         CAST(user_id % 100 AS DOUBLE) AS score
  FROM events),
obs AS (
  SELECT 'NS_Type' AS namespace,
         CAST(FLOOR(tsms / 3600000) * 3600000 AS BIGINT) AS window_start,
         'EventType=' || event_type || ';UserBucket=' || ub AS dim_hash,
         value AS v
  FROM base
  UNION ALL
  SELECT 'NS_User',
         CAST(FLOOR(tsms / 3600000) * 3600000 AS BIGINT),
         'EventType=' || event_type || ';UserBucket=' || ub,
         score
  FROM base)
SELECT namespace, dim_hash,
       COUNT(DISTINCT window_start) AS windows,
       COUNT(*) AS total_cnt,
       ROUND(SUM(v), 2) AS sum_v,
       ROUND(MIN(v), 2) AS min_v,
       ROUND(MAX(v), 2) AS max_v
FROM obs GROUP BY 1, 2
"""


# --- portable-hash oracles (VERDICT r1 item 2) --------------------------
# The engine-internal hash families (permutation constants, hyperplanes,
# centroid picks) are deterministic literals, so they are GENERATED into
# the oracle SQL; the base hash for driver queries is portable_hash56
# (md5-derived), which DuckDB computes bit-identically. Engine defaults
# stay on xxhash64 for speed — the driver queries pass the portable
# variant explicitly.

_PORT_HASH = "CAST('0x' || substr(md5({s}), 1, 14) AS BIGINT)"
_P31 = (1 << 31) - 1
_NORM_TXT = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"


def _sql_shingle_hashes(k: int) -> str:
    """DuckDB expr: distinct k-word shingle hashes of word list ``w`` —
    portable md5 word hash + the engine's rolling-poly combine
    (dedup.word_shingle_hashes: acc = (acc*B + h) mod P)."""
    B = 1_000_003
    acc = f"(wh[i])"
    for j in range(1, k):
        acc = f"(({acc} * {B} + wh[i + {j}]) % {_P31})"
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len(wh) - {k - 1}, 0) + 1), "
        f"i -> {acc}))"
    )


_SQL_WORD_HASHES = (
    "list_transform(w, s -> " + _PORT_HASH.format(s="s") + f" % {_P31})"
)


def q_dedup_minhash(spark, sf):
    """MinHash+LSH near-dup pairs (datax.dedup) with the portable shingle
    hash. Banding is EXACT for est_jaccard >= 0.8 with 32 perms / 8 bands
    (<= 6 mismatching positions cannot spoil all 8 bands), so the
    all-pairs oracle and the LSH path agree."""
    from emf_spark.datax import dedup as dd

    d = _t(spark, sf, "documents")
    return dd.minhash_near_duplicates(
        d,
        num_perm=32,
        bands=8,
        threshold=0.8,
        word_hash=dd.portable_word_hash,
        max_bucket=1_000_000,
    ).orderBy("id_a", "id_b")


def _sql_dedup_minhash() -> str:
    from emf_spark.datax.dedup import _perm_literals

    perms = _perm_literals(32, 42)
    sig_cols = ",\n    ".join(
        f"MIN((h * {a} + {b}) % {_P31}) AS s{i}" for i, (a, b) in enumerate(perms)
    )
    eq_sum = "\n      + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(len(perms))
    )
    return f"""
WITH norm AS (SELECT doc_id, {_NORM_TXT} AS t FROM documents),
rep AS (SELECT MIN(doc_id) AS doc_id, t FROM norm GROUP BY t),
words AS (SELECT doc_id, {_SQL_WORD_HASHES} AS wh
          FROM (SELECT doc_id, string_split(t, ' ') AS w FROM rep) t),
sh AS (SELECT doc_id, UNNEST({_sql_shingle_hashes(3)}) AS h FROM words),
sig AS (SELECT doc_id,
    {sig_cols}
  FROM sh GROUP BY 1)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(({eq_sum}) / 32.0, 6) AS est_jaccard
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE ({eq_sum}) >= 26
"""


def q_dedup_simhash(spark, sf):
    """SimHash banded near-dup pairs (56-bit portable hash) in the
    SCALE-SAFE default config (VERDICT r2 item 1): exact-normalized
    dups collapse to a min-id representative before fingerprinting, and
    band buckets are capped at 200 with overflow members paired to the
    bucket minimum. Both steps are deterministic (row_number by id), so
    the oracle replicates the cap + pre-dedupe exactly in SQL."""
    from emf_spark.datax import dedup as dd

    d = _t(spark, sf, "documents")
    return dd.simhash_near_duplicates(
        d, max_hamming=3, n_bits=56, word_hash=dd.portable_hash56
    ).orderBy("id_a", "id_b")


def _sql_dedup_simhash() -> str:
    h = _PORT_HASH.format(s="wd")
    votes = ",\n    ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(56)
    )
    sim = "\n      + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(56)
    )
    # n_bits=56, 4 bands -> band width 14 bits, key mask 16383
    return f"""
WITH reps AS (
  SELECT MIN(doc_id) AS doc_id, arg_min(text, doc_id) AS text
  FROM documents GROUP BY md5({_NORM_TXT})),
wrds AS (
  SELECT doc_id, UNNEST(list_distinct(string_split({_NORM_TXT}, ' '))) AS wd
  FROM reps),
h AS (SELECT doc_id, {h} AS h FROM wrds),
votes AS (SELECT doc_id,
    {votes}
  FROM h GROUP BY 1),
sim AS (SELECT doc_id,
    CAST({sim} AS BIGINT) AS sim
  FROM votes),
banded AS (
  SELECT doc_id, sim, band, (sim >> (band * 14)) & 16383 AS key
  FROM sim CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS band) b),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY band, key ORDER BY doc_id) AS rnk
  FROM banded),
head AS (SELECT * FROM ranked WHERE rnk <= 200),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sim AS sim_a, b.sim AS sim_b
  FROM head a JOIN head b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  UNION
  SELECT m.doc_id AS id_a, o.doc_id AS id_b, m.sim AS sim_a, o.sim AS sim_b
  FROM ranked o JOIN ranked m
    ON m.band = o.band AND m.key = o.key AND m.rnk = 1
  WHERE o.rnk > 200)
SELECT DISTINCT id_a, id_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
"""


def q_text_fingerprint(spark, sf):
    """Winnowing min-k fingerprints (portable shingle hash): groups of
    identical sketches."""
    from emf_spark.datax import textstats

    d = _t(spark, sf, "documents")
    return (
        textstats.fingerprint(d, portable=True)
        .groupBy("fingerprint_key")
        .agg(F.count(F.lit(1)).alias("docs"), F.min("doc_id").alias("keep_doc_id"))
    )


def _sql_text_fingerprint() -> str:
    return f"""
WITH words AS (SELECT doc_id, {_SQL_WORD_HASHES} AS wh
               FROM (SELECT doc_id, string_split({_NORM_TXT}, ' ') AS w
                     FROM documents) t),
sh AS (SELECT doc_id, {_sql_shingle_hashes(5)} AS hs FROM words),
fp AS (SELECT doc_id,
         md5(array_to_string(list_slice(list_sort(hs), 1, 8), ',')) AS fingerprint_key
       FROM sh)
SELECT fingerprint_key, COUNT(*) AS docs, MIN(doc_id) AS keep_doc_id
FROM fp GROUP BY 1
"""


def q_multimodal_features(spark, sf):
    """Multimodal mapInPandas feature extraction over media derived
    deterministically from documents (payload = utf-8 text bytes); the
    oracle reproduces n_bytes/frames/checksum from the documents table,
    exact-checking the Arrow plumbing end to end. Decode stays a
    deterministic fake (no media libs in the container)."""
    from emf_spark.datax import multimodal

    d = _t(spark, sf, "documents")
    feats = multimodal.extract_features(multimodal.media_from_documents(d))
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("frames_sampled").alias("frames"),
        F.sum(F.col("checksum") % 1_000_003).alias("checksum_sum"),
    )


SQL_MULTIMODAL_FEATURES = f"""
WITH m AS (
  SELECT doc_id,
    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         ELSE 'video' END AS kind,
    octet_length(encode(text)) AS n_bytes,
    {_PORT_HASH.format(s="text")} AS checksum,
    n_chars
  FROM documents)
SELECT kind, COUNT(*) AS n,
  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
  CAST(SUM(CASE WHEN kind = 'video' THEN greatest(1, (n_chars * 10) // 1000)
                ELSE 1 END) AS BIGINT) AS frames,
  CAST(SUM(checksum % 1000003) AS BIGINT) AS checksum_sum
FROM m GROUP BY 1
"""


def q_shipping_priority(spark, sf):
    """TPC-H Q3 shape (shipping priority): 3-way join with opposed date
    predicates + revenue top-10 — the multi-way-join leg of the general
    analytics surface. Catalyst pushes both date filters into the scans
    and broadcasts the filtered customer side."""
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").cast("bigint").alias("o_date"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey,
       CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) AS o_date,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY 1, 2
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q_local_supplier_volume(spark, sf):
    """TPC-H Q5 shape (local supplier volume): 6-table star join where
    customer and supplier must sit in the SAME nation — the join-
    reordering / broadcast-dimension leg (region/nation broadcast,
    same-nation equi-predicate folded into the supplier join)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("line_items"),
        )
    )


SQL_LOCAL_SUPPLIER_VOLUME = """
SELECT n_name AS nation,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS line_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


def q_customers_without_orders(spark, sf):
    """Left ANTI join (the set-difference leg): customers that placed
    no order in the window, counted per market segment. Plans as a
    broadcast/shuffled hash anti-join — never a filter-on-collect."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") >= "1999-01-01")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("quiet_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


SQL_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_mktsegment AS segment, COUNT(*) AS quiet_customers,
       ROUND(SUM(c_acctbal), 2) AS sum_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY 1
"""


def q_rollup_revenue(spark, sf):
    """ROLLUP aggregation (multi-level totals in one pass): revenue by
    (returnflag, linestatus), per-flag subtotals, and the grand total,
    with grouping-set ids so every level is distinguishable."""
    li = _t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                    ).alias("revenue"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "cnt",
            "revenue",
            "gid",
        )
    )


SQL_ROLLUP_REVENUE = """
SELECT COALESCE(l_returnflag, 'ALL') AS flag,
       COALESCE(l_linestatus, 'ALL') AS status,
       COUNT(*) AS cnt,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_top_orders_per_customer(spark, sf):
    """Analytic-window leg: rank each customer's orders by totalprice
    (row_number tie-broken on orderkey), keep the top 3, plus the
    running share of the customer's total — windowed rank + windowed
    sum over the same partitioning, one shuffle."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    wsum = Window.partitionBy("o_custkey")
    # integer cents: an unordered double window SUM accumulates in
    # physical order (review finding — last-ulp flake at the round(,6)
    # boundary); exact bigint cents then ONE double division is
    # deterministic on both engines
    price_c = F.round(F.col("o_totalprice") * 100).cast("bigint")
    ranked = o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        price_c.alias("price_c"),
        F.row_number().over(w).alias("rnk"),
        F.sum(price_c).over(wsum).alias("cust_total_c"),
    ).filter(F.col("rnk") <= 3)
    return ranked.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("rnk"),
        F.round("o_totalprice", 2).alias("totalprice"),
        F.round(F.col("price_c") / F.col("cust_total_c"), 6).alias("share"),
    )


SQL_TOP_ORDERS_PER_CUSTOMER = """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
           OVER (PARTITION BY o_custkey) AS cust_total_c
  FROM orders)
SELECT o_custkey AS custkey, o_orderkey AS orderkey, rnk,
       ROUND(o_totalprice, 2) AS totalprice,
       ROUND(CAST(price_c AS DOUBLE) / cust_total_c, 6) AS share
FROM ranked WHERE rnk <= 3
"""


def q_asof_enrich(spark, sf):
    """As-of (point-in-time) join leg: events pick the LATEST rate whose
    effective timestamp <= event time, per event_type — the canonical
    time-series enrichment Spark lacks natively. Rates derive
    deterministically from events (first value per (type, 6h bucket)
    by event_id, effective at the bucket start); the operator is the
    union+window-fill composition (operators/asof.py, no join fanout);
    the oracle is DuckDB's native ASOF JOIN. The weighted sum is
    integer-scaled per row so cross-partition double accumulation
    cannot flip the hash."""
    from emf_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events").select(
        "event_type",
        F.unix_timestamp("ts").cast("double").alias("tss"),
        "value",
        "event_id",
    )
    rates = ev.groupBy(
        "event_type",
        (F.floor(F.col("tss") / 21600) * 21600).cast("double").alias("rts"),
    ).agg(F.min_by("value", "event_id").alias("rate"))
    joined = asof_join(
        ev, rates, key="event_type", left_ts="tss", right_ts="rts"
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(F.col("value") * F.col("rate") * 100).cast("bigint")
        ).alias("weighted_c"),
    )


SQL_ASOF_ENRICH = """
WITH ev AS (SELECT event_type, FLOOR(EPOCH(ts)) AS tss, value, event_id
            FROM events),
rates AS (
  SELECT event_type, FLOOR(tss / 21600) * 21600 AS rts,
         arg_min(value, event_id) AS rate
  FROM ev GROUP BY 1, 2),
j AS (SELECT ev.event_type, ev.value, r.rate
      FROM ev ASOF JOIN rates r
        ON ev.event_type = r.event_type AND ev.tss >= r.rts)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * rate * 100) AS BIGINT)) AS BIGINT)
         AS weighted_c
FROM j GROUP BY 1
"""


def q_range_join(spark, sf):
    """Range (interval) join leg: events matched to deterministic
    maintenance windows ([bucket+1h, bucket+3h) per (event_type, 6h
    bucket)) via the bucketized equi-join operator (operators/
    ranges.py) — never an inequality nested-loop; the oracle is the
    plain SQL inequality join."""
    from emf_spark.operators.ranges import range_join

    ev = _t(spark, sf, "events").select(
        "event_type",
        F.unix_timestamp("ts").cast("double").alias("tss"),
        "value",
    )
    wins = (
        ev.groupBy(
            "event_type",
            (F.floor(F.col("tss") / 21600) * 21600).alias("wb"),
        )
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "event_type",
            (F.col("wb") + 3600).cast("double").alias("w_start"),
            (F.col("wb") + 10800).cast("double").alias("w_end"),
            F.col("wb").cast("bigint").alias("win_id"),
        )
    )
    j = range_join(
        ev, wins, ts_col="tss", start_col="w_start", end_col="w_end",
        keys=["event_type"], bucket=3600.0,
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("win_id").alias("windows"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_c"),
    )


SQL_RANGE_JOIN = """
WITH ev AS (SELECT event_type, FLOOR(EPOCH(ts)) AS tss, value FROM events),
wins AS (SELECT event_type, FLOOR(tss / 21600) * 21600 AS wb
         FROM ev GROUP BY 1, 2),
w2 AS (SELECT event_type, wb + 3600 AS s, wb + 10800 AS e, CAST(wb AS BIGINT) AS win_id
       FROM wins),
j AS (SELECT ev.event_type, ev.value, w2.win_id
      FROM ev JOIN w2
        ON ev.event_type = w2.event_type
       AND ev.tss >= w2.s AND ev.tss < w2.e)
SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT win_id) AS windows,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_c
FROM j GROUP BY 1
"""


def q_kmv_distinct(spark, sf):
    """KMV distinct-count sketch per event_type (datax/sketches.py):
    unlike HLL, the estimate is a deterministic function of the value
    set + portable hash, so the oracle reproduces it bit-for-bit —
    an approximation algorithm under an EXACT correctness check."""
    from emf_spark.datax import sketches

    ev = _t(spark, sf, "events")
    return sketches.kmv_distinct(ev, "user_id", ["event_type"], k=64)


SQL_KMV_DISTINCT = """
WITH h AS (
  SELECT DISTINCT event_type,
    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14) AS BIGINT)
      / 72057594037927936.0 AS hh
  FROM events WHERE user_id IS NOT NULL),
ranked AS (
  SELECT event_type, hh,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hh) AS r
  FROM h),
per AS (SELECT event_type, MAX(r) AS n, MAX(hh) AS kth
        FROM ranked WHERE r <= 64 GROUP BY 1)
SELECT event_type,
       ROUND(CASE WHEN n < 64 THEN CAST(n AS DOUBLE) ELSE 63.0 / kth END, 4)
         AS kmv_estimate,
       n < 64 AS exactish
FROM per
"""


def q_percentiles(spark, sf):
    """EXACT percentiles (continuous interpolation) per event_type —
    Spark's `percentile` matches DuckDB's `quantile_cont` formula
    bit-for-bit, unlike approx_percentile whose sketch is
    engine-specific. At 100 TB swap to approx_percentile and drop the
    exact-oracle claim, or pre-aggregate to a value->count histogram
    (the A2 shape) and compute the percentile from counts."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_PERCENTILES = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.95), 6) AS p95,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


def q_percentiles_hist(spark, sf):
    """Histogram-path EXACT percentiles — the 100 TB shape the
    emf_percentiles docstring prescribes: collapse raw rows to a
    (group, value) -> count histogram FIRST (one map-side-combining
    shuffle, output bounded by distinct-value cardinality), then read
    the interpolated quantile off the cumulative counts. No per-group
    sort of raw rows ever happens; the rank window runs over histogram
    rows only. Result is bit-identical to percentile()/quantile_cont
    (same (n-1)*p order-statistic interpolation), which the oracle
    checks directly against DuckDB's quantile_cont on the raw table."""
    ev = _t(spark, sf, "events").filter(F.col("value").isNotNull())
    hist = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("event_type")
    hist = (
        hist.withColumn("cum", F.sum("cnt").over(wcum))
        .withColumn("n", F.sum("cnt").over(wn))
    )
    hist = hist.withColumn("h50", (F.col("n") - 1) * F.lit(0.5)).withColumn(
        "h95", (F.col("n") - 1) * F.lit(0.95)
    )

    def at_rank(rank_col):
        # min value whose cumulative count exceeds the 0-based rank ==
        # the value covering that order statistic
        return F.min(F.when(F.col("cum") > rank_col, F.col("value")))

    per = hist.groupBy("event_type").agg(
        at_rank(F.floor("h50")).alias("lo50"),
        at_rank(F.ceil("h50")).alias("hi50"),
        at_rank(F.floor("h95")).alias("lo95"),
        at_rank(F.ceil("h95")).alias("hi95"),
        F.first("h50").alias("h50"),
        F.first("h95").alias("h95"),
        F.first("n").alias("n"),
    )
    interp = lambda lo, hi, h: F.col(lo) + (F.col(h) - F.floor(h)) * (
        F.col(hi) - F.col(lo)
    )
    return per.select(
        "event_type",
        F.round(interp("lo50", "hi50", "h50"), 6).alias("p50"),
        F.round(interp("lo95", "hi95", "h95"), 6).alias("p95"),
        F.col("n").cast("bigint").alias("n"),
    )


SQL_PERCENTILES_HIST = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.95), 6) AS p95,
       COUNT(value) AS n
FROM events WHERE value IS NOT NULL
GROUP BY 1
"""


def q_pivot_type_by_bucket(spark, sf):
    """PIVOT leg: per user-bucket row, one count column per event_type
    (explicit value list, so the plan is one aggregation — no
    two-pass distinct-discovery) plus the bucket's value sum."""
    ev = _t(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy((F.col("user_id") % 10).alias("bucket"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


SQL_PIVOT_TYPE_BY_BUCKET = """
SELECT user_id % 10 AS bucket,
       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
       COUNT(*) FILTER (WHERE event_type = 'error') AS error,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
       COUNT(*) FILTER (WHERE event_type = 'view') AS view
FROM events GROUP BY 1
"""


def q_dedup_decontaminate(spark, sf):
    """Train/test decontamination (the 13-gram eval-scrub rule; k=4
    here so the small sf corpus produces non-vacuous overlap): train =
    documents with doc_id % 97 != 0, test = the rest; which train docs
    share a 4-word shingle with any test doc. One shingle-hash join,
    never doc x doc."""
    from emf_spark.datax import dedup as dd

    d = _t(spark, sf, "documents")
    train = d.filter(F.col("doc_id") % 97 != 0)
    test = d.filter(F.col("doc_id") % 97 == 0)
    # max_test_df=None: the oracle joins ALL shingles, so the engine
    # must too — the (deterministic) boilerplate cap stays the engine
    # default for real use, but a capped run against an uncapped oracle
    # would mismatch the moment a shingle crossed the threshold
    # (review finding)
    return dd.decontaminate(
        train, test, k=4, word_hash=dd.portable_word_hash, max_test_df=None
    ).orderBy("doc_id")


def q_dedup_substring_spans(spark, sf):
    """EXACT substring-level dedup (dedup.duplicated_ngram_spans — the
    Lee et al. 2022 primitive): every 4-gram occurring more than once
    anywhere in the corpus is marked at every occurrence but its
    globally-first one, marks merge into maximal per-doc token spans,
    and the per-doc rollup (span count / duplicated tokens / covered
    extent) is what a filtering pass thresholds on. The oracle
    replicates gram hashing, first-occurrence exemption, and the
    island merge verbatim in SQL."""
    from emf_spark.datax import dedup as dd

    d = _t(spark, sf, "documents")
    return dd.duplication_profile(
        d, n=4, keep_first=True, word_hash=dd.portable_word_hash
    )


def _sql_dedup_substring_spans() -> str:
    B = 1_000_003
    acc = "wh[i]"
    for j in range(1, 4):
        acc = f"(({acc} * {B} + wh[i + {j}]) % {_P31})"
    return f"""
WITH words AS (SELECT doc_id, {_SQL_WORD_HASHES} AS wh
               FROM (SELECT doc_id, string_split({_NORM_TXT}, ' ') AS w
                     FROM documents) t),
grams AS (
  SELECT doc_id, UNNEST(range(0, greatest(len(wh) - 3, 0))) AS pos,
         UNNEST(list_transform(range(1, greatest(len(wh) - 3, 0) + 1),
                i -> {acc})) AS h
  FROM words),
mark AS (SELECT doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
         FROM grams),
dup AS (SELECT doc_id, pos FROM mark WHERE rn > 1),
isl AS (SELECT doc_id, pos,
          CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                    <= 4 THEN 0 ELSE 1 END AS brk
        FROM dup),
sp AS (SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
       FROM isl),
spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 3 AS e
          FROM sp GROUP BY doc_id, span_id)
SELECT doc_id, COUNT(*) AS n_spans,
       CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
       CAST(MIN(s) AS BIGINT) AS first_start,
       CAST(MAX(e) AS BIGINT) AS last_end
FROM spans GROUP BY 1
"""


def _sql_dedup_decontaminate() -> str:
    return f"""
WITH words AS (SELECT doc_id, {_SQL_WORD_HASHES} AS wh
               FROM (SELECT doc_id, string_split({_NORM_TXT}, ' ') AS w
                     FROM documents) t),
sh AS (SELECT doc_id, {_sql_shingle_hashes(4)} AS hs FROM words),
tr AS (SELECT doc_id, UNNEST(hs) AS h FROM sh WHERE doc_id % 97 <> 0),
te AS (SELECT doc_id AS test_id, UNNEST(hs) AS h FROM sh WHERE doc_id % 97 = 0)
SELECT tr.doc_id AS doc_id,
       COUNT(DISTINCT tr.h) AS matching_shingles,
       COUNT(DISTINCT te.test_id) AS test_docs
FROM tr JOIN te ON tr.h = te.h
GROUP BY 1 ORDER BY 1
"""


def q_text_repetition(spark, sf):
    """Gopher-style repetition signals (dup-word/dup-line fraction, top
    bigram fraction) — the quality-filter leg boilerplate detection
    needs; bucketed into coarse grades so the output is a stable
    distribution summary."""
    from emf_spark.datax import dedup as dd
    from emf_spark.datax import textstats

    d = _t(spark, sf, "documents")
    r = textstats.repetition_stats(d, word_hash=dd.portable_word_hash)
    # integer-scaled sums: summing doubles across partitions is
    # order-nondeterministic in the last ulp; per-row round*1e6 -> bigint
    # is exact on both engines
    return r.groupBy(F.floor(F.col("top_bigram_frac") * 10).alias("bi_decile")).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.round(F.col("dup_word_frac") * 1e6).cast("bigint")).alias("sum_dwf_e6"),
        F.sum(F.round(F.col("dup_line_frac") * 1e6).cast("bigint")).alias("sum_dlf_e6"),
    )


def _sql_text_repetition() -> str:
    return f"""
WITH words AS (SELECT doc_id, string_split({_NORM_TXT}, ' ') AS w,
                      string_split(text, chr(10)) AS rawlines
               FROM documents),
base AS (
  SELECT doc_id,
    CASE WHEN len(w) > 0
         THEN ROUND(1 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
         ELSE 0.0 END AS dup_word_frac,
    CASE WHEN len(list_filter(rawlines, l -> trim(l) <> '')) > 0
         THEN ROUND(1 - CAST(len(list_distinct(list_filter(rawlines, l -> trim(l) <> ''))) AS DOUBLE)
                    / len(list_filter(rawlines, l -> trim(l) <> '')), 6)
         ELSE 0.0 END AS dup_line_frac
  FROM words),
wh AS (SELECT doc_id, {_SQL_WORD_HASHES} AS wh FROM words),
bi AS (SELECT doc_id,
         UNNEST(list_transform(range(1, greatest(len(wh) - 1, 0) + 1),
                i -> (wh[i] * 1000003 + wh[i + 1]) % {_P31})) AS h
       FROM wh),
per AS (SELECT doc_id, h, COUNT(*) AS c FROM bi GROUP BY 1, 2),
top AS (SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac
        FROM per GROUP BY 1)
SELECT CAST(FLOOR(COALESCE(top_bigram_frac, 0.0) * 10) AS BIGINT) AS bi_decile,
       COUNT(*) AS docs,
       CAST(SUM(CAST(ROUND(dup_word_frac * 1000000) AS BIGINT)) AS BIGINT) AS sum_dwf_e6,
       CAST(SUM(CAST(ROUND(dup_line_frac * 1000000) AS BIGINT)) AS BIGINT) AS sum_dlf_e6
FROM base LEFT JOIN top USING (doc_id)
GROUP BY 1
"""


def q_text_bm25(spark, sf):
    """Okapi BM25 of every doc against doc 0's vocabulary — the
    retrieval-scoring leg of the text-analysis family. Fully in-plan
    (N/avgdl/df all ride the plan); the per-doc double fold runs in
    sorted-term order on both engines, so the score is deterministic."""
    from emf_spark.datax import textstats

    d = _t(spark, sf, "documents")
    terms = (
        d.filter(F.col("doc_id") == 0)
        .select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"))
        .distinct()
    )
    return textstats.bm25_vs_terms(d, terms).orderBy("doc_id")


SQL_TEXT_BM25 = f"""
WITH w AS (SELECT doc_id, string_split({_NORM_TXT}, ' ') AS wl FROM documents),
words AS (SELECT doc_id, len(wl) AS dl, UNNEST(wl) AS term FROM w),
corpus AS (SELECT COUNT(DISTINCT doc_id) AS n_docs,
                  CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id) AS avgdl
           FROM words),
terms AS (SELECT DISTINCT term FROM words WHERE doc_id = 0),
tf AS (SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
       FROM words WHERE term IN (SELECT term FROM terms) GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT tf.doc_id, tf.term,
    LN(1.0 + (corpus.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
      * (tf.tf * 2.2)
      / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / corpus.avgdl)) AS c
  FROM tf JOIN dfreq USING (term) CROSS JOIN corpus),
scored AS (
  SELECT doc_id,
    SUM(c) OVER (PARTITION BY doc_id ORDER BY term
                 ROWS UNBOUNDED PRECEDING) AS cum,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY term DESC) AS rn
  FROM contrib)
SELECT doc_id, ROUND(cum, 6) AS bm25 FROM scored WHERE rn = 1 ORDER BY doc_id
"""


def q_multimodal_decode(spark, sf):
    """REAL media decode (VERDICT r2 item 4): P6 PPM / WAV-PCM binaries
    are synthesized from documents (mapInPandas), then decode_media
    parses the actual bytes back — header walk, chunk walk, numpy
    raster/sample sums. Integer value sums keep the compare exact; the
    single mean division happens after aggregation on both engines."""
    from emf_spark.datax import multimodal

    d = _t(spark, sf, "documents")
    dec = multimodal.decode_media(multimodal.media_real_from_documents(d))
    return dec.groupBy("format").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.coalesce(F.sum("width"), F.lit(0)).alias("sum_w"),
        F.coalesce(F.sum("height"), F.lit(0)).alias("sum_h"),
        F.coalesce(F.sum("duration_ms"), F.lit(0)).alias("sum_dur"),
        F.sum("n_units").alias("units"),
        F.sum("value_sum").alias("value_total"),
        F.round(F.sum("value_sum") / F.sum("n_units"), 6).alias("mean_value"),
    )


SQL_MULTIMODAL_DECODE = """
WITH m AS (
  SELECT doc_id, n_chars,
    CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'wav' END AS format,
    n_chars % 31 + 2 AS w, n_chars % 17 + 2 AS h,
    n_chars % 500 + 50 AS ns
  FROM documents),
ppm_e AS (SELECT doc_id, w, h, UNNEST(range(0, w*h*3)) AS i
          FROM m WHERE format = 'ppm'),
ppm AS (SELECT doc_id, w AS width, h AS height, w*h*3 AS n_units,
               SUM((doc_id + i) % 256) AS vs
        FROM ppm_e GROUP BY 1, 2, 3, 4),
wav_e AS (SELECT doc_id, ns, UNNEST(range(0, ns)) AS i
          FROM m WHERE format = 'wav'),
wav AS (SELECT doc_id, ns * 1000 // 8000 AS dur, ns AS n_units,
               SUM(ABS((doc_id * 7 + i * 13) % 2001 - 1000)) AS vs
        FROM wav_e GROUP BY 1, 2, 3),
allm AS (
  SELECT 'ppm' AS format, width, height, NULL AS dur, n_units, vs FROM ppm
  UNION ALL
  SELECT 'wav', NULL, NULL, dur, n_units, vs FROM wav)
SELECT format, COUNT(*) AS n_media,
  CAST(COALESCE(SUM(width), 0) AS BIGINT) AS sum_w,
  CAST(COALESCE(SUM(height), 0) AS BIGINT) AS sum_h,
  CAST(COALESCE(SUM(dur), 0) AS BIGINT) AS sum_dur,
  CAST(SUM(n_units) AS BIGINT) AS units,
  CAST(SUM(vs) AS BIGINT) AS value_total,
  ROUND(CAST(SUM(vs) AS DOUBLE) / CAST(SUM(n_units) AS DOUBLE), 6) AS mean_value
FROM allm GROUP BY 1
"""


def q_multimodal_png_decode(spark, sf):
    """REAL compressed-pixel decode (VERDICT r3 item 2): PNGs with
    zlib-compressed IDAT streams and scanlines cycling all five PNG
    filter types are synthesized from documents, then decode_media
    inflates + un-filters them back to raw bytes — stdlib zlib + numpy,
    no imaging libs. The decoded integer value_sum is closed-form in
    (doc_id, n_chars) because un-filtering must reproduce the raw
    raster exactly, so the oracle verifies the full compress ->
    decompress -> un-filter loop, not just plumbing."""
    from emf_spark.datax import multimodal

    # single-file scan feeding CPU-heavy Python (zlib + un-filter):
    # fan out so the mapInPandas stage uses every core, not one
    d = _fan(spark, _t(spark, sf, "documents"))
    dec = multimodal.decode_media(multimodal.media_png_from_documents(d))
    return dec.groupBy("format").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("width").alias("sum_w"),
        F.sum("height").alias("sum_h"),
        F.sum("n_units").alias("units"),
        F.sum("value_sum").alias("value_total"),
        F.round(F.sum("value_sum") / F.sum("n_units"), 6).alias("mean_value"),
    )


SQL_MULTIMODAL_PNG_DECODE = """
WITH m AS (
  SELECT doc_id, n_chars % 24 + 2 AS w, n_chars % 16 + 2 AS h
  FROM documents),
e AS (SELECT doc_id, w, h, UNNEST(range(0, w*h*3)) AS i FROM m),
per AS (SELECT doc_id, w, h, w*h*3 AS n_units,
               SUM((doc_id + i) % 256) AS vs
        FROM e GROUP BY 1, 2, 3, 4)
SELECT 'png' AS format, COUNT(*) AS n_media,
  CAST(SUM(w) AS BIGINT) AS sum_w,
  CAST(SUM(h) AS BIGINT) AS sum_h,
  CAST(SUM(n_units) AS BIGINT) AS units,
  CAST(SUM(vs) AS BIGINT) AS value_total,
  ROUND(CAST(SUM(vs) AS DOUBLE) / CAST(SUM(n_units) AS DOUBLE), 6)
    AS mean_value
FROM per
"""


def q_multimodal_gif_decode(spark, sf):
    """REAL GIF pixel decode: full LZW-compressed image blocks (plus a
    GCE extension the block walker must skip) are synthesized from
    documents, then decode_media reassembles the data sub-blocks,
    variable-width-LZW-decodes them (clear/EOI, KwKwK, width growth —
    the decoder is pinned bit-for-bit against the published GIF89a
    worked example), and expands indices through the grayscale palette.
    The decoded integer value_sum is closed-form in (doc_id, n_chars),
    so the oracle verifies the full dictionary-coding loop, not just
    plumbing."""
    from emf_spark.datax import multimodal

    d = _fan(spark, _t(spark, sf, "documents"))
    dec = multimodal.decode_media(multimodal.media_gif_from_documents(d))
    return dec.groupBy("format").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("width").alias("sum_w"),
        F.sum("height").alias("sum_h"),
        F.sum("n_units").alias("units"),
        F.sum("value_sum").alias("value_total"),
        F.round(F.sum("value_sum") / F.sum("n_units"), 6).alias("mean_value"),
    )


SQL_MULTIMODAL_GIF_DECODE = """
WITH m AS (
  SELECT doc_id, n_chars % 22 + 2 AS w, n_chars % 14 + 2 AS h
  FROM documents),
e AS (SELECT doc_id, w, h, UNNEST(range(0, w*h)) AS i FROM m),
per AS (SELECT doc_id, w, h, w*h*3 AS n_units,
               3 * SUM((doc_id + i) % 256) AS vs
        FROM e GROUP BY 1, 2, 3, 4)
SELECT 'gif' AS format, COUNT(*) AS n_media,
  CAST(SUM(w) AS BIGINT) AS sum_w,
  CAST(SUM(h) AS BIGINT) AS sum_h,
  CAST(SUM(n_units) AS BIGINT) AS units,
  CAST(SUM(vs) AS BIGINT) AS value_total,
  ROUND(CAST(SUM(vs) AS DOUBLE) / CAST(SUM(n_units) AS DOUBLE), 6)
    AS mean_value
FROM per
"""


def q_multimodal_g711_decode(spark, sf):
    """REAL G.711 companded-audio decode: mu-law (odd doc_ids) and
    A-law (even) WAVs synthesized from documents, then decode_media
    expands every 8-bit code through the ITU companding tables to
    16-bit linear samples. The segment/mantissa expansion is
    closed-form in the code byte, so the oracle recomputes the decoded
    |sample| sums exactly in SQL — verifying the table construction,
    not just plumbing. Parity with reference posture: every emitted
    value independently validated (mock-cloudwatch-server/main.go:142)."""
    from emf_spark.datax import multimodal

    d = _fan(spark, _t(spark, sf, "documents"))
    dec = multimodal.decode_media(multimodal.media_g711_from_documents(d))
    return dec.groupBy("format").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("duration_ms").alias("dur_ms"),
        F.sum("n_units").alias("units"),
        F.sum("value_sum").alias("value_total"),
        F.round(F.sum("value_sum") / F.sum("n_units"), 6).alias("mean_value"),
    ).orderBy("format")


SQL_MULTIMODAL_G711_DECODE = """
WITH m AS (
  SELECT doc_id, n_chars % 97 + 16 AS ns,
         CASE WHEN doc_id % 2 = 1 THEN 'ulaw' ELSE 'alaw' END AS fmt
  FROM documents),
e AS (SELECT doc_id, ns, fmt, UNNEST(range(0, ns)) AS i FROM m),
c AS (SELECT doc_id, ns, fmt,
             CAST((doc_id + i) % 256 AS BIGINT) AS code FROM e),
v AS (SELECT doc_id, ns, fmt,
        CASE WHEN fmt = 'ulaw' THEN
          (((255 - code) % 16) * 8 + 132)
            * (1 << (((255 - code) // 16) % 8)) - 132
        WHEN (xor(code, 85) // 16) % 8 = 0 THEN
          (xor(code, 85) % 16) * 16 + 8
        WHEN (xor(code, 85) // 16) % 8 = 1 THEN
          (xor(code, 85) % 16) * 16 + 264
        ELSE
          ((xor(code, 85) % 16) * 16 + 264)
            * (1 << ((xor(code, 85) // 16) % 8 - 1))
        END AS av
      FROM c),
per AS (SELECT doc_id, fmt, ns, ns * 1000 // 8000 AS dur, SUM(av) AS vs
        FROM v GROUP BY 1, 2, 3, 4)
SELECT fmt AS format, COUNT(*) AS n_media,
  CAST(SUM(dur) AS BIGINT) AS dur_ms,
  CAST(SUM(ns) AS BIGINT) AS units,
  CAST(SUM(vs) AS BIGINT) AS value_total,
  ROUND(CAST(SUM(vs) AS DOUBLE) / CAST(SUM(ns) AS DOUBLE), 6)
    AS mean_value
FROM per GROUP BY 1 ORDER BY 1
"""


def q_multimodal_jpeg_decode(spark, sf):
    """REAL baseline-JPEG pixel decode WITH an exact oracle (VERDICT r4
    item 2): full entropy-coded grayscale JPEGs (8x8 DCT, flat
    quantization, canonical-Huffman scan with byte stuffing) are
    synthesized per doc from 32 fixed (w, h, base) classes keyed by
    doc_id % 32, then decode_media Huffman-decodes, dequantizes, and
    IDCTs them back to pixels — pure numpy + stdlib, no imaging libs.
    The DCT round trip is not closed-form in SQL, but the CLASS space
    is bounded: per-class decoded (n_units, value_sum) are precomputed
    by the independent numpy quantization round trip (the same replica
    tests/test_datax.py pins the decoder against, bit-for-bit, incl.
    a hypothesis fuzz sweep) and embedded as a 32-row literal table in
    the oracle. tests/test_datax.py::test_jpeg_class_stats_match_
    independent_reference regenerates the literals from the replica."""
    from emf_spark.datax import multimodal

    d = _fan(spark, _t(spark, sf, "documents"))
    dec = multimodal.decode_media(
        multimodal.media_jpeg_classes_from_documents(d)
    )
    return dec.groupBy("format").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("width").alias("sum_w"),
        F.sum("height").alias("sum_h"),
        F.sum("n_units").alias("units"),
        F.sum("value_sum").alias("value_total"),
        F.round(F.sum("value_sum") / F.sum("n_units"), 6).alias("mean_value"),
    )


# per-class decoded stats (k, w, h, n_units, value_sum): generated ONCE
# by the independent numpy quantization round trip (encode DCT ->
# round/quant -> dequant -> IDCT -> clip, no shared code with the
# entropy codec) and pinned against a live regeneration by
# test_jpeg_class_stats_match_independent_reference. Both the codec and
# that round trip sum each DCT product over k in ascending order with
# every multiply and add rounded on its own (no BLAS): some blocks' DC
# term quantizes to an exact n + 0.5, and a BLAS kernel that fuses or
# reorders the sum flips it by an ulp (4 of these rows change under an
# FMA OpenBLAS kernel), so the fixed order is what makes the table hold
# on every host.
_JPEG_CLASS_STATS = [
    (0, 8, 8, 64, 2048), (1, 15, 13, 195, 26827), (2, 22, 18, 396, 53583),
    (3, 29, 23, 667, 90553), (4, 12, 12, 144, 20682),
    (5, 19, 17, 323, 44799), (6, 26, 22, 572, 68739), (7, 9, 11, 99, 7946),
    (8, 16, 16, 256, 32770), (9, 23, 21, 483, 62219),
    (10, 30, 10, 300, 40248), (11, 13, 15, 195, 22609),
    (12, 20, 20, 400, 45362), (13, 27, 9, 243, 32675),
    (14, 10, 14, 140, 18341), (15, 17, 19, 323, 41772),
    (16, 24, 8, 192, 25588), (17, 31, 13, 403, 50973),
    (18, 14, 18, 252, 31675), (19, 21, 23, 483, 60820),
    (20, 28, 12, 336, 40020), (21, 11, 17, 187, 28834),
    (22, 18, 22, 396, 56475), (23, 25, 11, 275, 36217),
    (24, 8, 16, 128, 13312), (25, 15, 21, 315, 34325),
    (26, 22, 10, 220, 31637), (27, 29, 15, 435, 61826),
    (28, 12, 20, 240, 30931), (29, 19, 9, 171, 22416),
    (30, 26, 14, 364, 45626), (31, 9, 19, 171, 15316),
]

SQL_MULTIMODAL_JPEG_DECODE = """
WITH cls(k, w, h, n_units, vs) AS (VALUES
  {rows}),
d AS (SELECT doc_id % 32 AS k FROM documents)
SELECT 'jpeg' AS format, COUNT(*) AS n_media,
  CAST(SUM(w) AS BIGINT) AS sum_w,
  CAST(SUM(h) AS BIGINT) AS sum_h,
  CAST(SUM(n_units) AS BIGINT) AS units,
  CAST(SUM(vs) AS BIGINT) AS value_total,
  ROUND(CAST(SUM(vs) AS DOUBLE) / CAST(SUM(n_units) AS DOUBLE), 6)
    AS mean_value
FROM d JOIN cls USING (k)
""".format(
    rows=",\n  ".join(
        f"({k}, {w}, {h}, {n}, {vs})" for k, w, h, n, vs in _JPEG_CLASS_STATS
    )
)


def q_multimodal_meta(spark, sf):
    """Compressed-container dimension probe: real PNG/GIF/JPEG byte
    streams synthesized from documents (the JPEG walks APP0+DQT to the
    SOF), probed header-only by decode_media; per-format dimension
    aggregates are closed-form in (doc_id, n_chars), so the oracle
    verifies the synth -> bytes -> marker-walk loop exactly."""
    from emf_spark.datax import multimodal

    d = _t(spark, sf, "documents")
    dec = multimodal.decode_media(multimodal.media_compressed_from_documents(d))
    return dec.groupBy("format").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("width").alias("sum_w"),
        F.sum("height").alias("sum_h"),
        F.sum(F.col("width").cast("bigint") * F.col("height")).alias("sum_px"),
    )


SQL_MULTIMODAL_META = """
WITH m AS (
  SELECT CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END AS format,
         CASE doc_id % 3 WHEN 0 THEN n_chars % 800 + 16
                         WHEN 1 THEN n_chars % 500 + 10
                         ELSE n_chars % 1920 + 32 END AS w,
         CASE doc_id % 3 WHEN 0 THEN n_chars % 600 + 16
                         WHEN 1 THEN n_chars % 300 + 10
                         ELSE n_chars % 1080 + 32 END AS h
  FROM documents)
SELECT format, COUNT(*) AS n_media,
       CAST(SUM(w) AS BIGINT) AS sum_w,
       CAST(SUM(h) AS BIGINT) AS sum_h,
       CAST(SUM(w * h) AS BIGINT) AS sum_px
FROM m GROUP BY 1
"""


def q_multimodal_resize(spark, sf):
    """REAL raster resize (resize_media): P6 PPM images synthesized
    from documents are raster-recovered, resampled to 5x4 with the
    exact integer half-pixel-center nearest mapping
    sx = ((2x+1)*sw) // (2*tw), re-encoded as P6, then fed BACK through
    decode_media — so the aggregate checks decode -> resample ->
    re-encode -> re-decode end to end. The resized value_sum is
    closed-form in (doc_id, n_chars) because the mapping is pure
    integer arithmetic the oracle reproduces verbatim."""
    from emf_spark.datax import multimodal

    d = _fan(spark, _t(spark, sf, "documents"))
    media = multimodal.media_real_from_documents(d).where(
        F.col("kind") == "image"
    )
    rs = multimodal.resize_media(media, 5, 4, method="nearest")
    dec = multimodal.decode_media(rs)
    return dec.groupBy("format").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("width").alias("sum_w"),
        F.sum("height").alias("sum_h"),
        F.sum("n_units").alias("units"),
        F.sum("value_sum").alias("value_total"),
        F.round(F.sum("value_sum") / F.sum("n_units"), 6).alias("mean_value"),
    )


SQL_MULTIMODAL_RESIZE = """
WITH m AS (
  SELECT doc_id, n_chars % 31 + 2 AS sw, n_chars % 17 + 2 AS sh
  FROM documents WHERE doc_id % 2 = 0),
e AS (SELECT doc_id, sw, sh, UNNEST(range(0, 60)) AS t FROM m),
px AS (SELECT doc_id, sw,
         ((2 * (t // 15) + 1) * sh) // 8 AS sy,
         ((2 * ((t % 15) // 3) + 1) * sw) // 10 AS sx,
         t % 3 AS c
       FROM e),
per AS (SELECT doc_id,
          SUM((doc_id + ((sy * sw + sx) * 3 + c)) % 256) AS vs
        FROM px GROUP BY 1)
SELECT 'ppm' AS format, COUNT(*) AS n_media,
  CAST(COUNT(*) * 5 AS BIGINT) AS sum_w,
  CAST(COUNT(*) * 4 AS BIGINT) AS sum_h,
  CAST(COUNT(*) * 60 AS BIGINT) AS units,
  CAST(SUM(vs) AS BIGINT) AS value_total,
  ROUND(CAST(SUM(vs) AS DOUBLE) / CAST(COUNT(*) * 60 AS DOUBLE), 6)
    AS mean_value
FROM per
"""


def q_multimodal_frame_sample(spark, sf):
    """Frame sampling over REAL animated GIFs (sample_frames): every
    document becomes an n_chars%4+2-frame LZW-compressed animation;
    the sampler decodes the stream and keeps frames where
    frame_idx % 2 == 0, one output row per kept frame (mapInPandas —
    the row count changes). Per-frame rendered-RGB sums are
    closed-form in (doc_id, n_chars), so the per-frame_idx aggregate
    pins the multi-frame LZW walk, the GCE/app-extension skips, and
    the stride policy exactly."""
    from emf_spark.datax import multimodal

    d = _fan(spark, _t(spark, sf, "documents"))
    fr = multimodal.sample_frames(
        multimodal.media_gif_anim_from_documents(d), stride=2
    )
    return fr.groupBy("frame_idx").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_frames").alias("frames_total"),
        F.sum("n_units").alias("units"),
        F.sum("value_sum").alias("value_total"),
    )


SQL_MULTIMODAL_FRAME_SAMPLE = """
WITH m AS (
  SELECT doc_id, n_chars % 13 + 2 AS w, n_chars % 9 + 2 AS h,
         n_chars % 4 + 2 AS nf
  FROM documents),
f AS (SELECT doc_id, w, h, nf, UNNEST(range(0, nf)) AS fi FROM m),
sf AS (SELECT * FROM f WHERE fi % 2 = 0),
e AS (SELECT doc_id, w, h, nf, fi, UNNEST(range(0, w * h)) AS i FROM sf),
per AS (SELECT doc_id, fi, nf, 3 * w * h AS units,
          3 * SUM((doc_id + 7 * fi + i) % 256) AS vs
        FROM e GROUP BY 1, 2, 3, 4)
SELECT CAST(fi AS INT) AS frame_idx, COUNT(*) AS n_media,
  CAST(SUM(nf) AS BIGINT) AS frames_total,
  CAST(SUM(units) AS BIGINT) AS units,
  CAST(SUM(vs) AS BIGINT) AS value_total
FROM per GROUP BY 1
"""


def q_data_balanced_sample(spark, sf):
    """Class-balanced downsample (sampling.balanced_sample): at most 12
    docs per source, picked by the portable hash fraction — the
    head-class-capping primitive, reproducible row-for-row."""
    from emf_spark.datax import sampling

    d = _t(spark, sf, "documents")
    return sampling.balanced_sample(d, "source", 12, salt="bal").select(
        "doc_id", "source"
    ).orderBy("doc_id")


def q_data_split(spark, sf):
    """Deterministic train/val/test hash split + per-language stratified
    keep-fractions (datax.sampling) — reproducible row-for-row by an
    external engine (portable md5 hash, no RNG)."""
    from emf_spark.datax import sampling

    d = _t(spark, sf, "documents")
    split = sampling.hash_split(d, val_frac=0.1, test_frac=0.1)
    kept = sampling.stratified_fractions(split, {"es": 0.5, "de": 0.25})
    return kept.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_chars").alias("chars"),
    )


def q_data_temperature_mix(spark, sf):
    """Temperature-weighted data mixing (sampling.temperature_mix):
    resample documents so language s contributes ~ 200 * sqrt(c_s) /
    sum(sqrt(c)) rows — the standard alpha=0.5 multilingual
    re-balancing rule (up-weights tail languages vs natural
    proportions). alpha=0.5 keeps the weight math inside IEEE-exact
    sqrt, so the kept ROW SET is bit-reproducible by the oracle; the
    fact table is never shuffled (tiny count agg + broadcast fraction
    join + hash gate)."""
    from emf_spark.datax import sampling

    d = _t(spark, sf, "documents")
    return sampling.temperature_mix(
        d, 200, class_col="lang", alpha=0.5, salt="mix"
    ).select("doc_id", "lang")


SQL_DATA_TEMPERATURE_MIX = """
WITH c AS (SELECT lang AS cls, CAST(COUNT(*) AS DOUBLE) AS cnt
           FROM documents GROUP BY 1),
f AS (SELECT cls,
             least(1.0, 200.0 * sqrt(cnt) / SUM(sqrt(cnt)) OVER () / cnt) AS f
      FROM c)
SELECT d.doc_id, d.lang
FROM documents d JOIN f ON d.lang IS NOT DISTINCT FROM f.cls
WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'mix'), 1, 14)
           AS BIGINT) / 72057594037927936.0 < f.f
"""


def q_data_weighted_sample(spark, sf):
    """Deterministic weight-proportional sample without replacement
    (sampling.priority_sample): the 100 events with the largest
    priority value/u, u = the row's portable hash fraction
    (Duffield/Lund/Thorup priority sampling). Executes as
    TakeOrderedAndProject — per-partition top-k + k-row merge, never a
    global sort shuffle; one IEEE-portable double division makes the
    selected set oracle-reproducible."""
    from emf_spark.datax import sampling

    ev = _t(spark, sf, "events")
    return sampling.priority_sample(
        ev, 100, weight_col="value", id_col="event_id", salt="prio"
    ).select("event_id", "value", "priority")


SQL_DATA_WEIGHTED_SAMPLE = """
WITH p AS (
  SELECT event_id, value,
         (value / CAST(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
                 || 'prio'), 1, 14) AS BIGINT) + 1 AS DOUBLE))
           * 72057594037927936.0 AS priority
  FROM events WHERE value IS NOT NULL AND value > 0)
SELECT event_id, value, priority
FROM p ORDER BY priority DESC, event_id LIMIT 100
"""


_H56_FRAC = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{salt}'), 1, 14) AS BIGINT)"
    " / 72057594037927936.0"
)

SQL_DATA_SPLIT = f"""
WITH s AS (
  SELECT *, {_H56_FRAC.format(salt='split')} AS sf_,
         {_H56_FRAC.format(salt='strat')} AS kf_
  FROM documents),
assigned AS (
  SELECT lang, n_chars,
    CASE WHEN sf_ < 0.1 THEN 'test' WHEN sf_ < 0.2 THEN 'val'
         ELSE 'train' END AS split,
    kf_
  FROM s)
SELECT split, lang, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
FROM assigned
WHERE kf_ < (CASE WHEN lang = 'es' THEN 0.5 WHEN lang = 'de' THEN 0.25
                  ELSE 1.0 END)
GROUP BY 1, 2
"""


SQL_DATA_BALANCED_SAMPLE = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY {_H56_FRAC.format(salt='bal')} ASC, doc_id ASC) AS rk
  FROM documents) t
WHERE rk <= 12 ORDER BY doc_id
"""


def q_pack_sequences(spark, sf):
    """Token-budget sequence packing (datax.sampling.pack_sequences):
    greedy bins per language honoring a 4,000-char budget — the
    LLM-context packing analog of the PutLogEvents batch plan, same
    provably-bounded integer unit-cost running total."""
    from emf_spark.datax import sampling

    d = _t(spark, sf, "documents")
    packed = sampling.pack_sequences(
        d,
        max_tokens=4000,
        tokens_col="n_chars",
        order_cols=["doc_id"],
        group_col="lang",
        max_seq_tokens=2000,
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("seqs"),
        F.sum("n_chars").alias("pack_chars"),
    )


# unit = max(n_chars * 2^20, 2000); pack = cum_before div (2000 * 2^20)
SQL_PACK_SEQUENCES = """
WITH sized AS (
  SELECT lang, doc_id, n_chars,
         CASE WHEN n_chars > 2000 THEN 0
              ELSE GREATEST(n_chars * 1048576, 2000) END AS unit,
         n_chars > 2000 AS oversize
  FROM documents),
planned AS (
  SELECT lang, n_chars, oversize,
    CAST(SUM(unit) OVER (PARTITION BY lang ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) - unit AS BIGINT) AS cum_before
  FROM sized)
SELECT lang,
       CAST(CASE WHEN oversize THEN -1
                 ELSE cum_before // 2097152000 END AS INTEGER) AS pack_id,
       COUNT(*) AS seqs, CAST(SUM(n_chars) AS BIGINT) AS pack_chars
FROM planned GROUP BY 1, 2
"""


def q_ann_lsh_topk(spark, sf):
    """RP-LSH bucketed ANN top-k (datax.similarity); the hyperplane
    literals are generated into the oracle SQL. The corpus is staged
    parquet-partitioned by bucket (materialize_buckets) once per sf
    dir, so the probe is a PartitionFilters-pruned scan of the
    hamming-ball partitions — the 100 TB query-service shape — with a
    candidate set identical to the on-the-fly path (same planes/seed),
    so the oracle is unchanged."""
    from emf_spark.datax import similarity

    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    staged = _staged_cache(
        spark, sf, "lshbuckets", "embeddings",
        build=None,
        writer=lambda path: similarity.materialize_buckets(
            e.filter(F.col("vec_id") != 0), path, n_planes=6
        ),
    )
    # staged corpus is pre-filtered, but exclude_ids guards the result
    # even if the cache were ever rebuilt unfiltered (lsh_topk ignores
    # filters on df in bucketed mode — see its docstring)
    return similarity.lsh_topk(
        e.filter(F.col("vec_id") != 0),
        qvec,
        k=10,
        n_planes=6,
        probe_hamming=2,
        bucketed_path=str(staged),
        exclude_ids=[0],
    )


def _sql_bucket_expr(planes, vec_expr: str) -> str:
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {lit}) > 0"
            f" THEN {1 << i} ELSE 0 END)"
        )
    return "(" + "\n   + ".join(terms) + ")"


_SQL_COSINE_TAIL = """
flat AS (SELECT vec_id,
           SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
           SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx
         FROM (SELECT vec_id, UNNEST(embedding) AS x,
                      UNNEST((SELECT qe FROM q)) AS y FROM cand) t
         GROUP BY vec_id),
qn AS (SELECT SQRT(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS qnorm
       FROM (SELECT UNNEST(qe) AS y FROM q) t)
SELECT vec_id AS id, ROUND(dot / (SQRT(nx) * (SELECT qnorm FROM qn)), 6) AS cosine
FROM flat ORDER BY cosine DESC, id LIMIT 10
"""


def _sql_ann_lsh_topk() -> str:
    from emf_spark.datax.similarity import _hyperplanes

    planes = _hyperplanes(64, 6, 42)
    row_bucket = _sql_bucket_expr(planes, "CAST(embedding AS DOUBLE[])")
    q_bucket = _sql_bucket_expr(planes, "CAST(qe AS DOUBLE[])")
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
b AS (SELECT vec_id, embedding, CAST({row_bucket} AS BIGINT) AS bucket
      FROM embeddings WHERE vec_id <> 0),
qb AS (SELECT CAST({q_bucket} AS BIGINT) AS bucket FROM q),
cand AS (SELECT b.vec_id, b.embedding FROM b, qb
         WHERE bit_count(xor(b.bucket, qb.bucket)) <= 2),
{_SQL_COSINE_TAIL}"""


def q_dedup_embedding(spark, sf):
    """Embedding-cosine near-dup pairs: multiprobe RP-LSH bucket join
    (hamming <= 1, part of the operator definition) + exact cosine >=
    0.35 — the embedding leg of the dedup family (threshold sits at the
    ~p97 of this corpus's candidate-pair cosines; 0.95 was vacuous)."""
    from emf_spark.datax import similarity

    e = _t(spark, sf, "embeddings")
    return similarity.embedding_near_duplicates(
        e, dim=64, threshold=0.35, n_planes=6, probe_hamming=1
    ).orderBy("id_a", "id_b")


def _sql_dedup_embedding() -> str:
    from emf_spark.datax.similarity import _hyperplanes

    planes = _hyperplanes(64, 6, 42)
    bucket = _sql_bucket_expr(planes, "CAST(embedding AS DOUBLE[])")
    return f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         CAST({bucket} AS BIGINT) AS bucket
  FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         ROUND(list_dot_product(a.v, c.v)
               / (SQRT(list_dot_product(a.v, a.v))
                  * SQRT(list_dot_product(c.v, c.v))), 6) AS cosine
  FROM b a JOIN b c
    ON a.vec_id < c.vec_id AND bit_count(xor(a.bucket, c.bucket)) <= 1)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.35
"""


def q_ann_ivf_topk(spark, sf):
    """IVF coarse-quantized ANN top-k; centroids = 8 lowest-id vectors,
    so the oracle reproduces assignment + probe selection in SQL."""
    from emf_spark.datax import similarity

    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    cents = similarity.deterministic_centroids(e, r=8)
    return similarity.ivf_topk(
        e.filter(F.col("vec_id") != 0), qvec, cents, k=10, n_probe=3
    )


SQL_ANN_IVF_TOPK = f"""
WITH cents AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
         CAST(embedding AS DOUBLE[]) AS ce
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
q AS (SELECT embedding AS qe, CAST(embedding AS DOUBLE[]) AS qed
      FROM embeddings WHERE vec_id = 0),
qsim AS (SELECT cid,
           list_dot_product(ce, (SELECT qed FROM q))
             / (SQRT(list_dot_product(ce, ce))
                * SQRT((SELECT list_dot_product(qed, qed) FROM q))) AS s
         FROM cents),
probe AS (SELECT cid FROM qsim ORDER BY s DESC, cid LIMIT 3),
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), c.ce)
           / (SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[])))
              * SQRT(list_dot_product(c.ce, c.ce))) AS s
  FROM embeddings e CROSS JOIN cents c WHERE e.vec_id <> 0),
best AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT vec_id, embedding, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM assign) t WHERE rn = 1),
cand AS (SELECT vec_id, embedding FROM best
         WHERE cid IN (SELECT cid FROM probe)),
{_SQL_COSINE_TAIL}"""


def q_ann_cosine_topk(spark, sf):
    """Brute-force cosine top-k vs the vec_id=0 embedding — the exact
    baseline for ANN (scale path: LSH bucketing, datax.similarity)."""
    e = _t(spark, sf, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), qlit, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nx = F.aggregate(
        F.transform(F.col("embedding"), lambda a: a.cast("double") * a.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    qnorm = float(sum(float(x) * float(x) for x in qvec)) ** 0.5
    sim = F.round(dot / (F.sqrt(nx) * F.lit(qnorm)), 6)
    return (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", sim.alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


SQL_ANN_COSINE_TOPK = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
flat AS (
  SELECT vec_id,
         SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
         SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
         SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
  FROM (SELECT vec_id, UNNEST(embedding) AS x, UNNEST((SELECT qe FROM q)) AS y
        FROM embeddings) t
  GROUP BY vec_id)
SELECT vec_id, ROUND(dot / (SQRT(nx) * SQRT(ny)), 6) AS cosine
FROM flat WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT 10
"""


def q_text_pii_scrub(spark, sf):
    """PII redaction (datax/pii.py): documents get deterministic PII
    injected (email always; ip/ssn/phone/card on doc_id residues), the
    scrubber redacts in pattern order, and the per-source aggregate
    pins counts, redacted lengths, and the min/max redacted strings —
    so a single mis-replaced character fails the hash."""
    from emf_spark.datax.pii import pii_scrub

    d = _t(spark, sf, "documents")
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    synth = F.concat(
        F.substring("text", 1, 40),
        F.lit(" mail u"), s(i), F.lit("@ex"), s(i % 7), F.lit(".com"),
        F.when(
            i % 3 == 0,
            F.concat(F.lit(" from 10."), s(i % 256), F.lit(".0."), s((i * 7) % 256)),
        ).otherwise(F.lit("")),
        F.when(
            i % 5 == 0,
            F.concat(F.lit(" ssn 123-45-"), F.lpad(s(i % 10000), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            i % 4 == 0,
            F.concat(F.lit(" call (555) 867-"), F.lpad(s(i % 10000), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            i % 11 == 0,
            F.concat(F.lit(" card 4000 1234 5678 "), F.lpad(s(i % 10000), 4, "0")),
        ).otherwise(F.lit("")),
    )
    scrubbed = pii_scrub(d.select("source", synth.alias("t")), text_col="t")
    return scrubbed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").alias("emails"),
        F.sum("n_ipv4").alias("ips"),
        F.sum("n_ssn").alias("ssns"),
        F.sum("n_phone").alias("phones"),
        F.sum("n_card").alias("cards"),
        F.sum(F.length("text_redacted")).alias("red_len"),
        F.min("text_redacted").alias("min_red"),
        F.max("text_redacted").alias("max_red"),
    )


def _sql_text_pii_scrub() -> str:
    from emf_spark.datax.pii import sql_scrub_exprs

    base = (
        "substr(text, 1, 40) || ' mail u' || CAST(doc_id AS VARCHAR)"
        " || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.com'"
        " || CASE WHEN doc_id % 3 = 0 THEN ' from 10.' ||"
        " CAST(doc_id % 256 AS VARCHAR) || '.0.' ||"
        " CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-' ||"
        " lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
        " || CASE WHEN doc_id % 4 = 0 THEN ' call (555) 867-' ||"
        " lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN ' card 4000 1234 5678 ' ||"
        " lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    )
    red, counts = sql_scrub_exprs("t")
    return f"""
WITH synth AS (SELECT source, {base} AS t FROM documents),
scrubbed AS (
  SELECT source,
         {counts['email']} AS n_email, {counts['ipv4']} AS n_ipv4,
         {counts['ssn']} AS n_ssn, {counts['phone']} AS n_phone,
         {counts['card']} AS n_card, {red} AS red
  FROM synth)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_email) AS BIGINT) AS emails,
       CAST(SUM(n_ipv4) AS BIGINT) AS ips,
       CAST(SUM(n_ssn) AS BIGINT) AS ssns,
       CAST(SUM(n_phone) AS BIGINT) AS phones,
       CAST(SUM(n_card) AS BIGINT) AS cards,
       CAST(SUM(length(red)) AS BIGINT) AS red_len,
       MIN(red) AS min_red, MAX(red) AS max_red
FROM scrubbed GROUP BY source
"""


def q_text_url_stats(spark, sf):
    """URL/domain extraction (textstats.url_domain_stats): documents get
    1-2 deterministic URLs appended; per-domain url + distinct-doc
    counts."""
    from emf_spark.datax.textstats import url_domain_stats

    d = _t(spark, sf, "documents")
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    synth = F.concat(
        F.lit("see https://ex"), s(i % 5), F.lit(".org/p/"), s(i),
        F.when(
            i % 3 == 0,
            F.concat(F.lit(" http://cdn.ex"), s(i % 3), F.lit(".net/a?q="), s(i % 7)),
        ).otherwise(F.lit("")),
    )
    return url_domain_stats(
        d.select(i.alias("doc_id"), synth.alias("t")), text_col="t"
    )


SQL_TEXT_URL_STATS = r"""
WITH synth AS (
  SELECT doc_id,
         'see https://ex' || CAST(doc_id % 5 AS VARCHAR) || '.org/p/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0 THEN ' http://cdn.ex' || CAST(doc_id % 3 AS VARCHAR)
                 || '.net/a?q=' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END AS t
  FROM documents),
urls AS (
  SELECT doc_id, unnest(regexp_extract_all(t, 'https?://[^\s]+')) AS url FROM synth)
SELECT regexp_extract(url, 'https?://([^/\s:]+)', 1) AS domain,
       COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs
FROM urls GROUP BY 1
"""


def q_text_vocab_topk(spark, sf):
    """Vocabulary build (textstats.vocab_topk): corpus-wide top-25
    tokens with deterministic (cnt desc, token asc) ranking — the
    tokenizer-vocab primitive of a training-data pipeline."""
    from emf_spark.datax.textstats import vocab_topk

    return vocab_topk(_t(spark, sf, "documents"), text_col="text", k=25)


SQL_TEXT_VOCAB_TOPK = """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS token
  FROM documents),
c AS (SELECT token, COUNT(*) AS cnt FROM toks WHERE token <> '' GROUP BY 1)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS INT) AS rank,
       token, cnt
FROM c ORDER BY cnt DESC, token ASC LIMIT 25
"""


def q_text_inverted_index(spark, sf):
    """Bounded inverted index (textstats.inverted_index): per-token
    document frequency, total term frequency, and a posting string of
    the first 10 docs by id ('doc:tf ...') for tokens appearing in >= 5
    docs — the retrieval/RAG index-build primitive. Posting lists are
    capped BEFORE collect_list (row_number over the tf aggregate), so a
    stopword can never materialize a corpus-sized array; df/total_tf
    come off the (token, doc) aggregate algebraically."""
    from emf_spark.datax.textstats import inverted_index

    d = _t(spark, sf, "documents")
    return inverted_index(d, max_postings=10, min_df=5)


SQL_TEXT_INVERTED_INDEX = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS token
  FROM documents),
tf AS (SELECT token, doc_id, COUNT(*) AS tf
       FROM toks WHERE token <> '' GROUP BY 1, 2),
stats AS (SELECT token, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf
          FROM tf GROUP BY 1),
ranked AS (SELECT token, doc_id, tf,
                  ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rn
           FROM tf),
post AS (SELECT token,
                string_agg(doc_id || ':' || tf, ' ' ORDER BY doc_id)
                  AS postings
         FROM ranked WHERE rn <= 10 GROUP BY 1)
SELECT s.token, s.df, s.total_tf, p.postings
FROM stats s JOIN post p USING (token)
WHERE s.df >= 5
"""


# Ordered BPE merge list pinned from bpe_train(n_merges=12) over the
# sf0.01 documents corpus — pinned (rather than re-trained in-query) so
# the oracle replicates ENCODE exactly; training itself is
# parity-tested in tests/test_datax.py against a sequential reference.
BPE_MERGES = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"),
]


def q_text_chunking(spark, sf):
    """RAG/context-window chunking (textstats.chunk_documents): 40-token
    sliding windows every 30 tokens, tails under 5 tokens dropped — a
    pure map (split -> start sequence -> slice/join -> one explode),
    no UDF and no shuffle; at 100 TB the explode multiplies rows inside
    the scan stage. The oracle replays the tokenization, stride
    lattice, slicing, and re-join verbatim."""
    from emf_spark.datax.textstats import chunk_documents

    d = _t(spark, sf, "documents")
    return chunk_documents(d, chunk_tokens=40, stride=30, min_tokens=5)


SQL_TEXT_CHUNKING = """
WITH w AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS ws,
         length(trim(text)) > 0 AS has_text
  FROM documents WHERE text IS NOT NULL),
c AS (
  SELECT doc_id,
         UNNEST(range(0, CAST(ceil(len(ws) / 30.0) AS BIGINT))) AS chunk_id,
         len(ws) AS n
  FROM w WHERE has_text AND len(ws) >= 1),
s AS (
  SELECT c.doc_id, CAST(c.chunk_id AS INT) AS chunk_id,
         CAST(c.chunk_id * 30 AS INT) AS start_tok,
         array_to_string(
           list_slice(w.ws, c.chunk_id * 30 + 1, c.chunk_id * 30 + 40),
           ' ') AS chunk,
         CAST(least(c.n - c.chunk_id * 30, 40) AS INT) AS n_tokens
  FROM c JOIN w ON c.doc_id = w.doc_id)
SELECT doc_id, chunk_id, start_tok, chunk, n_tokens
FROM s WHERE n_tokens >= 5
"""


def q_text_bpe_encode(spark, sf):
    """BPE ENCODE as pure Catalyst string rewriting
    (textstats.bpe_encode_corpus): the corpus token-frequency table
    under the pinned 12-rule merge list. Each rule is one global
    non-overlapping regexp_replace over double-space-joined symbols —
    the classic single-pass-per-rule BPE scan, identical under Java
    regex and RE2, so the oracle replays the very same rewrite chain.
    Encoding runs once per DISTINCT word (vocab cardinality), never per
    occurrence; top-40 by (cnt desc, token) via limit-then-rank
    (TakeOrderedAndProject + a 40-row window — token is unique, the
    ordering is total, so this is exactly the rank<=40 cut without any
    single task sorting the full vocab frame)."""
    from pyspark.sql.window import Window

    from emf_spark.datax.textstats import bpe_encode_corpus

    d = _t(spark, sf, "documents")
    freq = bpe_encode_corpus(d, BPE_MERGES)
    order = [F.col("cnt").desc(), F.col("token").asc()]
    w = Window.orderBy(*order)
    return (
        freq.orderBy(*order)
        .limit(40)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", "token", "cnt")
    )


def _sql_text_bpe_encode() -> str:
    expr = "'  ' || regexp_replace(word, '(.)', '\\1  ', 'g')"
    for a, b in BPE_MERGES:
        expr = f"regexp_replace({expr}, ' {a}  {b} ', ' {a}{b} ', 'g')"
    return f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS word
  FROM documents),
vocab AS (SELECT word, COUNT(*) AS wcnt
          FROM toks WHERE word <> '' GROUP BY 1),
enc AS (SELECT unnest(string_split(trim({expr}), '  ')) AS token, wcnt
        FROM vocab),
freq AS (SELECT token, CAST(SUM(wcnt) AS BIGINT) AS cnt
         FROM enc GROUP BY 1)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS INT) AS rank,
       token, cnt
FROM freq ORDER BY cnt DESC, token ASC LIMIT 40
"""


def q_ann_kmeans_clusters(spark, sf):
    """Exact integer-lattice k-means (similarity.kmeans_exact): 2 Lloyd
    rounds over the embeddings on round(x*1e6) bigint coordinates —
    assignments, centroid means (truncate-div), and inertia all in
    exact int64 arithmetic, so the ORACLE REPLAYS THE FULL ITERATIVE
    ALGORITHM (unrolled cross-join argmin + per-dimension integer mean
    per round) and every (vec_id, cluster, dist) row must agree
    bit-for-bit. Per round: one distributed pass, k fused HOF distance
    expressions per row, map-side-combinable centroid sums; k rows to
    the driver."""
    from emf_spark.datax.similarity import kmeans_exact

    e = _t(spark, sf, "embeddings")
    return kmeans_exact(e, k=8, iters=2)


def _sql_kmeans() -> str:
    parts = _sql_kmeans_parts(8, 2, 64, 10**6, "embeddings")
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        "SELECT vec_id, CAST(cluster AS INT) AS cluster, dist FROM a2"
    )


def _sql_kmeans_parts(k: int, iters: int, dim: int, scale: int,
                      source: str) -> list[str]:
    """CTE chain replaying kmeans_exact over ``source(vec_id,
    embedding)``; the final assignment relation is ``a{iters}``."""
    rng = f"range(1, {dim + 1})"
    parts = [f"""sv AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {scale}, 0) AS BIGINT)) AS sv
  FROM {source}),
c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         sv AS cl
  FROM (SELECT vec_id, sv FROM sv ORDER BY vec_id LIMIT {k}))"""]
    for n in range(iters + 1):
        parts.append(f"""a{n} AS (
  SELECT vec_id, sv, cluster, dist FROM (
    SELECT vec_id, sv, cluster, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist, cluster) AS rn
    FROM (SELECT s.vec_id, s.sv, c.cluster,
                 CAST(list_sum(list_transform({rng},
                      i -> (s.sv[i] - c.cl[i]) * (s.sv[i] - c.cl[i])))
                      AS BIGINT) AS dist
          FROM sv s, c{n} c)) WHERE rn = 1)""")
        if n == iters:
            break
        parts.append(f"""u{n} AS (
  SELECT cluster, UNNEST({rng}) AS i,
         UNNEST(list_transform({rng}, j -> sv[j])) AS v
  FROM a{n}),
g{n} AS (SELECT cluster, i, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS n
         FROM u{n} GROUP BY 1, 2),
cr{n + 1} AS (
  SELECT cluster,
         list(CASE WHEN s < 0 THEN -(CAST(abs(s) AS BIGINT) // n)
                   ELSE s // n END ORDER BY i) AS cl
  FROM g{n} GROUP BY 1),
c{n + 1} AS (
  SELECT * FROM cr{n + 1}
  UNION ALL
  SELECT cluster, cl FROM c{n}
  WHERE cluster NOT IN (SELECT cluster FROM cr{n + 1}))""")
    return parts


def q_ann_pq_topk(spark, sf):
    """Product-quantization ANN (similarity.pq_train/pq_topk): 4
    subspaces x 4 centroids trained with 2 exact integer-lattice Lloyd
    rounds EACH — all subspaces in the same distributed pass per round
    (explode to (subspace, subvector), chained-CASE argmin, one
    map-side-combinable aggregate) — then an asymmetric-distance scan
    against vec_id 0's vector where the per-subspace query->centroid
    distances are a driver-built literal LUT (the scan is m_sub array
    lookups + adds per row, no distance math). The ORACLE REPLAYS THE
    WHOLE THING: 4 unrolled subspace trainings, encode, LUT, top-50 —
    every adist BIGINT must agree bit-for-bit. The Faiss IVF-PQ
    layout's PQ half, on a provable lattice."""
    from emf_spark.datax.similarity import _scaled_vec, pq_topk, pq_train

    e = _t(spark, sf, "embeddings")
    q_scaled = [
        int(x)
        for x in e.filter(F.col("vec_id") == 0)
        .select(_scaled_vec(F.col("embedding"), 10**6).alias("q"))
        .first()["q"]
    ]
    books = pq_train(e, m_sub=4, k=4, iters=2)
    return pq_topk(e, books, q_scaled, topk=50)


def _sql_pq() -> str:
    """4 subspaces of the 64-d embeddings, 4 centroids each after 2
    Lloyd rounds; the top 50 by ADC distance to vector 0."""
    d = 64 // 4
    rng = f"range(1, {d + 1})"
    parts = ["""sv AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS sv
  FROM embeddings)"""]
    for s in range(4):
        a, b = s * d + 1, (s + 1) * d
        parts.append(f"""x{s} AS (SELECT vec_id, sv[{a}:{b}] AS x FROM sv),
c{s}_0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
         x AS cl
  FROM (SELECT vec_id, x FROM x{s} ORDER BY vec_id LIMIT 4))""")
        for n in range(3):
            parts.append(f"""a{s}_{n} AS (
  SELECT vec_id, x, cluster FROM (
    SELECT vec_id, x, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist, cluster) AS rn
    FROM (SELECT v.vec_id, v.x, c.cluster,
                 CAST(list_sum(list_transform({rng},
                      i -> (v.x[i] - c.cl[i]) * (v.x[i] - c.cl[i])))
                      AS BIGINT) AS dist
          FROM x{s} v, c{s}_{n} c)) WHERE rn = 1)""")
            if n == 2:
                break
            parts.append(f"""u{s}_{n} AS (
  SELECT cluster, UNNEST({rng}) AS i,
         UNNEST(list_transform({rng}, j -> x[j])) AS v
  FROM a{s}_{n}),
g{s}_{n} AS (SELECT cluster, i, CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS n
             FROM u{s}_{n} GROUP BY 1, 2),
cr{s}_{n + 1} AS (
  SELECT cluster,
         list(CASE WHEN s < 0 THEN -(CAST(abs(s) AS BIGINT) // n)
                   ELSE s // n END ORDER BY i) AS cl
  FROM g{s}_{n} GROUP BY 1),
c{s}_{n + 1} AS (
  SELECT * FROM cr{s}_{n + 1}
  UNION ALL
  SELECT cluster, cl FROM c{s}_{n}
  WHERE cluster NOT IN (SELECT cluster FROM cr{s}_{n + 1}))""")
        parts.append(f"""q{s} AS (SELECT sv[{a}:{b}] AS x FROM sv
                                  WHERE vec_id = 0),
lut{s} AS (
  SELECT c.cluster,
         CAST(list_sum(list_transform({rng},
              i -> (q.x[i] - c.cl[i]) * (q.x[i] - c.cl[i])))
              AS BIGINT) AS ld
  FROM c{s}_2 c, q{s} q)""")
    joins = " ".join(
        f"JOIN a{s}_2 a{s} ON a0.vec_id = a{s}.vec_id" for s in range(1, 4)
    ) + " " + " ".join(
        f"JOIN lut{s} l{s} ON a{s}.cluster = l{s}.cluster" for s in range(4)
    )
    total = " + ".join(f"l{s}.ld" for s in range(4))
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT a0.vec_id, ({total}) AS adist\n"
        f"FROM a0_2 a0 {joins}\n"
        "ORDER BY adist, a0.vec_id LIMIT 50"
    )


def q_tpch_order_priority_check(spark, sf):
    """TPC-H Q4 shape (order-priority check): EXISTS-style left-semi
    join of orders against late-shipping lineitems (this schema has no
    l_commitdate/l_receiptdate; \"late\" = shipped >30 days after the
    order date). The semi join shuffles both sides on l_orderkey —
    dedup of the probe side happens inside the join (no distinct
    pre-shuffle), which is exactly the plan you want at scale."""
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


SQL_TPCH_ORDER_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY 1
"""


def q_tpch_forecast_revenue(spark, sf):
    """TPC-H Q6 (forecasting revenue change): one scan, every predicate
    pushed to parquet, integer-cent arithmetic so the global sum is
    exact under any partitioning (revenue_e4 = cents x discount-pct)."""
    l = _t(spark, sf, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    pct = F.round(F.col("l_discount") * 100).cast("bigint")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & pct.between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(cents * pct).alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_TPCH_FORECAST_REVENUE = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_e4,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND CAST(ROUND(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
  AND l_quantity < 24
"""


def q_tpch_priority_line_mix(spark, sf):
    """TPC-H Q12 shape (priority mix by line status): orders-lineitem
    shuffle join + conditional aggregation over a pushed shipdate
    window."""
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


SQL_TPCH_PRIORITY_LINE_MIX = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


def q_dedup_cluster_labels(spark, sf):
    """Connected components over the minhash near-dup pairs
    (dedup_clusters: hash-to-min + pointer jump to fixpoint). The r2
    advisor found hub-shaped components silently splitting here — this
    query pins the FIXED semantics end to end against a DuckDB
    recursive-CTE transitive closure, so any future regression to
    forest-only propagation hash-fails the gate."""
    from emf_spark.datax import dedup as dd

    d = _t(spark, sf, "documents")
    pairs = dd.minhash_near_duplicates(
        d,
        num_perm=32,
        bands=8,
        threshold=0.8,
        word_hash=dd.portable_word_hash,
        max_bucket=1_000_000,
    )
    labels = dd.dedup_clusters(pairs)
    return labels.select(
        F.col("id").alias("doc_id"), F.col("root").alias("cluster")
    ).orderBy("doc_id")


def _sql_dedup_cluster_labels() -> str:
    pairs = _sql_dedup_minhash()
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster
FROM reach GROUP BY a ORDER BY doc_id
"""


def q_data_scd2_snapshot(spark, sf):
    """SCD type-2 snapshot apply (diff.scd2_apply): the same two
    synthetic document versions as data_snapshot_diff, but maintaining
    a slowly-changing-dimension HISTORY — changed keys close the old
    row and open a v2 row, deletions close, additions open, unchanged
    open rows and pre-closed history pass through. One full-outer join
    on the OPEN slice only (closed history unions around it), each
    joined row emitting its 0-2 outputs through a single explode pass.
    The oracle states the case split directly (IS NOT DISTINCT FROM per
    column vs the engine's hash compare — identical barring a 64-bit
    collision)."""
    from emf_spark.datax.diff import scd2_apply

    d = _t(spark, sf, "documents")
    i = F.col("doc_id")
    hist = d.filter(i % 11 != 0).select(
        "doc_id", "text", "source",
        F.lit(1).cast("bigint").alias("valid_from"),
        F.lit(None).cast("bigint").alias("valid_to"),
    ).unionByName(
        d.filter(i % 17 == 0).select(
            "doc_id",
            F.concat("text", F.lit(" v0")).alias("text"),
            "source",
            F.lit(0).cast("bigint").alias("valid_from"),
            F.lit(1).cast("bigint").alias("valid_to"),
        )
    )
    snap = d.filter(i % 13 != 0).select(
        "doc_id",
        F.when(i % 7 == 0, F.concat("text", F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
        "source",
    )
    return scd2_apply(hist, snap, ["doc_id"], version=2)


SQL_DATA_SCD2_SNAPSHOT = """
WITH openv AS (
  SELECT doc_id, text, source, CAST(1 AS BIGINT) AS valid_from
  FROM documents WHERE doc_id % 11 <> 0),
closedv AS (
  SELECT doc_id, text || ' v0' AS text, source,
         CAST(0 AS BIGINT) AS valid_from, CAST(1 AS BIGINT) AS valid_to
  FROM documents WHERE doc_id % 17 = 0),
snap AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
         source
  FROM documents WHERE doc_id % 13 <> 0),
j AS (
  SELECT coalesce(o.doc_id, s.doc_id) AS doc_id,
         o.text AS o_text, o.source AS o_source, o.valid_from AS o_from,
         s.text AS s_text, s.source AS s_source,
         o.doc_id IS NOT NULL AS in_o, s.doc_id IS NOT NULL AS in_n,
         (o.text IS NOT DISTINCT FROM s.text)
           AND (o.source IS NOT DISTINCT FROM s.source) AS same
  FROM openv o FULL OUTER JOIN snap s ON o.doc_id = s.doc_id)
SELECT doc_id, text, source, valid_from, valid_to FROM closedv
UNION ALL
SELECT doc_id, o_text, o_source, o_from, CAST(NULL AS BIGINT)
FROM j WHERE in_o AND in_n AND same
UNION ALL
SELECT doc_id, o_text, o_source, o_from, CAST(2 AS BIGINT)
FROM j WHERE in_o AND (NOT in_n OR NOT same)
UNION ALL
SELECT doc_id, s_text, s_source, CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
FROM j WHERE in_n AND (NOT in_o OR NOT same)
"""


def q_data_snapshot_diff(spark, sf):
    """Snapshot diff (datax/diff.py): two synthetic versions of the
    documents table (removals on %11/%13 residues, text edits on %7)
    -> (doc_id, status). The engine hashes compared columns pre-join
    (xxhash64) so the shuffle carries (key, hash); the oracle states
    the SEMANTICS directly (IS DISTINCT FROM per column) — identical
    output barring a 64-bit hash collision."""
    from emf_spark.datax.diff import snapshot_diff

    d = _t(spark, sf, "documents")
    i = F.col("doc_id")
    old = d.filter(i % 11 != 0).select("doc_id", "text", "source")
    new = d.filter(i % 13 != 0).select(
        "doc_id",
        F.when(i % 7 == 0, F.concat("text", F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
        "source",
    )
    return snapshot_diff(old, new, ["doc_id"]).orderBy("doc_id")


SQL_DATA_SNAPSHOT_DIFF = """
WITH oldv AS (
  SELECT doc_id, text, source FROM documents WHERE doc_id % 11 <> 0),
newv AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
         source
  FROM documents WHERE doc_id % 13 <> 0)
SELECT * FROM (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.text IS DISTINCT FROM n.text
                   OR o.source IS DISTINCT FROM n.source THEN 'changed'
         END AS status
  FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id)
WHERE status IS NOT NULL ORDER BY doc_id
"""


def q_tpch_returned_item_revenue(spark, sf):
    """TPC-H Q10 shape: revenue lost to returned items per customer,
    top 20. Three joins (lineitem⋈orders shuffle on orderkey; customer
    and nation broadcast — dimension sides), integer-e4 revenue
    (cents x (100 - discount-pct)) so the sum is partitioning-exact,
    deterministic top-k tie-break on custkey. Top-20 is limit-then-rank
    (TakeOrderedAndProject + a 20-row window): the per-customer
    aggregate grows linearly with data scale, so the classic Q10 trap —
    a global row_number window funnelling every customer through one
    partition — is avoided; custkey is unique so the cut is exact."""
    o = _t(spark, sf, "orders")
    l = _t(spark, sf, "lineitem")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    agg = (
        l.filter(F.col("l_returnflag") == "R")
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).alias("revenue_e4"))
    )
    order = [F.col("revenue_e4").desc(), F.col("c_custkey").asc()]
    w = Window.orderBy(*order)
    return (
        agg.orderBy(*order)
        .limit(20)
        .withColumn("rk", F.row_number().over(w))
        .select("c_custkey", "c_name", "n_name", "revenue_e4", "rk")
    )


SQL_TPCH_RETURNED_ITEM_REVENUE = """
WITH agg AS (
  SELECT c_custkey, c_name, n_name,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
           AS revenue_e4
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
  GROUP BY 1, 2, 3)
SELECT c_custkey, c_name, n_name, revenue_e4,
       CAST(ROW_NUMBER() OVER (ORDER BY revenue_e4 DESC, c_custkey ASC) AS INT) AS rk
FROM agg ORDER BY revenue_e4 DESC, c_custkey ASC LIMIT 20
"""


def q_tpch_promo_revenue(spark, sf):
    """TPC-H Q14 shape: promo-parts share of 1997 revenue. lineitem
    shuffles once on partkey against the broadcast part dim; exact
    integer-e4 sums, ONE double division after aggregation."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0)).alias(
                "promo_e4"
            ),
            F.sum(rev).alias("total_e4"),
        )
        .select(
            "promo_e4",
            "total_e4",
            F.round(F.col("promo_e4") / F.col("total_e4"), 6).alias("promo_share"),
        )
    )


SQL_TPCH_PROMO_REVENUE = """
WITH j AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS rev, p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01')
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS BIGINT) AS promo_e4,
       CAST(SUM(rev) AS BIGINT) AS total_e4,
       ROUND(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
             / CAST(SUM(rev) AS DOUBLE), 6) AS promo_share
FROM j
"""


def q_emf_moving_avg(spark, sf):
    """Frame-based analytic window (beyond rank/row_number): 4-row
    moving average of event values per type, ordered by the UNIQUE
    (ts, event_id) pair — a frame over a nondeterministic order would
    be partition-layout-dependent; the tie-break makes the fold order
    (and hence the double sum) bit-identical on both engines."""
    ev = _t(spark, sf, "events").filter(F.col("user_id") % 50 == 0)
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 0)
    )
    return ev.select(
        "event_id",
        "event_type",
        F.unix_timestamp("ts").cast("bigint").alias("ts_epoch"),
        F.round(F.avg("value").over(w), 6).alias("mavg4"),
    )


SQL_EMF_MOVING_AVG = """
SELECT event_id, event_type,
       -- FLOOR, not bare CAST: EPOCH returns fractional seconds and
       -- DuckDB's double->bigint cast ROUNDS, while Spark's
       -- unix_timestamp truncates
       CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_epoch,
       ROUND(AVG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS mavg4
FROM events WHERE user_id % 50 = 0
"""


def q_text_quality_filter(spark, sf):
    """Composite C4/Gopher-style keep/drop gate (datax/filtering.py):
    fixed rule order, first failing rule names the reason; thresholds
    tuned to this corpus's distributions so multiple reasons fire.
    Output = (source, reason) doc counts."""
    from emf_spark.datax import dedup as dd
    from emf_spark.datax.filtering import quality_filter

    d = _t(spark, sf, "documents")
    f = quality_filter(
        d,
        min_words=20,
        max_words=90,
        max_dup_word_frac=0.65,
        max_dup_line_frac=0.5,
        max_top_bigram_frac=0.15,
        min_quality=0.35,
        word_hash=dd.portable_word_hash,
    )
    return f.groupBy("source", "reason").agg(F.count(F.lit(1)).alias("docs"))


def _sql_text_quality_filter() -> str:
    return f"""
WITH words AS (SELECT doc_id, source, text,
                      string_split({_NORM_TXT}, ' ') AS w,
                      string_split(text, chr(10)) AS rawlines
               FROM documents),
base AS (
  SELECT doc_id, source, text,
    len(w) AS n_words,
    ROUND((len(list_distinct(w)) * 1.0 / len(w))
          * LEAST(LENGTH(text) / 200.0, 1.0), 6) AS quality,
    CASE WHEN len(w) > 0
         THEN ROUND(1 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
         ELSE 0.0 END AS dup_word_frac,
    CASE WHEN len(list_filter(rawlines, l -> trim(l) <> '')) > 0
         THEN ROUND(1 - CAST(len(list_distinct(list_filter(rawlines, l -> trim(l) <> ''))) AS DOUBLE)
                    / len(list_filter(rawlines, l -> trim(l) <> '')), 6)
         ELSE 0.0 END AS dup_line_frac
  FROM words),
wh AS (SELECT doc_id, {_SQL_WORD_HASHES} AS wh FROM words),
bi AS (SELECT doc_id,
         UNNEST(list_transform(range(1, greatest(len(wh) - 1, 0) + 1),
                i -> (wh[i] * 1000003 + wh[i + 1]) % {_P31})) AS h
       FROM wh),
per AS (SELECT doc_id, h, COUNT(*) AS c FROM bi GROUP BY 1, 2),
top AS (SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac
        FROM per GROUP BY 1),
verdict AS (
  SELECT source,
    CASE WHEN text IS NULL OR trim(text) = '' THEN 'empty'
         WHEN n_words < 20 THEN 'too_short'
         WHEN n_words > 90 THEN 'too_long'
         WHEN dup_word_frac > 0.65 THEN 'dup_words'
         WHEN dup_line_frac > 0.5 THEN 'dup_lines'
         WHEN COALESCE(top_bigram_frac, 0.0) > 0.15 THEN 'repetitive_bigram'
         WHEN quality < 0.35 THEN 'low_quality'
         ELSE 'keep' END AS reason
  FROM base LEFT JOIN top USING (doc_id))
SELECT source, reason, COUNT(*) AS docs FROM verdict GROUP BY 1, 2
"""


def q_tpch_discounted_revenue(spark, sf):
    """TPC-H Q19 shape: disjunctive brand/size/quantity predicate (an
    OR of ANDs) over the lineitem-part join — the classic test of
    whether the common join key stays an equi-join and the residual
    disjunction rides as a filter (not a nested loop); plan pinned by
    tests/test_plans.py. Integer-e4 revenue."""
    l = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 15)
    ) | (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(10, 25)
        & F.col("l_quantity").between(10, 30)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(rev).alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_TPCH_DISCOUNTED_REVENUE = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
         AS revenue_e4,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 25
       AND l_quantity BETWEEN 10 AND 30)
"""


def q_emf_kmv_per_window(spark, sf):
    """KMV distinct-user sketch per (daily window, event_type) — the
    sketch-mergeability story: per-group state stays k values whatever
    the window count, map-side combinable. k=16 is deliberately under
    most groups' true cardinality so the ESTIMATE branch (not the
    exact-collapse) is what the oracle checks."""
    from emf_spark.datax import sketches

    ev = _t(spark, sf, "events").withColumn(
        "window_start",
        (F.floor(F.unix_timestamp("ts") / 86400) * 86400).cast("bigint"),
    )
    return sketches.kmv_distinct(
        ev, "user_id", ["window_start", "event_type"], k=16
    )


SQL_EMF_KMV_PER_WINDOW = """
WITH h AS (
  SELECT DISTINCT CAST(FLOOR(EPOCH(ts) / 86400) * 86400 AS BIGINT) AS window_start,
    event_type,
    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14) AS BIGINT)
      / 72057594037927936.0 AS hh
  FROM events WHERE user_id IS NOT NULL),
ranked AS (
  SELECT window_start, event_type, hh,
         ROW_NUMBER() OVER (PARTITION BY window_start, event_type ORDER BY hh) AS r
  FROM h),
per AS (SELECT window_start, event_type, MAX(r) AS n, MAX(hh) AS kth
        FROM ranked WHERE r <= 16 GROUP BY 1, 2)
SELECT window_start, event_type,
       ROUND(CASE WHEN n < 16 THEN CAST(n AS DOUBLE) ELSE 15.0 / kth END, 4)
         AS kmv_estimate,
       n < 16 AS exactish
FROM per
"""


CMS_PROBE_TERMS = ["the", "table", "fast", "spark", "zzz"]


def q_emf_cms_heavy_hitters(spark, sf):
    """Count-min sketch (datax/sketches.py): build a deliberately-tight
    3x32 sketch over document tokens (forces collisions, so the
    overestimate path is exercised), point-query five probe terms, and
    return estimate vs exact — the oracle replicates every sketch cell
    from the same md5 hash family."""
    from emf_spark.datax.sketches import cms_build, cms_estimate

    d = _t(spark, sf, "documents")
    toks = d.select(
        F.explode(F.split(F.lower("text"), r"[^a-z0-9']+")).alias("token")
    ).filter(F.col("token") != "")
    sketch = cms_build(toks, "token", depth=3, width=32)
    est = cms_estimate(sketch, CMS_PROBE_TERMS, depth=3, width=32)
    exact = (
        toks.filter(F.col("token").isin(CMS_PROBE_TERMS))
        .groupBy(F.col("token").alias("term"))
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return est.join(exact, "term", "left").select(
        "term",
        "cms_count",
        F.coalesce("exact_count", F.lit(0)).alias("exact_count"),
    )


def _sql_cms_heavy_hitters() -> str:
    terms = ", ".join(f"('{t}')" for t in CMS_PROBE_TERMS)
    h = "CAST('0x' || substr(md5('cms' || CAST(d AS VARCHAR) || ':' || {v}), 1, 14) AS BIGINT) % 32"
    return f"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS token
  FROM documents),
tk AS (SELECT token FROM toks WHERE token <> ''),
ds AS (SELECT unnest(range(0, 3)) AS d),
sk AS (
  SELECT d, {h.format(v='token')} AS bucket, COUNT(*) AS cnt
  FROM tk CROSS JOIN ds GROUP BY 1, 2),
terms(term) AS (VALUES {terms}),
probes AS (
  SELECT term, d, {h.format(v='term')} AS bucket FROM terms CROSS JOIN ds),
est AS (
  SELECT term, MIN(COALESCE(cnt, 0)) AS cms_count
  FROM probes LEFT JOIN sk USING (d, bucket) GROUP BY 1),
ex AS (SELECT token AS term, COUNT(*) AS exact_count FROM tk GROUP BY 1)
SELECT term, CAST(cms_count AS BIGINT) AS cms_count,
       CAST(COALESCE(exact_count, 0) AS BIGINT) AS exact_count
FROM est LEFT JOIN ex USING (term)
"""


def q_events_retention(spark, sf):
    """Weekly cohort retention triangle (funnel.cohort_retention):
    purchasers cohort by first-purchase week; (cohort, weeks-since)
    cells count distinct active users, with retention = active/size as the one
    final double division. All algebraic aggregates — the per-user min
    and the (user, week) distinct share their shuffle key, the matrix
    aggregate runs over weeks^2 rows, cohort sizes broadcast back."""
    from emf_spark.datax.funnel import cohort_retention

    ev = _t(spark, sf, "events").filter(F.col("event_type") == "purchase")
    return cohort_retention(ev)


SQL_EVENTS_RETENTION = """
WITH first AS (
  SELECT user_id AS u, MIN(date_trunc('week', ts)) AS cohort
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type = 'purchase' GROUP BY 1),
active AS (
  SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS p
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type = 'purchase'),
cells AS (
  SELECT f.cohort,
         CAST(date_diff('day', f.cohort, a.p) // 7 AS INT) AS period_n
  FROM active a JOIN first f USING (u)),
matrix AS (
  SELECT cohort, period_n, COUNT(*) AS active_users
  FROM cells GROUP BY 1, 2),
sizes AS (SELECT cohort, COUNT(*) AS cohort_size FROM first GROUP BY 1)
SELECT m.cohort, m.period_n, m.active_users, s.cohort_size,
       CAST(m.active_users AS DOUBLE) / s.cohort_size AS retention
FROM matrix m JOIN sizes s USING (cohort)
"""


def q_events_rolling_dau(spark, sf):
    """DAU + exact trailing-7-day distinct users
    (funnel.rolling_active_users): rolling distinct doesn't decompose
    algebraically, so each DISTINCT (user, day) row contributes
    membership to the 7 windows it falls in — a bounded x7 explode of
    the collapsed user-day table (never the raw stream), one distinct,
    one count. No distinct-over-window sort anywhere."""
    from emf_spark.datax.funnel import rolling_active_users

    ev = _t(spark, sf, "events")
    # day cast to timestamp on BOTH sides: duckdb's .df() maps DATE to
    # datetime64 while Spark's toPandas gives date objects -- same
    # values, different str() rendering under the driver's hash
    return rolling_active_users(ev, window_days=7).select(
        F.col("day").cast("timestamp").alias("day"), "dau", "rolling_users"
    )


SQL_EVENTS_ROLLING_DAU = """
WITH ud AS (
  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
dau AS (SELECT d AS day, COUNT(*) AS dau FROM ud GROUP BY 1),
member AS (
  SELECT DISTINCT u, day FROM (
    SELECT u, UNNEST(list_transform(range(0, 7), i -> d + CAST(i AS INT)))
             AS day
    FROM ud)),
roll AS (SELECT day, COUNT(*) AS rolling_users FROM member GROUP BY 1)
SELECT CAST(d.day AS TIMESTAMP) AS day, d.dau, r.rolling_users
FROM dau d JOIN roll r USING (day)
"""


def q_events_value_outliers(spark, sf):
    """Per-type z-score outliers with ZERO float ops
    (funnel.value_outliers): (x - mean)^2 > 4*variance evaluated as the
    integer inequality (x*n - S)^2 > 4*(SS*n - S^2) over value-cents —
    multiplied through by n^2 so there is no division, no sqrt, and no
    cross-engine float risk. One algebraic (n, S, SS) aggregate
    broadcast back onto the stream."""
    from emf_spark.datax.funnel import value_outliers

    ev = _t(spark, sf, "events")
    return value_outliers(ev, z=2, scale=100)


SQL_EVENTS_VALUE_OUTLIERS = """
WITH sc AS (
  SELECT event_id, event_type, value,
         CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL),
st AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s,
              CAST(SUM(x * x) AS BIGINT) AS ss
       FROM sc GROUP BY 1)
SELECT sc.event_id, sc.event_type AS grp, sc.value,
       CASE WHEN (sc.x * st.n - st.s) > 0 THEN 1 ELSE -1 END AS side
FROM sc JOIN st ON sc.event_type IS NOT DISTINCT FROM st.event_type
WHERE (sc.x * st.n - st.s) * (sc.x * st.n - st.s)
      > 4 * (st.ss * st.n - st.s * st.s)
"""


def q_emf_bloom_filter(spark, sf):
    """Bloom-filter runtime pruning (sketches.bloom_build/bloom_probe):
    high-value order custkeys collapse to an explicit <= 8192-row
    set-bit table (broadcastable by construction), every customer is
    probed (membership per DISTINCT value, probe stream never
    shuffled), and the per-nation rollup counts probed / bloom-passed /
    true members — making the false-positive margin a checked value.
    Every bit is md5-hash deterministic, so the oracle reproduces the
    filter, the verdicts, AND the false positives exactly."""
    from emf_spark.datax import sketches

    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    hot = o.filter(F.col("o_totalprice") > 470000).select("o_custkey")
    bloom = sketches.bloom_build(hot, "o_custkey", m_bits=8192, depth=3)
    probed = sketches.bloom_probe(c, bloom, "c_custkey", m_bits=8192, depth=3)
    keys = hot.select(F.col("o_custkey").alias("_k")).distinct()
    flagged = probed.join(
        F.broadcast(keys), F.col("c_custkey") == F.col("_k"), "left"
    ).withColumn("is_member", F.col("_k").isNotNull())
    return flagged.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("probed"),
        F.sum(F.col("might_contain").cast("bigint")).alias("bloom_pass"),
        F.sum(F.col("is_member").cast("bigint")).alias("members"),
        F.sum(
            (F.col("might_contain") & ~F.col("is_member")).cast("bigint")
        ).alias("false_pos"),
    )


def _sql_bloom_filter() -> str:
    def pos(d: str, val: str) -> str:
        return (
            f"CAST('0x' || substr(md5('bf{d}:' || CAST({val} AS VARCHAR)),"
            " 1, 14) AS BIGINT) % 8192"
        )

    bit_selects = " UNION ALL ".join(
        f"SELECT {pos(d, 'k')} AS pos FROM keys" for d in range(3)
    )
    might = " AND ".join(
        f"({pos(d, 'c_custkey')}) IN (SELECT pos FROM bits)"
        for d in range(3)
    )
    return f"""
WITH keys AS (SELECT DISTINCT o_custkey AS k FROM orders
              WHERE o_totalprice > 470000),
bits AS (SELECT DISTINCT pos FROM ({bit_selects})),
prob AS (
  SELECT c_nationkey,
         ({might}) AS might,
         c_custkey IN (SELECT k FROM keys) AS is_member
  FROM customer)
SELECT c_nationkey,
       COUNT(*) AS probed,
       CAST(SUM(CASE WHEN might THEN 1 ELSE 0 END) AS BIGINT) AS bloom_pass,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS members,
       CAST(SUM(CASE WHEN might AND NOT is_member THEN 1 ELSE 0 END)
            AS BIGINT) AS false_pos
FROM prob GROUP BY 1
"""


def q_graph_pagerank(spark, sf):
    """Integer-exact PageRank (graph.pagerank_exact) over the
    customer<->supplier co-purchase graph (orders x lineitem edges,
    symmetrized so no node dangles): 2 dampened rounds with ranks in
    int64 1e-9 units and truncate-div update math, so the ORACLE
    REPLAYS BOTH ITERATIONS bit-for-bit (unrolled inflow-join +
    damping CTEs). Per round one src-keyed shuffle join + one
    map-side-combinable inflow aggregate; nothing collects."""
    from emf_spark.datax.graph import pagerank_exact

    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    raw = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    edges = raw.unionByName(
        raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank_exact(edges, iters=2).select(
        "node", F.col("rank").alias("pr")
    )


def _sql_graph_pagerank() -> str:
    floor = 15 * 10**9 // 100
    parts = ["""raw AS (
  SELECT 'c' || o.o_custkey AS s, 's' || l.l_suppkey AS d
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
e AS (SELECT DISTINCT s, d
      FROM (SELECT s, d FROM raw UNION ALL SELECT d AS s, s AS d FROM raw)),
nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
deg AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY 1),
r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes)"""]
    for n in range(1, 3):
        parts.append(f"""i{n} AS (
  SELECT e.d, CAST(SUM(r.rank // g.deg) AS BIGINT) AS inflow
  FROM e JOIN r{n - 1} r ON e.s = r.node JOIN deg g ON e.s = g.s
  GROUP BY 1),
r{n} AS (
  SELECT n.node,
         CAST({floor} + (85 * COALESCE(i.inflow, 0)) // 100 AS BIGINT)
           AS rank
  FROM nodes n LEFT JOIN i{n} i ON n.node = i.d)""")
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT node, rank AS pr FROM r2"


def q_basket_item_pairs(spark, sf):
    """Market-basket co-occurrence (datax/baskets.py): top-50
    co-ordered part pairs by support over lineitem baskets, each
    basket deterministically capped at its 5 smallest partkeys (the
    quadratic-blowup bound a 100 TB basket stream needs), total
    deterministic order (support DESC, item_a, item_b) so ties never
    make the set run-dependent. TakeOrderedAndProject, never a global
    sort."""
    from emf_spark.datax.baskets import item_pairs, top_pairs

    li = _t(spark, sf, "lineitem")
    return top_pairs(item_pairs(li, "l_orderkey", "l_partkey",
                                max_items=5), 50)


SQL_BASKET_ITEM_PAIRS = """
WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
capped AS (
  SELECT bk, it FROM (
    SELECT bk, it, ROW_NUMBER() OVER (PARTITION BY bk ORDER BY it) AS rn
    FROM bi) WHERE rn <= 5)
SELECT a.it AS item_a, b.it AS item_b, COUNT(*) AS support
FROM capped a JOIN capped b ON a.bk = b.bk AND a.it < b.it
GROUP BY 1, 2
ORDER BY support DESC, item_a, item_b LIMIT 50
"""


def q_graph_triangles(spark, sf):
    """Per-node triangle counts (graph.triangle_count) over the
    co-purchase part graph: an edge links two parts co-ordered in the
    same basket (>= 25 qty lines only, baskets capped at their 5
    smallest partkeys via datax/baskets.item_pairs). Degree-ordered
    orientation bounds the wedge join at O(m^1.5) total rows — the
    hub-safe distributed triangle algorithm — and pure set semantics
    make every count exactly reproducible by the SQL oracle."""
    from emf_spark.datax.baskets import item_pairs
    from emf_spark.datax.graph import triangle_count

    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") >= 25)
    edges = item_pairs(li, "l_orderkey", "l_partkey", max_items=5)
    return triangle_count(edges, "item_a", "item_b")


SQL_GRAPH_TRIANGLES = """
WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
            FROM lineitem WHERE l_quantity >= 25),
capped AS (
  SELECT bk, it FROM (
    SELECT bk, it, ROW_NUMBER() OVER (PARTITION BY bk ORDER BY it) AS rn
    FROM bi) WHERE rn <= 5),
e AS (SELECT a.it AS u, b.it AS v
      FROM capped a JOIN capped b ON a.bk = b.bk AND a.it < b.it
      GROUP BY 1, 2),
und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
deg AS (SELECT u AS n, COUNT(*) AS d FROM und GROUP BY 1),
o AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS t
  FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n),
tri AS (
  SELECT e1.s AS a, e1.t AS b, e2.t AS c
  FROM o e1
  JOIN o e2 ON e1.s = e2.s AND e1.t <> e2.t
  JOIN o e3 ON e3.s = e1.t AND e3.t = e2.t)
SELECT node, COUNT(*) AS triangles
FROM (SELECT UNNEST([a, b, c]) AS node FROM tri)
GROUP BY node
"""


def q_ts_counter_increase(spark, sf):
    """PromQL-style reset-aware counter increase
    (datax/timeseries.counter_increase): per-user total growth of the
    value series treating any drop as a counter reset (restart from 0
    contributes the post-reset value). Integer-cent lattice end to
    end; one per-series lag window + one same-key algebraic aggregate
    (single shuffle). The read-side dual of the reference aggregator's
    count/sum accumulation (fluent-bit-emf/aggregator.go)."""
    from emf_spark.datax.timeseries import counter_increase

    ev = _t(spark, sf, "events")
    return counter_increase(ev, ["user_id"], "ts", "value", "event_id")


SQL_TS_COUNTER_INCREASE = """
WITH s AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS v,
         LAG(CAST(ROUND(value * 100) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS pv
  FROM events)
SELECT user_id,
       COUNT(*) AS samples,
       CAST(SUM(CASE WHEN pv IS NOT NULL AND v < pv THEN 1 ELSE 0 END)
            AS BIGINT) AS resets,
       CAST(SUM(CASE WHEN pv IS NULL THEN 0
                     WHEN v >= pv THEN v - pv ELSE v END)
            AS BIGINT) AS increase_units,
       (MAX(struct_pack(ts := ts, eid := event_id, v := v))).v
         AS last_units
FROM s GROUP BY user_id
"""


def q_ts_resample_ffill(spark, sf):
    """Gap-fill resampling (datax/timeseries.resample_ffill): each
    user's purchase-value series onto a 6-hour grid, forward-filling
    empty buckets from the last observation (last-by-(ts, event_id)
    wins inside a bucket). Grid explodes off a per-series min/max
    aggregate -- O(series) in, O(series x buckets) out, never a driver
    loop -- and the fill window partitions per series."""
    from emf_spark.datax.timeseries import resample_ffill

    ev = _t(spark, sf, "events").filter(F.col("event_type") == "purchase")
    return resample_ffill(ev, ["user_id"], "ts", "value", "event_id", 21600)


SQL_TS_RESAMPLE_FFILL = """
WITH obs AS (
  SELECT user_id, e - e % 21600 AS bucket_start, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM (SELECT *, CAST(FLOOR(epoch(ts)) AS BIGINT) AS e
        FROM events WHERE event_type = 'purchase')),
lastb AS (
  SELECT user_id, bucket_start, v FROM (
    SELECT user_id, bucket_start, v,
           ROW_NUMBER() OVER (PARTITION BY user_id, bucket_start
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM obs) WHERE rn = 1),
bounds AS (SELECT user_id, MIN(bucket_start) AS lo, MAX(bucket_start) AS hi
           FROM obs GROUP BY user_id),
grid AS (SELECT user_id,
                UNNEST(range(lo, hi + 21600, 21600)) AS bucket_start
         FROM bounds)
SELECT g.user_id, g.bucket_start,
       LAST_VALUE(l.v IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket_start
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_units,
       CASE WHEN l.v IS NULL THEN 1 ELSE 0 END AS filled
FROM grid g LEFT JOIN lastb l USING (user_id, bucket_start)
"""


def q_ts_ewma(spark, sf):
    """Integer-lattice EWMA (datax/timeseries.ewma), alpha = 3/10:
    s_0 = x_0, s_t = (3*x_t + 7*s_{t-1}) div 10 with truncating
    division -- every step exact, so DuckDB's list_reduce over the
    identically-ordered list reproduces the final BIGINT bit-for-bit.
    The recurrence is irreducibly sequential per series, so the fold
    runs over a per-series sorted collect_list (series length
    bounded)."""
    from emf_spark.datax.timeseries import ewma

    ev = _t(spark, sf, "events")
    return ewma(ev, ["user_id"], "ts", "value", "event_id", 3, 10)


SQL_TS_EWMA = """
SELECT user_id, CAST(LEN(l) AS INTEGER) AS samples,
       list_reduce(l, (acc, x) -> (3 * x + 7 * acc) // 10) AS ewma_units
FROM (SELECT user_id,
             list(CAST(ROUND(value * 100) AS BIGINT)
                  ORDER BY ts, event_id) AS l
      FROM events WHERE value >= 0 GROUP BY user_id)
"""


def q_ts_error_burn(spark, sf):
    """Multi-window SLO burn-rate flags (datax/timeseries.burn_rate):
    hourly error ratio vs the enclosing day's ratio, paging when the
    hour burns > 2x the day -- ratios as exact basis-point BIGINTs
    (errors*10000 div total), so the flag itself is oracle-checked.
    Two map-side-combinable count aggregates + one broadcast join from
    hours to their (tiny) day rollup."""
    from emf_spark.datax.timeseries import burn_rate

    ev = _t(spark, sf, "events")
    return burn_rate(ev, "ts", F.col("event_type") == "error", 3600, 86400)


SQL_TS_ERROR_BURN = """
WITH b AS (
  SELECT e - e % 3600 AS bucket_start, e - e % 86400 AS lb,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
  FROM (SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS e, event_type
        FROM events)),
s AS (SELECT bucket_start, lb, COUNT(*) AS total,
             CAST(SUM(err) AS BIGINT) AS errors
      FROM b GROUP BY bucket_start, lb),
l AS (SELECT lb, COUNT(*) AS lt, CAST(SUM(err) AS BIGINT) AS le
      FROM b GROUP BY lb)
SELECT bucket_start, total, errors,
       errors * 10000 // total AS short_bp,
       le * 10000 // lt AS long_bp,
       CASE WHEN errors * 10000 // total > 2 * (le * 10000 // lt)
            THEN 1 ELSE 0 END AS burning
FROM s JOIN l USING (lb)
"""


def q_ts_mad_anomalies(spark, sf):
    """Robust anomaly detection (datax/timeseries.mad_anomalies):
    per-user median + MAD on the integer-cent lattice, flagging
    samples with |x - median| > 3 * MAD. Exact-interpolated medians on
    integer inputs are whole/half units — double-exact in BOTH engines
    — so even this 'statistical' query is zero-tolerance oracled. One
    exchange: both percentile windows and the final aggregate share
    the series-key partitioning."""
    from emf_spark.datax.timeseries import mad_anomalies

    ev = _t(spark, sf, "events")
    return mad_anomalies(ev, ["user_id"], "value", 3)


SQL_TS_MAD_ANOMALIES = """
WITH s AS (SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS v
           FROM events),
m AS (SELECT user_id, quantile_cont(v, 0.5) AS med FROM s GROUP BY user_id),
d AS (SELECT s.user_id, v, med, abs(v - med) AS dev
      FROM s JOIN m USING (user_id)),
md AS (SELECT user_id, quantile_cont(dev, 0.5) AS mad
       FROM d GROUP BY user_id)
SELECT d.user_id, COUNT(*) AS samples,
       MIN(med) AS med_units, MIN(mad) AS mad_units,
       CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
         AS anomalies
FROM d JOIN md USING (user_id)
GROUP BY d.user_id
"""


def q_entity_fuzzy_match(spark, sf):
    """Blocked fuzzy entity matching (datax/entity.fuzzy_match): a
    deterministically-dirtied copy of the customer master (one third
    suffixed, one third last-char-mutated, one third clean) is linked
    back to the clean list. Candidates come from an EQUI-join on the
    noise-surviving name fragment substr(c_name, 10, 7) (blocks of
    <= 100 ids sharing leading pad digits — the scale contract), the
    levenshtein refine runs JVM-side, and best-per-dirty-record is an
    algebraic struct-min. Both the dirt and the match decisions replay
    exactly in the oracle."""
    from emf_spark.datax.entity import fuzzy_match

    cust = _t(spark, sf, "customer")
    blk = F.substring("c_name", 10, 7)
    k3 = F.col("c_custkey") % 3
    dname = (
        F.when(k3 == 0, F.concat(F.col("c_name"), F.lit("x")))
        .when(k3 == 1, F.concat(F.substring("c_name", 1, 17), F.lit("Z")))
        .otherwise(F.col("c_name"))
    )
    dirty = cust.select(
        F.col("c_custkey").alias("dirty_id"), dname.alias("dname"),
        blk.alias("blk"),
    )
    clean = cust.select("c_custkey", "c_name", blk.alias("blk"))
    return fuzzy_match(
        dirty, clean, "dirty_id", "dname", "c_custkey", "c_name", "blk", 1
    )


SQL_ENTITY_FUZZY_MATCH = """
WITH clean AS (
  SELECT c_custkey, c_name, substr(c_name, 10, 7) AS blk FROM customer),
dirty AS (
  SELECT c_custkey AS dirty_id,
         CASE c_custkey % 3
           WHEN 0 THEN c_name || 'x'
           WHEN 1 THEN substr(c_name, 1, 17) || 'Z'
           ELSE c_name END AS dname,
         substr(c_name, 10, 7) AS blk
  FROM customer),
cand AS (
  SELECT d.dirty_id, c.c_custkey, c.c_name,
         CAST(levenshtein(d.dname, c.c_name) AS INTEGER) AS dist
  FROM dirty d JOIN clean c USING (blk)
  WHERE levenshtein(d.dname, c.c_name) <= 1)
SELECT dirty_id, c_custkey, dist FROM (
  SELECT dirty_id, c_custkey, dist,
         ROW_NUMBER() OVER (PARTITION BY dirty_id
                            ORDER BY dist, c_custkey, c_name) AS rn
  FROM cand) WHERE rn = 1
"""


def q_data_profile(spark, sf):
    """Column profiler (datax/profile.profile) over documents: one
    scan, one aggregate (multi-count_distinct via a single Expand),
    one driver-size row exploded to the long (column, stats) form —
    adding a column adds expressions, never passes."""
    from emf_spark.datax.profile import profile

    docs = _t(spark, sf, "documents")
    return profile(docs, ["doc_id", "lang", "source", "n_chars"])


SQL_DATA_PROFILE = """
SELECT 'doc_id' AS "column", COUNT(*) AS n_rows,
       COUNT(*) - COUNT(doc_id) AS n_nulls,
       COUNT(DISTINCT doc_id) AS n_distinct,
       CAST(MIN(doc_id) AS VARCHAR) AS min_repr,
       CAST(MAX(doc_id) AS VARCHAR) AS max_repr
FROM documents
UNION ALL
SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
       CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'source', COUNT(*), COUNT(*) - COUNT(source),
       COUNT(DISTINCT source),
       CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars),
       COUNT(DISTINCT n_chars),
       CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
FROM documents
"""


def q_rank_rrf_fusion(spark, sf):
    """Reciprocal Rank Fusion (datax/rank.rrf_fuse) of two document
    retrievers — longest-document (n_chars DESC) and an md5 pseudo-
    relevance ordering — each cut to its top 200 by
    TakeOrderedAndProject BEFORE the bounded rank window (the
    limit-then-rank pattern), fused on the 10^12 integer lattice
    (SCALE div (k + rank)), top 100 out. Every fused score is a
    BIGINT the oracle reproduces bit-for-bit."""
    from emf_spark.datax.rank import rrf_fuse, top_ranked

    docs = _t(spark, sf, "documents")
    r1 = top_ranked(
        docs, "doc_id",
        [F.col("n_chars").desc(), F.col("doc_id").asc()], 200,
    )
    r2 = top_ranked(
        docs, "doc_id",
        [F.md5(F.col("text").cast("binary")).asc(), F.col("doc_id").asc()],
        200,
    )
    return rrf_fuse([r1, r2], k=60, top=100).select(
        F.col("id").alias("doc_id"), "lists", "score_units"
    )


SQL_RANK_RRF_FUSION = """
WITH r1 AS (
  SELECT doc_id AS id,
         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rank
  FROM documents ORDER BY n_chars DESC, doc_id LIMIT 200),
r2 AS (
  SELECT doc_id AS id,
         ROW_NUMBER() OVER (ORDER BY md5(text), doc_id) AS rank
  FROM documents ORDER BY md5(text), doc_id LIMIT 200),
u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
SELECT id AS doc_id, COUNT(*) AS lists,
       CAST(SUM(1000000000000 // (60 + rank)) AS BIGINT) AS score_units
FROM u GROUP BY id
ORDER BY score_units DESC, doc_id LIMIT 100
"""


def q_events_funnel(spark, sf):
    """Ordered-funnel operator (datax/funnel.py): per (user, day) unit,
    view -> click -> purchase with strict time ordering; long-form
    step counts + conversion from step 1. No reference equivalent —
    standard first-touch funnel semantics."""
    from emf_spark.datax.funnel import funnel_summary, funnel_times

    ev = _t(spark, sf, "events").withColumn("day", F.date_trunc("day", "ts"))
    steps = ["view", "click", "purchase"]
    times = funnel_times(ev, steps, key_cols=["user_id", "day"])
    return funnel_summary(times, steps)


SQL_EVENTS_FUNNEL = """
WITH u AS (SELECT user_id, date_trunc('day', ts) AS d, event_type, ts FROM events),
s1 AS (SELECT user_id, d, MIN(ts) AS t1 FROM u WHERE event_type = 'view' GROUP BY 1, 2),
s2 AS (SELECT u.user_id, u.d, MIN(u.ts) AS t2 FROM u JOIN s1 USING (user_id, d)
       WHERE u.event_type = 'click' AND u.ts > s1.t1 GROUP BY 1, 2),
s3 AS (SELECT u.user_id, u.d, MIN(u.ts) AS t3 FROM u JOIN s2 USING (user_id, d)
       WHERE u.event_type = 'purchase' AND u.ts > s2.t2 GROUP BY 1, 2),
c AS (SELECT (SELECT COUNT(*) FROM s1) AS c1,
             (SELECT COUNT(*) FROM s2) AS c2,
             (SELECT COUNT(*) FROM s3) AS c3)
SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name, c1 AS units,
       ROUND(c1 / CAST(c1 AS DOUBLE), 6) AS conv_rate FROM c
UNION ALL
SELECT CAST(2 AS BIGINT), 'click', c2, ROUND(c2 / CAST(c1 AS DOUBLE), 6) FROM c
UNION ALL
SELECT CAST(3 AS BIGINT), 'purchase', c3, ROUND(c3 / CAST(c1 AS DOUBLE), 6) FROM c
"""


def q_tpch_order_distribution(spark, sf):
    """TPC-H Q13 shape: distribution of order counts per customer via a
    filtered LEFT OUTER join + two-level aggregation (customers with
    zero qualifying orders land in the c_count=0 bucket)."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(
        ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    per = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


SQL_TPCH_ORDER_DISTRIBUTION = """
WITH per AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey
   AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
  GROUP BY c_custkey)
SELECT c_count, COUNT(*) AS custdist FROM per GROUP BY c_count
"""


def q_tpch_large_volume_customer(spark, sf):
    """TPC-H Q18 shape: orders whose total lineitem quantity exceeds a
    threshold (group-HAVING), joined back to orders + customer. The
    HAVING output is a small fraction of orders, so the join back is a
    pre-filtered equi-join, never orders x lineitem."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            F.col("o_orderkey").alias("okey"),
            F.unix_timestamp("o_orderdate").cast("bigint").alias("odate_epoch"),
            F.round("o_totalprice", 2).alias("total_price"),
            "sum_qty",
        )
    )


SQL_TPCH_LARGE_VOLUME_CUSTOMER = """
WITH big AS (
  SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING ROUND(SUM(l_quantity), 2) > 250)
SELECT c_name, o_orderkey AS okey,
       CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) AS odate_epoch,
       ROUND(o_totalprice, 2) AS total_price, sum_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_tpch_global_sales_opportunity(spark, sf):
    """TPC-H Q22 shape: customers with above-average positive balance
    and no RECENT orders (>= 2000-01-01 — classic Q22's bare NOT EXISTS
    is vacuous on this dense corpus), grouped by a derived country
    code. Exercises the scalar-subquery-as-broadcast pattern (1-row agg
    cross join, no driver-side collect) + left anti join."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = (
        cust.withColumn("cntrycode", (F.col("c_custkey") % 7).cast("bigint"))
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
    )
    no_orders = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return no_orders.groupBy("cntrycode").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


SQL_TPCH_GLOBAL_SALES_OPPORTUNITY = """
SELECT c_custkey % 7 AS cntrycode, COUNT(*) AS numcust,
       ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
"""


def q_text_lm_fluency(spark, sf):
    """Bigram-LM fluency scoring (textstats.bigram_lm_score): mean
    conditional bigram probability of each doc under the corpus MLE
    model — integer-scaled per term so the compare is exact."""
    from emf_spark.datax.textstats import bigram_lm_score

    return bigram_lm_score(_t(spark, sf, "documents"))


SQL_TEXT_LM_FLUENCY = f"""
WITH w AS (SELECT doc_id, string_split({_NORM_TXT}, ' ') AS wl FROM documents),
b2 AS (SELECT doc_id,
              UNNEST(list_transform(range(1, greatest(len(wl) - 1, 0) + 1),
                     i -> struct_pack(w1 := wl[i], w2 := wl[i + 1]))) AS p
       FROM w),
big AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM b2),
model AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
prefix AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM model GROUP BY 1),
terms AS (SELECT doc_id, CAST(ROUND(1000000 * c2 / CAST(c1 AS DOUBLE)) AS BIGINT) AS p_e6
          FROM big JOIN model USING (w1, w2) JOIN prefix USING (w1))
SELECT doc_id, COUNT(*) AS n_bigrams,
       -- no ROUND: identical integer sums, one IEEE division -> bit-equal
       CAST(SUM(p_e6) AS DOUBLE) / (1000000.0 * COUNT(*)) AS fluency
FROM terms GROUP BY 1
"""


def q_tpch_min_cost_supplier(spark, sf):
    """TPC-H Q2 shape (groupwise argmin): cheapest observed unit cost
    per part and the supplier achieving it, ties broken by lowest
    suppkey. The argmin is a single-shuffle lexicographic struct-min
    over the (part, supplier) cost table — no window over lineitem,
    no self-join on the fact side; dims broadcast for the name join."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 0)
    part = _t(spark, sf, "part")
    supp = _t(spark, sf, "supplier")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.round(F.lit(100) * F.col("l_extendedprice") / F.col("l_quantity"))
            .cast("bigint")
        ).alias("cost_c")
    )
    best = (
        ps.groupBy("l_partkey")
        .agg(F.min(F.struct("cost_c", "l_suppkey")).alias("b"))
        .select(
            "l_partkey",
            F.col("b.cost_c").alias("min_cost_c"),
            F.col("b.l_suppkey").alias("s_key"),
        )
    )
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), best.s_key == supp.s_suppkey)
        .filter(F.col("p_size") >= 40)
        .select("p_partkey", "p_brand", "s_name", "min_cost_c")
    )


SQL_TPCH_MIN_COST_SUPPLIER = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(ROUND(100 * l_extendedprice / l_quantity) AS BIGINT)) AS cost_c
  FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2),
m AS (SELECT l_partkey, MIN(cost_c) AS min_cost_c FROM ps GROUP BY 1),
pick AS (
  SELECT ps.l_partkey, MIN(ps.l_suppkey) AS s_key, MIN(ps.cost_c) AS min_cost_c
  FROM ps JOIN m ON ps.l_partkey = m.l_partkey AND ps.cost_c = m.min_cost_c
  GROUP BY 1)
SELECT p_partkey, p_brand, s_name, min_cost_c
FROM pick JOIN part ON l_partkey = p_partkey
JOIN supplier ON s_key = s_suppkey
WHERE p_size >= 40
"""


def q_tpch_important_parts(spark, sf):
    """TPC-H Q11 shape: parts whose revenue share exceeds a threshold
    derived from GLOBAL aggregates — like spec Q11, the fraction
    scales with size (spec: 0.0001/SF; here: 1.2x the mean part
    revenue, i.e. rev * n_parts * 10 > tot * 12) so the query is
    non-vacuous at every scale. Global sum + part count ride as a
    1-row broadcast; the HAVING compare is pure integer cross-multiply
    — no doubles until the reported share, which is one IEEE division
    of identical integers on both engines."""
    li = _t(spark, sf, "lineitem")
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    per_part = li.groupBy("l_partkey").agg(F.sum(rev_e4).alias("rev_e4"))
    total = per_part.agg(
        F.sum("rev_e4").alias("tot_e4"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("rev_e4") * F.col("n_parts") * 10 > F.col("tot_e4") * 12
        )
        .select(
            "l_partkey",
            "rev_e4",
            (F.col("rev_e4") / F.col("tot_e4").cast("double")).alias("share"),
        )
    )


SQL_TPCH_IMPORTANT_PARTS = """
WITH per AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
           AS rev_e4
  FROM lineitem GROUP BY 1),
tot AS (SELECT CAST(SUM(rev_e4) AS BIGINT) AS tot_e4,
               COUNT(*) AS n_parts FROM per)
SELECT l_partkey, rev_e4, rev_e4 / CAST(tot_e4 AS DOUBLE) AS share
FROM per CROSS JOIN tot
WHERE rev_e4 * n_parts * 10 > tot_e4 * 12
"""


def q_tpch_volume_shipping(spark, sf):
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year — the deepest join chain in the battery (lineitem ⋈
    supplier ⋈ orders ⋈ customer, nation names via broadcast dims).
    The two fact-fact joins shuffle on their natural keys
    (l_orderkey, o_custkey); everything dimension-sized broadcasts."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )
    n1 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("s_nk") == 1) & (F.col("c_nk") == 2))
            | ((F.col("s_nk") == 2) & (F.col("c_nk") == 1))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(F.sum(rev_e4).alias("revenue_e4"))


SQL_TPCH_VOLUME_SHIPPING = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(YEAR(l_shipdate) AS INT) AS l_year,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT)
         AS revenue_e4
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_nationkey = 1 AND n2.n_nationkey = 2)
   OR (n1.n_nationkey = 2 AND n2.n_nationkey = 1)
GROUP BY 1, 2, 3
"""


def q_tpch_waiting_suppliers(spark, sf):
    """TPC-H Q21 shape (the classic hardest query): late lineitems
    whose order has OTHER suppliers (EXISTS) but no OTHER late supplier
    (NOT EXISTS) — a semi join AND an anti join of the fact table
    against itself, both shuffling on l_orderkey with the
    different-supplier predicate riding as a residual condition (never
    a nested loop). "Late" = shipped > 60 days after the order date
    (this schema has no commit/receipt dates)."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    s = _t(spark, sf, "supplier")
    lo = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    l1 = lo.filter("late").alias("a")
    others = lo.select("l_orderkey", "l_suppkey").alias("b")
    late_others = lo.filter("late").select("l_orderkey", "l_suppkey").alias("c")
    waited = l1.join(
        others,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        "left_semi",
    ).alias("a2")
    sole_blame = waited.join(
        late_others,
        (F.col("a2.l_orderkey") == F.col("c.l_orderkey"))
        & (F.col("a2.l_suppkey") != F.col("c.l_suppkey")),
        "left_anti",
    )
    return (
        sole_blame.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


SQL_TPCH_WAITING_SUPPLIERS = """
WITH l AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
SELECT s_name, COUNT(*) AS numwait
FROM l l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.late
  AND EXISTS (SELECT 1 FROM l l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
GROUP BY 1
"""


def q_tpch_small_qty_revenue(spark, sf):
    """TPC-H Q17 shape (correlated average-quantity subquery): revenue
    lost to small orders — lineitems of one brand whose quantity is
    below 20% of that PART's average quantity. The correlated
    ``(SELECT AVG(..) WHERE l2.l_partkey = p_partkey)`` decorrelates to
    one per-part aggregate joined back on l_partkey: the aggregate side
    is |parts-of-brand| rows (tiny next to the fact table), so it
    BROADCASTS and the fact table is scanned exactly twice (once for
    the averages, once for the probe) — never once per outer row."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_brand") == "Brand#23")
    lp = li.join(
        F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey")
    )
    avg_q = lp.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("_thresh")
    ).withColumnRenamed("l_partkey", "_pk")
    return (
        lp.join(F.broadcast(avg_q), lp.l_partkey == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_thresh"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("small_lines"),
        )
    )


SQL_TPCH_SMALL_QTY_REVENUE = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
       COUNT(*) AS small_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
"""


def q_tpch_potential_promotion(spark, sf):
    """TPC-H Q20 shape (nested semi-join): suppliers in two nations who
    shipped an EXCESS of some 'red%' part in 1997 (per-(supplier, part)
    quantity > 45). Plan: innermost part filter broadcasts into a
    left-semi on the fact table, the grouped HAVING produces a small
    supplier id set, and THAT semi-joins the supplier dim — each level
    of nesting is one semi-join, no correlated re-execution."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_name").like("red%"))
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_8")
    )
    excess = (
        li.filter(F.year("l_shipdate") == 1997)
        .join(F.broadcast(p.select("p_partkey")),
              li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 45)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(excess, s.s_suppkey == excess.l_suppkey, "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


SQL_TPCH_POTENTIAL_PROMOTION = """
SELECT s_name, ROUND(s_acctbal, 2) AS acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_3', 'NATION_8')
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      AND YEAR(l_shipdate) = 1997
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(l_quantity) > 45)
"""


def q_tpch_market_share(spark, sf):
    """TPC-H Q8 shape (market share): of all revenue sold to ASIA
    customers per order-year, the fraction supplied by NATION_2.
    Conditional share = one pass with SUM(CASE WHEN) over the joined
    fact — never two scans diffed. Volumes integer-scaled to cents so
    the share's numerator/denominator are order-independent exact sums
    (the ratio then rounds identically on any engine). All dims
    broadcast; the only fact shuffle is the orderkey join."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    cust_asia = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("c_custkey")
    )
    sup_nat = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("_sn")
    )
    vol_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_asia), o.o_custkey == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(sup_nat), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("_sn") == "NATION_2", vol_c).otherwise(F.lit(0))
                  ).alias("_nat"),
            F.sum(vol_c).alias("_all"),
        )
        .select(
            "o_year",
            F.round(F.col("_nat") / F.col("_all"), 6).alias("mkt_share"),
            F.col("_all").alias("total_volume_c"),
        )
    )


SQL_TPCH_MARKET_SHARE = """
WITH v AS (
  SELECT YEAR(o_orderdate) AS o_year,
         CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           AS vol_c,
         (SELECT n_name FROM nation WHERE n_nationkey = s_nationkey) AS sn
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE o_custkey IN (
    SELECT c_custkey FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'))
SELECT o_year,
       ROUND(SUM(CASE WHEN sn = 'NATION_2' THEN vol_c ELSE 0 END)
             / CAST(SUM(vol_c) AS DOUBLE), 6) AS mkt_share,
       CAST(SUM(vol_c) AS BIGINT) AS total_volume_c
FROM v GROUP BY 1
"""


def q_tpch_top_supplier(spark, sf):
    """TPC-H Q15 shape (top supplier via aggregate view): per-supplier
    Q1-1996 revenue, return the supplier(s) hitting the maximum.
    Revenue is integer cents, so the max and the equality against it
    are EXACT on every engine (a double-sum max would tie-break
    differently per summation order). The max is a 1-row broadcast
    equi-join against the aggregate — the fact table is scanned once."""
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("rev_c")
        )
    )
    mx = rev.agg(F.max("rev_c").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), rev.rev_c == F.col("_mx"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("rev_c") / 100.0, 2).alias("total_revenue"),
        )
    )


SQL_TPCH_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
           AS rev_c
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY 1)
SELECT s_suppkey, s_name, ROUND(rev_c / 100.0, 2) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_c = (SELECT MAX(rev_c) FROM rev)
"""


def q_tpch_supplier_relationship(spark, sf):
    """TPC-H Q16 shape (count-distinct relationship with NOT IN):
    distinct supplier count per (brand, type, size) for selected sizes,
    excluding one brand/type and excluding negative-balance suppliers
    via an anti-join (the NOT IN). Bad-supplier set and the part dim
    broadcast; the count-distinct shuffles once on the group key with
    partial distinct map-side."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13)
    )
    bad = _t(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_TPCH_SUPPLIER_RELATIONSHIP = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


def q_tpch_product_profit(spark, sf):
    """TPC-H Q9 shape (product-type profit by nation and year). This
    schema has no partsupp, so supply cost is proxied as
    0.1 * p_retailprice per unit — the SHAPE under test (5-way join,
    LIKE-filtered part dim, two-level group) is Q9's. Profit is
    integer-scaled; part/supplier/nation broadcast, the fact shuffles
    only for the orderkey join and final group."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    p = _t(spark, sf, "part").filter(F.col("p_name").like("%gear%"))
    profit_c = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100
    ).cast("bigint")
    return (
        li.join(F.broadcast(p.select("p_partkey", "p_retailprice")),
                li.l_partkey == F.col("p_partkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(profit_c).alias("profit_c"),
             F.count(F.lit(1)).alias("n_lines"))
    )


SQL_TPCH_PRODUCT_PROFIT = """
SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
       CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)
             - 0.1 * p_retailprice * l_quantity) * 100) AS BIGINT))
         AS BIGINT) AS profit_c,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2
"""


def q_tpch_cube_revenue(spark, sf):
    """CUBE aggregation (all 2^k grouping sets in one pass): revenue and
    counts by (returnflag, linestatus), each one-dimension margin, and
    the grand total — the multi-level-rollup companion to
    tpch_rollup_revenue, exercising Spark's Expand-based grouping-set
    plan (one scan, one shuffle for all four grouping sets)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("revenue_c"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "cnt",
            "revenue_c",
            "gid",
        )
    )


SQL_TPCH_CUBE_REVENUE = """
SELECT COALESCE(l_returnflag, 'ALL') AS flag,
       COALESCE(l_linestatus, 'ALL') AS status,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
             AS BIGINT)) AS BIGINT) AS revenue_c,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
         AS gid
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_kmv_global(spark, sf):
    """Ungrouped (corpus-wide) KMV distinct estimate — exercises the
    two-phase path (VERDICT r3 item 3): k smallest per (hash % 64)
    bucket in a PARALLEL bucket-partitioned window, then a final rank
    over the <= 64*k survivors. Result is bit-identical to a single
    global window, so the oracle is the straightforward one-window SQL."""
    from emf_spark.datax import sketches

    ev = _t(spark, sf, "events")
    return sketches.kmv_distinct(ev, "user_id", None, k=64)


SQL_KMV_GLOBAL = """
WITH h AS (
  SELECT DISTINCT
    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14) AS BIGINT)
      / 72057594037927936.0 AS hh
  FROM events WHERE user_id IS NOT NULL),
ranked AS (SELECT hh, ROW_NUMBER() OVER (ORDER BY hh) AS r FROM h),
per AS (SELECT MAX(r) AS n, MAX(hh) AS kth FROM ranked WHERE r <= 64)
SELECT ROUND(CASE WHEN n < 64 THEN CAST(n AS DOUBLE) ELSE 63.0 / kth END, 4)
         AS kmv_estimate,
       n < 64 AS exactish
FROM per
"""


def q_hll_distinct(spark, sf):
    """HyperLogLog distinct users per event_type from EXPLICIT integer
    registers (sketches.hll_distinct): two chained algebraic aggs —
    per-(group, bucket) max rank, then per-group integer-scaled
    harmonic sum — no distinct pass and no window, so the shuffle
    carries at most m=256 register rows per (group, task) at any data
    size (the approx_count_distinct shuffle bound, but with registers
    an external engine reproduces bit-for-bit). The compare covers the
    exact integer register invariants plus the raw estimate, whose one
    double division IEEE 754 makes engine-portable; the ln-corrected
    `hll_estimate` is tolerance-tested in pytest instead (ln isn't
    bit-portable across engines)."""
    from emf_spark.datax import sketches

    ev = _t(spark, sf, "events")
    return sketches.hll_distinct(ev, "user_id", ["event_type"], p=8).select(
        "event_type", "hll_sum_scaled", "hll_zero_regs", "hll_raw"
    )


def _sql_hll_distinct() -> str:
    from emf_spark.datax.sketches import _hll_alpha

    numer = _hll_alpha(256) * 256 * 256 * float(1 << 49)
    return f"""
WITH h AS (
  SELECT event_type,
    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL),
rk AS (
  SELECT event_type, h % 256 AS b,
         CASE WHEN h // 256 = 0 THEN 49
              ELSE 49 - length(format('{{:b}}', h // 256)) END AS r
  FROM h),
regs AS (SELECT event_type, b, MAX(r) AS reg FROM rk GROUP BY 1, 2),
per AS (
  SELECT event_type,
         CAST(SUM(CAST(1 AS BIGINT) << (49 - reg)) AS BIGINT) AS s_present,
         COUNT(*) AS n_regs
  FROM regs GROUP BY 1)
SELECT event_type,
       CAST(s_present + (256 - n_regs) * (CAST(1 AS BIGINT) << 49)
            AS BIGINT) AS hll_sum_scaled,
       CAST(256 - n_regs AS BIGINT) AS hll_zero_regs,
       {numer!r} / CAST(s_present + (256 - n_regs) * (CAST(1 AS BIGINT) << 49)
                        AS DOUBLE) AS hll_raw
FROM per
"""


def q_events_salted_join(spark, sf):
    """Skew-salted equi-join (operators/skew.salted_join): events fan
    out to a 10-rows-per-key customer dim on user_id with an 8-way
    salt, so a hot key's rows spread over 8 reducers; the aggregate
    after the join proves result-equality with the oracle's PLAIN
    join — the salt is pure physical layout."""
    from emf_spark.operators.skew import salted_join

    ev = _t(spark, sf, "events").select(
        F.col("user_id").alias("k"), "event_type", "value"
    )
    cust = _t(spark, sf, "customer").select(
        (F.col("c_custkey") % 150).alias("k"), "c_mktsegment"
    )
    j = salted_join(ev, cust, ["k"], n_salt=8)
    return j.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_c"),
    )


SQL_EVENTS_SALTED_JOIN = """
SELECT c.c_mktsegment, e.event_type, COUNT(*) AS cnt,
       CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS value_c
FROM events e
JOIN (SELECT c_custkey % 150 AS k, c_mktsegment FROM customer) c
  ON e.user_id = c.k
GROUP BY 1, 2
"""


def q_data_global_index(spark, sf):
    """Scalable global row numbering (datax/ordering.global_index):
    contiguous 0-based index in doc_id order via value-range buckets +
    parallel in-bucket ranks + broadcast offsets — never the oracle's
    single-partition ROW_NUMBER window, but bit-identical to it."""
    from emf_spark.datax.ordering import global_index

    d = _t(spark, sf, "documents")
    return global_index(d, "doc_id", n_buckets=64).select("doc_id", "row_idx")


SQL_DATA_GLOBAL_INDEX = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_idx
FROM documents
"""


# ceil(2^56 / 8) — 8 shards over the portable 56-bit hash space
_EPOCH_SHARD_W = -(-(1 << 56) // 8)


def q_data_epoch_shuffle(spark, sf):
    """Deterministic training-epoch shuffle (ordering.epoch_shuffle):
    order-preserving hash-range shards + in-shard positions replay the
    exact global permutation ORDER BY (md5-56(id:epoch), id) with no
    cross-shard sort; integer DIV sharding (hashes exceed 2^53, float
    division would flip boundary rows)."""
    from emf_spark.datax.ordering import epoch_shuffle

    d = _t(spark, sf, "documents")
    return epoch_shuffle(d, "doc_id", epoch=3, n_shards=8).select(
        "doc_id", "shard", "pos"
    )


SQL_DATA_EPOCH_SHUFFLE = f"""
WITH h AS (
  SELECT doc_id,
    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':3'), 1, 14) AS BIGINT)
      AS eh
  FROM documents)
SELECT doc_id,
       CAST(eh // {_EPOCH_SHARD_W} AS INTEGER) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY eh // {_EPOCH_SHARD_W}
                               ORDER BY eh, doc_id) - 1 AS BIGINT) AS pos
FROM h
"""


def q_data_k_anonymity(spark, sf):
    """k-anonymity suppression (datax/pii.k_anonymity): rows whose
    (lang, source, length-bucket) quasi-identifier cohort has < 5
    members are flagged for suppression; one grouped count + null-safe
    join back."""
    from emf_spark.datax.pii import k_anonymity

    d = _t(spark, sf, "documents").select(
        "doc_id", "lang", "source", F.expr("n_chars DIV 200").alias("size_b")
    )
    return k_anonymity(d, ["lang", "source", "size_b"], k=5).select(
        "doc_id", "group_size", "suppressed"
    )


SQL_DATA_K_ANONYMITY = """
WITH g AS (SELECT doc_id, lang, source, n_chars // 200 AS size_b
           FROM documents),
c AS (SELECT lang, source, size_b, COUNT(*) AS group_size
      FROM g GROUP BY 1, 2, 3)
SELECT g.doc_id, c.group_size, c.group_size < 5 AS suppressed
FROM g JOIN c
  ON g.lang IS NOT DISTINCT FROM c.lang
 AND g.source IS NOT DISTINCT FROM c.source
 AND g.size_b IS NOT DISTINCT FROM c.size_b
"""


def q_events_majority_type(spark, sf):
    """Majority label per group (datax/profile.mode_per_group): most
    frequent event_type per user via two algebraic aggregates (pair
    count, struct-max) — no window, no per-row state; tie-break is the
    lexicographically largest value on both engines."""
    from emf_spark.datax.profile import mode_per_group

    ev = _t(spark, sf, "events")
    return mode_per_group(ev, ["user_id"], "event_type")


SQL_EVENTS_MAJORITY_TYPE = """
WITH c AS (SELECT user_id, event_type, COUNT(*) AS c
           FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
r AS (SELECT user_id, event_type, c,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY c DESC, event_type DESC) AS rk
      FROM c)
SELECT user_id, event_type AS mode_value, c AS mode_count
FROM r WHERE rk = 1
"""


def q_text_ascii_fold(spark, sf):
    """Accent folding (textstats.ascii_fold): documents get accents
    injected deterministically (a→á on doc_id%3==0, e→é on %3==1 —
    translate on both engines), the fold restores them, and the rollup
    pins restored-count plus an md5-derived content hash sum of the
    folded text — one changed byte anywhere fails the row."""
    from emf_spark.datax.textstats import ascii_fold

    d = _t(spark, sf, "documents")
    accented = F.when(
        F.col("doc_id") % 3 == 0, F.translate("text", "a", "á")
    ).when(
        F.col("doc_id") % 3 == 1, F.translate("text", "e", "é")
    ).otherwise(F.col("text"))
    synth = d.select("doc_id", "source", "text",
                     accented.alias("accented"))
    folded = ascii_fold(synth, text_col="accented", out_col="folded")
    # 10 hex digits (2^40) so a per-source SUM stays in int64 out to
    # ~10^6 docs/source (14 digits overflowed at sf0.1 under ANSI)
    h = F.conv(F.substring(F.md5(F.col("folded").cast("binary")), 1, 10),
               16, 10).cast("bigint")
    return folded.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.col("accented") != F.col("text"), 1).otherwise(0))
        .alias("accented_docs"),
        F.sum(F.when(F.col("folded") == F.col("text"), 1).otherwise(0))
        .alias("restored_docs"),
        F.sum(h).alias("content_hash_sum"),
    )


SQL_TEXT_ASCII_FOLD = """
WITH synth AS (
  SELECT doc_id, source, text,
         CASE WHEN doc_id % 3 = 0 THEN translate(text, 'a', 'á')
              WHEN doc_id % 3 = 1 THEN translate(text, 'e', 'é')
              ELSE text END AS accented
  FROM documents),
folded AS (
  SELECT *,
         translate(accented,
           'àáâãäåèéêëìíîïòóôõöùúûüçñýÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÇÑÝ',
           'aaaaaaeeeeiiiiooooouuuucnyAAAAAAEEEEIIIIOOOOOUUUUCNY')
           AS folded
  FROM synth)
SELECT source, COUNT(*) AS docs,
       CAST(SUM(CASE WHEN accented <> text THEN 1 ELSE 0 END) AS BIGINT)
         AS accented_docs,
       CAST(SUM(CASE WHEN folded = text THEN 1 ELSE 0 END) AS BIGINT)
         AS restored_docs,
       CAST(SUM(CAST('0x' || substr(md5(folded), 1, 10) AS BIGINT))
            AS BIGINT) AS content_hash_sum
FROM folded GROUP BY 1
"""


def q_data_histogram(spark, sf):
    """Equi-width value histogram (profile.numeric_histogram): 20 bins
    over [0, 500) of events.value in one map-combinable aggregate —
    the distribution half of the column profiler; out-of-bounds clamp
    to edge bins so they stay visible."""
    from emf_spark.datax.profile import numeric_histogram

    ev = _t(spark, sf, "events")
    h = numeric_histogram(ev, "value", 0.0, 500.0, bins=20)
    return h.select(
        "bin",
        F.round("lo", 6).alias("lo"),
        F.round("hi", 6).alias("hi"),
        "cnt",
    )


SQL_DATA_HISTOGRAM = """
SELECT bin,
       ROUND(0.0 + bin * 25.0, 6) AS lo,
       ROUND(0.0 + (bin + 1) * 25.0, 6) AS hi,
       COUNT(*) AS cnt
FROM (
  SELECT CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 25.0), 0), 19) AS INT)
           AS bin
  FROM events WHERE value IS NOT NULL)
GROUP BY 1
"""


def q_events_transition_matrix(spark, sf):
    """Per-user event-type transition matrix (the Markov-chain view of
    a clickstream): lag window over (user, ts, event_id) pairs each
    event with its predecessor ('_start' for a user's first event),
    then one count aggregate — the product-analytics shape behind
    'what do users do after X'. One window Exchange on user_id, the
    transition aggregate runs over |types|^2+|types| rows."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    prev = F.coalesce(F.lag("event_type").over(w), F.lit("_start"))
    return (
        ev.select(prev.alias("prev_type"), "event_type")
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_EVENTS_TRANSITION_MATRIX = """
WITH t AS (
  SELECT COALESCE(LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id), '_start')
           AS prev_type,
         event_type
  FROM events)
SELECT prev_type, event_type, COUNT(*) AS n
FROM t GROUP BY 1, 2
"""


def q_events_skew_profile(spark, sf):
    """Key-skew report (operators/skew.skew_profile): the 10 heaviest
    user_id keys of the events stream with exact basis-point shares —
    the measurement that picks plain-shuffle vs salted_join vs
    broadcast. One map-combinable count aggregate +
    TakeOrderedAndProject; share is integer DIV, replayed by
    DuckDB's //."""
    from emf_spark.operators.skew import skew_profile

    ev = _t(spark, sf, "events")
    return skew_profile(ev, ["user_id"], top=10)


SQL_EVENTS_SKEW_PROFILE = """
WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
t AS (SELECT SUM(cnt) AS total FROM c)
SELECT user_id, cnt,
       CAST(cnt * 10000 // (SELECT total FROM t) AS BIGINT) AS share_bp
FROM c ORDER BY cnt DESC, user_id LIMIT 10
"""


def q_ts_ohlc(spark, sf):
    """OHLC candle bars (timeseries.ohlc_bars): daily open/high/low/
    close per event type in ONE algebraic aggregate (first/last via
    lexicographic struct-min/max — the A4/A5 pattern — so open/close
    are SELECTED raw doubles, bit-exact cross-engine with no float
    arithmetic); oracle replays via ordered ROW_NUMBER picks.
    floor(epoch()) mirrors unix_timestamp's sub-second truncation."""
    from emf_spark.datax.timeseries import ohlc_bars

    ev = _t(spark, sf, "events")
    return ohlc_bars(
        ev, ["event_type"], "ts", "value", "event_id", 86_400
    )


SQL_TS_OHLC = """
WITH e AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         event_id, value
  FROM events),
b AS (SELECT event_type, (ep // 86400) * 86400 AS bucket_start,
             ep, event_id, value FROM e),
r AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY event_type, bucket_start
                       ORDER BY ep, event_id) AS ra,
    ROW_NUMBER() OVER (PARTITION BY event_type, bucket_start
                       ORDER BY ep DESC, event_id DESC) AS rd
  FROM b)
SELECT event_type, bucket_start,
       MAX(CASE WHEN ra = 1 THEN value END) AS open,
       MAX(CASE WHEN rd = 1 THEN value END) AS close,
       MAX(value) AS high, MIN(value) AS low, COUNT(*) AS n
FROM r GROUP BY 1, 2
"""


def q_ts_rate_limited(spark, sf):
    """Per-key rate limiting (timeseries.rate_limit): at most 3 events
    per (user, hour), first by (ts, event_id); the per-type rollup pins
    kept/dropped counts plus the integer-cent value volume that
    survives the throttle."""
    from emf_spark.datax.timeseries import rate_limit

    ev = _t(spark, sf, "events")
    r = rate_limit(ev, ["user_id"], "ts", "event_id", 3, 3_600)
    cents = F.round(F.col("value") * 100).cast("bigint")
    return r.groupBy("event_type").agg(
        F.sum("kept").alias("kept"),
        F.sum(1 - F.col("kept")).alias("dropped"),
        F.sum(F.when(F.col("kept") == 1, cents).otherwise(0))
        .alias("kept_cents"),
    )


SQL_TS_RATE_LIMITED = """
WITH e AS (
  SELECT event_type, user_id, event_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events),
r AS (
  SELECT event_type, value,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY user_id, (ep // 3600) * 3600
                ORDER BY ep, event_id) <= 3
              THEN 1 ELSE 0 END AS kept
  FROM e)
SELECT event_type,
       CAST(SUM(kept) AS BIGINT) AS kept,
       CAST(SUM(1 - kept) AS BIGINT) AS dropped,
       CAST(SUM(CASE WHEN kept = 1
                     THEN CAST(round(value * 100) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS kept_cents
FROM r GROUP BY 1
"""


def q_data_importance_votes(spark, sf):
    """DSIR-style data selection (sampling.importance_votes — Xie et
    al. 2023) with source 'src0' as the target distribution: hashed
    word-bigram bucket counts vote per gram occurrence by the SIGN of
    the Laplace-smoothed likelihood ratio (integer cross-multiply, no
    ln), summed per document. The per-source rollup pins gram totals,
    vote sums, and how many docs lean target — every number replays
    bit-for-bit from the portable md5 word hash up."""
    from emf_spark.datax.dedup import portable_word_hash
    from emf_spark.datax.sampling import importance_votes

    d = _t(spark, sf, "documents")
    scored = importance_votes(
        d.withColumn("is_tgt", F.col("source") == "src0"),
        "is_tgt",
        word_hash=portable_word_hash,
    )
    joined = d.select("doc_id", "source").join(scored, "doc_id")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_grams").alias("total_grams"),
        F.sum("votes").alias("sum_votes"),
        F.sum(F.when(F.col("votes") > 0, 1).otherwise(0))
        .alias("target_leaning"),
    )


def _sql_data_importance_votes() -> str:
    B = 1_000_003
    acc = f"((wh[i] * {B} + wh[i + 1]) % {_P31})"
    return f"""
WITH words AS (SELECT doc_id, source, {_SQL_WORD_HASHES} AS wh
               FROM (SELECT doc_id, source,
                            string_split({_NORM_TXT}, ' ') AS w
                     FROM documents) t),
grams AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, greatest(len(wh) - 1, 0) + 1),
                i -> {acc} % 4096)) AS b
  FROM words),
counts AS (
  SELECT b,
         SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
         SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cr
  FROM grams GROUP BY 1),
tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM counts),
votes AS (
  SELECT b,
         CASE WHEN (ct + 1) * (nr + 4096) > (cr + 1) * (nt + 4096) THEN 1
              WHEN (ct + 1) * (nr + 4096) < (cr + 1) * (nt + 4096) THEN -1
              ELSE 0 END AS vote
  FROM counts, tot),
per AS (
  SELECT g.doc_id, COUNT(*) AS n_grams, SUM(v.vote) AS votes
  FROM grams g JOIN votes v USING (b) GROUP BY 1)
SELECT d.source, COUNT(*) AS docs,
       CAST(SUM(COALESCE(p.n_grams, 0)) AS BIGINT) AS total_grams,
       CAST(SUM(COALESCE(p.votes, 0)) AS BIGINT) AS sum_votes,
       CAST(SUM(CASE WHEN COALESCE(p.votes, 0) > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS target_leaning
FROM documents d LEFT JOIN per p USING (doc_id)
GROUP BY 1
"""


def q_entity_snm_pairs(spark, sf):
    """Sorted-neighborhood candidate generation (entity.
    sorted_neighborhood_pairs — Hernandez & Stolfo 1995): customers
    ordered by integer-cent account balance, every row paired with its
    next 2 neighbors in that order; the global order comes from
    value-range bucketing (ordering.global_index), never a
    single-partition window, and neighbors materialize through an
    EQUI-join on exploded probe indexes. The rollup pins pair counts,
    close-pair counts (balance gap <= 50 cents), and exact integer
    gap sums per neighborhood distance."""
    from emf_spark.datax.entity import sorted_neighborhood_pairs

    c = _t(spark, sf, "customer")
    base = c.select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    pairs = sorted_neighborhood_pairs(
        base, "bal_cents", id_col="c_custkey", window=3
    )
    diff = F.abs(F.col("key_b") - F.col("key_a"))
    return pairs.groupBy("gap").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(diff <= 50, 1).otherwise(0)).alias("n_close"),
        F.sum(diff).alias("sum_diff"),
    )


SQL_ENTITY_SNM_PAIRS = """
WITH c AS (
  SELECT c_custkey AS id, CAST(round(c_acctbal * 100) AS BIGINT) AS k
  FROM customer WHERE c_acctbal IS NOT NULL),
r AS (SELECT id, k, ROW_NUMBER() OVER (ORDER BY k, id) - 1 AS i FROM c),
p AS (
  SELECT a.k AS ka, b.k AS kb, CAST(b.i - a.i AS INT) AS gap
  FROM r a JOIN r b ON b.i BETWEEN a.i + 1 AND a.i + 2)
SELECT gap, COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN abs(kb - ka) <= 50 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_close,
       CAST(SUM(abs(kb - ka)) AS BIGINT) AS sum_diff
FROM p GROUP BY 1
"""


def q_data_apply_changes(spark, sf):
    """CDC merge (diff.apply_changes — the Delta/Iceberg MERGE shape):
    a deterministic change feed against the orders snapshot — updates
    on keys %10==3 (with a SECOND later update on %100==3 so
    latest-wins is exercised), deletes on %10==7, inserts of brand-new
    keys on %10==1 — folded in one keyed aggregate + one full-outer
    join; the per-status rollup pins row counts, integer-cent price
    sums, and key ranges of the merged snapshot."""
    from emf_spark.datax.diff import apply_changes

    o = _t(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = o.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        cents.alias("price_cents"),
    )
    k = F.col("o_orderkey")
    u1 = base.filter(k % 10 == 3).select(
        "o_orderkey", F.lit(1).alias("seq"), F.lit("U").alias("op"),
        "o_custkey", F.lit("X").alias("o_orderstatus"),
        (F.col("price_cents") + 100_000).alias("price_cents"),
    )
    u2 = base.filter(k % 100 == 3).select(
        "o_orderkey", F.lit(2).alias("seq"), F.lit("U").alias("op"),
        "o_custkey", F.lit("Y").alias("o_orderstatus"),
        (F.col("price_cents") + 200_000).alias("price_cents"),
    )
    dels = base.filter(k % 10 == 7).select(
        "o_orderkey", F.lit(1).alias("seq"), F.lit("D").alias("op"),
        F.lit(None).cast("bigint").alias("o_custkey"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("bigint").alias("price_cents"),
    )
    ins = base.filter(k % 10 == 1).select(
        (k + 1_000_000_000).alias("o_orderkey"),
        F.lit(1).alias("seq"), F.lit("I").alias("op"),
        "o_custkey", F.lit("N").alias("o_orderstatus"),
        (F.col("price_cents") + 7).alias("price_cents"),
    )
    feed = u1.unionByName(u2).unionByName(dels).unionByName(ins)
    res = apply_changes(base, feed, ["o_orderkey"], "seq")
    return res.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price_cents").alias("sum_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


SQL_DATA_APPLY_CHANGES = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders),
feed AS (
  SELECT o_orderkey, 1 AS seq, 'U' AS op, o_custkey,
         'X' AS o_orderstatus, price_cents + 100000 AS price_cents
  FROM base WHERE o_orderkey % 10 = 3
  UNION ALL
  SELECT o_orderkey, 2, 'U', o_custkey, 'Y', price_cents + 200000
  FROM base WHERE o_orderkey % 100 = 3
  UNION ALL
  SELECT o_orderkey, 1, 'D', NULL, NULL, NULL
  FROM base WHERE o_orderkey % 10 = 7
  UNION ALL
  SELECT o_orderkey + 1000000000, 1, 'I', o_custkey, 'N', price_cents + 7
  FROM base WHERE o_orderkey % 10 = 1),
latest AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                 ORDER BY seq DESC) AS rn
    FROM feed) WHERE rn = 1),
merged AS (
  SELECT COALESCE(l.o_orderkey, b.o_orderkey) AS o_orderkey,
         CASE WHEN l.op IS NULL THEN b.o_custkey ELSE l.o_custkey END
           AS o_custkey,
         CASE WHEN l.op IS NULL THEN b.o_orderstatus
              ELSE l.o_orderstatus END AS o_orderstatus,
         CASE WHEN l.op IS NULL THEN b.price_cents
              ELSE l.price_cents END AS price_cents
  FROM base b FULL OUTER JOIN latest l ON b.o_orderkey = l.o_orderkey
  WHERE l.op IS NULL OR l.op <> 'D')
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM merged GROUP BY 1
"""


def q_dedup_semantic(spark, sf):
    """SemDeDup (similarity.semantic_dedup — Abbas et al. 2023):
    embeddings plus deterministically-perturbed near-dup copies of
    every 10th vector (+0.05 on coordinate 0, cosine ~0.9999 vs the
    original while unrelated pairs top out ~0.51), clustered with one
    exact-lattice Lloyd round, near-dup pairs searched WITHIN clusters
    only, survivor = farthest-from-centroid. The oracle replays the
    synthesis, the unrolled k-means round, every within-cluster
    cosine, and the drop verdicts; the per-cluster rollup pins counts,
    dup edges, and the int64 kept-distance sum bit-for-bit."""
    from emf_spark.datax.similarity import semantic_dedup

    e = _t(spark, sf, "embeddings")
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    copies = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + F.when(i == 0, F.lit(0.05)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    # checkpoint the synthesized frame: Lloyd's driver-coordinated
    # rounds re-evaluate their source once per job, and the
    # transform-with-index union is expensive to recompile per round
    # (measured 29.7s -> ~8s for the full query at sf0.1)
    synth = base.unionByName(copies).localCheckpoint(eager=False)
    res = semantic_dedup(synth, k=8, iters=1, threshold=0.95)
    return res.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(~F.col("kept"), 1).otherwise(0)).alias("n_dropped"),
        F.sum("n_dups").alias("dup_edges"),
        F.sum(
            F.when(F.col("kept"), F.col("centroid_dist")).otherwise(F.lit(0))
        ).alias("kept_dist_sum"),
    )


def _sql_dedup_semantic(iters: int = 2) -> str:
    rng = "range(1, 65)"
    km = ",\n".join(_sql_kmeans_parts(8, iters, 64, 10**6, "synth"))
    return f"""
WITH synth AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform({rng},
           i -> CAST(embedding[i] AS DOUBLE)
                + CASE WHEN i = 1 THEN 0.05 ELSE 0.0 END)
  FROM embeddings WHERE vec_id % 10 = 0),
{km},
nbr AS (
  SELECT x.vec_id AS ida, x.dist AS da, y.dist AS db, y.vec_id AS idb
  FROM a{iters} x JOIN a{iters} y
    ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
  JOIN synth sx ON sx.vec_id = x.vec_id
  JOIN synth sy ON sy.vec_id = y.vec_id
  WHERE ROUND(
    list_sum(list_transform({rng}, i -> sx.embedding[i] * sy.embedding[i]))
    / (SQRT(list_sum(list_transform(sx.embedding, v -> v * v)))
       * SQRT(list_sum(list_transform(sy.embedding, v -> v * v)))),
    6) >= 0.95),
per AS (
  SELECT ida, COUNT(*) AS n_dups,
         MAX(CASE WHEN db > da OR (db = da AND idb < ida)
                  THEN 1 ELSE 0 END) AS dropf
  FROM nbr GROUP BY 1),
fin AS (
  SELECT v.cluster, v.dist,
         COALESCE(p.n_dups, 0) AS n_dups, COALESCE(p.dropf, 0) AS dropf
  FROM a{iters} v LEFT JOIN per p ON v.vec_id = p.ida)
SELECT CAST(cluster AS INT) AS cluster, COUNT(*) AS n_vecs,
       CAST(SUM(dropf) AS BIGINT) AS n_dropped,
       CAST(SUM(n_dups) AS BIGINT) AS dup_edges,
       CAST(SUM(CASE WHEN dropf = 0 THEN dist ELSE 0 END) AS BIGINT)
         AS kept_dist_sum
FROM fin GROUP BY 1
"""


def q_dedup_line_boilerplate(spark, sf):
    """CCNet/C4-style corpus-frequency segment removal
    (datax/dedup.line_dedup): drop from every document the segments
    (here ' a '-bounded phrases — the testdata corpus has no newlines)
    that appear in more than max_df=1 distinct documents, preserving
    segment order; rolled up per source so removed-char totals and the
    changed-doc count are the checked values."""
    from emf_spark.datax.dedup import line_dedup

    d = _t(spark, sf, "documents")
    out = line_dedup(
        d, text_col="text", id_col="doc_id", max_df=1,
        delimiter=" a ", out_col="text_deduped",
    )
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_chars").alias("chars_before"),
        F.sum(F.length("text_deduped")).alias("chars_after"),
        F.sum(
            F.when(F.length("text_deduped") != F.col("n_chars"), 1).otherwise(0)
        ).alias("docs_changed"),
    )


SQL_DEDUP_LINE_BOILERPLATE = """
WITH segs AS (
  SELECT doc_id, unnest(parts) AS seg,
         unnest(generate_series(1, len(parts))) AS pos
  FROM (SELECT doc_id,
               string_split(COALESCE(text, ''), ' a ') AS parts
        FROM documents) d
),
freq AS (
  SELECT seg FROM (
    SELECT seg, COUNT(DISTINCT doc_id) AS df
    FROM segs WHERE TRIM(seg) <> '' GROUP BY 1)
  WHERE df > 1
),
kept AS (
  SELECT * FROM segs WHERE TRIM(seg) = ''
  UNION ALL
  SELECT * FROM segs
  WHERE TRIM(seg) <> '' AND seg NOT IN (SELECT seg FROM freq)
),
rebuilt AS (
  SELECT d.doc_id, d.source, d.n_chars, COALESCE(k.td, '') AS text_deduped
  FROM documents d LEFT JOIN (
    SELECT doc_id, string_agg(seg, ' a ' ORDER BY pos) AS td
    FROM kept GROUP BY 1) k USING (doc_id)
)
SELECT source, COUNT(*) AS docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_before,
       CAST(SUM(LENGTH(text_deduped)) AS BIGINT) AS chars_after,
       CAST(SUM(CASE WHEN LENGTH(text_deduped) <> n_chars
                     THEN 1 ELSE 0 END) AS BIGINT) AS docs_changed
FROM rebuilt GROUP BY source
"""


def q_data_quality_checks(spark, sf):
    """Deequ-style one-pass constraint suite (datax/quality.py): four
    assertions over orders — completeness, key uniqueness, a range
    check chosen to FAIL (o_totalprice tops out near 500k) and a
    values_in check that FAILS on status 'P' — evaluated in a single
    aggregate; metrics are exact integer num/den pairs and verdicts
    integer-compared, so everything replays bit-for-bit."""
    from emf_spark.datax.quality import check_constraints

    o = _t(spark, sf, "orders")
    res = check_constraints(o, [
        ("completeness", "o_custkey", 999, 1000),
        ("unique", "o_orderkey"),
        ("range", "o_totalprice", 0, 400000),
        ("values_in", "o_orderstatus", ["O", "F"]),
    ])
    return res.select(
        F.col("check").alias("chk"),
        F.col("column").alias("col_name"),
        "metric_num",
        "metric_den",
        F.col("passed").cast("int").alias("passed"),
    )


SQL_DATA_QUALITY_CHECKS = """
SELECT 'completeness' AS chk, 'o_custkey' AS col_name,
       CAST(COUNT(o_custkey) AS BIGINT) AS metric_num,
       CAST(COUNT(*) AS BIGINT) AS metric_den,
       CAST(CASE WHEN COUNT(o_custkey) * 1000 >= 999 * COUNT(*)
                 THEN 1 ELSE 0 END AS INT) AS passed
FROM orders
UNION ALL
SELECT 'unique', 'o_orderkey',
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
       CAST(COUNT(o_orderkey) AS BIGINT),
       CAST(CASE WHEN COUNT(DISTINCT o_orderkey) = COUNT(o_orderkey)
                 THEN 1 ELSE 0 END AS INT)
FROM orders
UNION ALL
SELECT 'range', 'o_totalprice',
       CAST(COUNT(CASE WHEN o_totalprice BETWEEN 0 AND 400000
                       THEN 1 END) AS BIGINT),
       CAST(COUNT(o_totalprice) AS BIGINT),
       CAST(CASE WHEN COUNT(CASE WHEN o_totalprice BETWEEN 0 AND 400000
                                 THEN 1 END) = COUNT(o_totalprice)
                 THEN 1 ELSE 0 END AS INT)
FROM orders
UNION ALL
SELECT 'values_in', 'o_orderstatus',
       CAST(COUNT(CASE WHEN o_orderstatus IN ('O', 'F')
                       THEN 1 END) AS BIGINT),
       CAST(COUNT(o_orderstatus) AS BIGINT),
       CAST(CASE WHEN COUNT(CASE WHEN o_orderstatus IN ('O', 'F')
                                 THEN 1 END) = COUNT(o_orderstatus)
                 THEN 1 ELSE 0 END AS INT)
FROM orders
"""


def q_ts_interval_merge(spark, sf):
    """Gaps-and-islands interval coalescing (operators/ranges.
    merge_intervals): each event opens a deterministic activity
    interval [ep, ep + 300 + (event_id % 7) * 120); overlapping or
    touching intervals per user merge into islands (one exchange on
    user_id + a linear within-key window scan), then a 50-bucket
    rollup pins island counts, covered seconds, and the longest
    island. Oracle replays the same running-max/running-sum windows
    with the same (s, e, event_id) total order."""
    from emf_spark.operators.ranges import merge_intervals

    ev = _t(spark, sf, "events")
    ep = F.unix_timestamp("ts").cast("bigint")
    iv = ev.select(
        "user_id",
        "event_id",
        ep.alias("s"),
        (ep + 300 + (F.col("event_id") % 7) * 120).alias("e"),
    )
    isl = merge_intervals(
        iv, "s", "e", keys=["user_id"], min_gap=0.0, tiebreak="event_id"
    )
    return isl.groupBy((F.col("user_id") % 50).alias("ubucket")).agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start")).alias("covered_sec"),
        F.max(F.col("island_end") - F.col("island_start")).alias("max_island_sec"),
        F.sum("n_rows").alias("n_events"),
    )


SQL_TS_INTERVAL_MERGE = """
WITH e AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 300 + (event_id % 7) * 120 AS e
  FROM events),
m AS (
  SELECT user_id, event_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM e),
f AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS brk
  FROM m),
g AS (
  SELECT user_id, s, e,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM f),
i AS (
  SELECT user_id, isl, MIN(s) AS st, MAX(e) AS en, COUNT(*) AS nr
  FROM g GROUP BY 1, 2)
SELECT user_id % 50 AS ubucket,
       COUNT(*) AS n_islands,
       CAST(SUM(en - st) AS BIGINT) AS covered_sec,
       CAST(MAX(en - st) AS BIGINT) AS max_island_sec,
       CAST(SUM(nr) AS BIGINT) AS n_events
FROM i GROUP BY 1
"""


def q_dedup_jaccard_exact(spark, sf):
    """EXACT Jaccard-threshold near-dup pairs via prefix filtering
    (dedup.jaccard_threshold_pairs — ssjoin/PPJoin family): recall-1.0
    complement to the banded minhash query. Rarest-first prefixes keep
    the candidate equi-join bounded; the oracle is the brute-force
    all-pairs shingle join, feasible only at oracle scale."""
    from emf_spark.datax import dedup as dd

    d = _fan(spark, _t(spark, sf, "documents"))
    return dd.jaccard_threshold_pairs(d, threshold=0.6).orderBy(
        "id_a", "id_b"
    )


SQL_DEDUP_JACCARD_EXACT = f"""
WITH norm AS (SELECT doc_id, {_NORM_TXT} AS t FROM documents),
w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm),
sh AS (SELECT doc_id,
              unnest(list_distinct(list_transform(
                range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
       FROM w WHERE len(ws) >= 3),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
j AS (
  SELECT id_a, id_b, i, sa.n + sb.n - i AS u
  FROM inter
  JOIN sz sa ON sa.doc_id = id_a
  JOIN sz sb ON sb.doc_id = id_b)
SELECT id_a, id_b, ROUND(CAST(i AS DOUBLE) / u, 6) AS jaccard
FROM j WHERE CAST(i AS DOUBLE) / u >= 0.6
ORDER BY id_a, id_b
"""


def q_events_attribution(spark, sf):
    """Multi-touch attribution (funnel.attribution_report): purchases
    credit the click/view touches of the same user in the 24 h
    strictly before the conversion — first-touch, last-touch, and
    integer-micro linear models side by side. Touch matching is the
    bucketed range_join equi-join; first/last are ONE struct-min/max
    aggregate per conversion. Ties break on event id, so the oracle's
    ROW_NUMBER replay is total-ordered."""
    from emf_spark.datax.funnel import attribution_report

    ev = _t(spark, sf, "events")
    return attribution_report(ev, "purchase", ["click", "view"], 86_400)


SQL_EVENTS_ATTRIBUTION = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events),
c AS (SELECT user_id, event_id AS conv_id, ep AS cep
      FROM e WHERE event_type = 'purchase'),
t AS (SELECT user_id, event_id AS tid, event_type AS ttype, ep
      FROM e WHERE event_type IN ('click', 'view')),
j AS (
  SELECT c.conv_id, t.ttype, t.ep, t.tid
  FROM c JOIN t ON c.user_id = t.user_id
               AND t.ep >= c.cep - 86400 AND t.ep < c.cep),
r AS (
  SELECT conv_id, ttype,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ep, tid) AS ra,
         ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ep DESC, tid DESC) AS rd,
         COUNT(*) OVER (PARTITION BY conv_id) AS n
  FROM j)
SELECT ttype,
       CAST(COUNT(*) FILTER (ra = 1) AS BIGINT) AS first_touch,
       CAST(COUNT(*) FILTER (rd = 1) AS BIGINT) AS last_touch,
       CAST(SUM(1000000 // n) AS BIGINT) AS linear_micro
FROM r GROUP BY 1
"""


def q_text_collocations(spark, sf):
    """Collocation mining (textstats.collocations): ordered word pairs
    within a 3-token forward window, scored by the integer-exact
    association lift (1e6 * c_ab * T) div (c_a * c_b) — no log, no
    float, bit-portable. Pairing is an EQUI-join on (doc, position)
    via per-token forward-target explode; the corpus total T is the
    sanctioned 1-row scalar broadcast. Total (c_ab desc, w1, w2)
    order makes the top-50 limit deterministic."""
    from emf_spark.datax.textstats import collocations

    d = _t(spark, sf, "documents")
    return collocations(d, window=3, min_count=5, top=50)


SQL_TEXT_COLLOCATIONS = f"""
WITH norm AS (SELECT doc_id, {_NORM_TXT} AS t FROM documents),
wt AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm
       WHERE length(replace(t, ' ', '')) > 0),
tok AS (
  SELECT doc_id, u.pos AS pos, u.w AS w
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(ws) + 1),
                                     i -> {{'pos': i, 'w': ws[i]}})) AS u
        FROM wt)),
uni AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
tot AS (SELECT COUNT(*) AS t FROM tok),
p AS (
  SELECT a.w AS w1, b.w AS w2, COUNT(*) AS c_ab
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 3
  GROUP BY 1, 2
  HAVING COUNT(*) >= 5)
SELECT w1, w2, c_ab,
       CAST((1000000 * c_ab * (SELECT t FROM tot)) // (ua.c * ub.c) AS BIGINT)
         AS score_ppm
FROM p JOIN uni ua ON ua.w = w1 JOIN uni ub ON ub.w = w2
ORDER BY c_ab DESC, w1, w2 LIMIT 50
"""


def q_log_templates(spark, sf):
    """Drain-family log template mining (operators/templates.py):
    render events as a three-format log mix and DISCOVER the templates
    — digit-bearing tokens pre-mask to <*>, lines branch by
    (token_count, head token), per-position consensus wildcards the
    positions lines disagree on (the WARN format's event_type word has
    no digits, so only consensus can wildcard it). Exact, insert-order
    -free reformulation of Drain's online tree; the oracle runs the
    SAME consensus pipeline independently in DuckDB."""
    from emf_spark.operators.templates import mine_templates

    ev = _fan(spark, _t(spark, sf, "events"))
    uid = F.col("user_id").cast("string")
    eid = F.col("event_id").cast("string")
    ms = F.floor("value").cast("long").cast("string")
    line = (
        F.when(
            F.col("event_type") == "view",
            F.concat(
                F.lit("INFO user u"), uid, F.lit(" viewed page /p/"),
                eid, F.lit(" in "), ms, F.lit(" ms"),
            ),
        )
        .when(
            F.col("event_type") == "purchase",
            F.concat(
                F.lit("INFO user u"), uid, F.lit(" purchased sku-"),
                eid, F.lit(" qty "), (F.col("user_id") % 7).cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("WARN "), F.col("event_type"),
                F.lit(" handler slow shard "),
                (F.col("user_id") % 16).cast("string"),
            )
        )
    )
    return mine_templates(ev.select(line.alias("line")), min_count=5)


SQL_LOG_TEMPLATES = """
WITH lines AS (
  SELECT CASE
    WHEN event_type = 'view' THEN
      'INFO user u' || user_id || ' viewed page /p/' || event_id ||
      ' in ' || CAST(FLOOR(value) AS BIGINT) || ' ms'
    WHEN event_type = 'purchase' THEN
      'INFO user u' || user_id || ' purchased sku-' || event_id ||
      ' qty ' || (user_id % 7)
    ELSE
      'WARN ' || event_type || ' handler slow shard ' || (user_id % 16)
  END AS line FROM events),
norm AS (
  SELECT regexp_replace(regexp_replace(trim(line), '\\s+', ' ', 'g'),
                        '[^ ]*[0-9][^ ]*', '<*>', 'g') AS m
  FROM lines WHERE length(trim(line)) > 0),
tok AS (
  SELECT len(ws) AS n, ws[1] AS head, u.pos AS pos, u.w AS w
  FROM (SELECT string_split(m, ' ') AS ws FROM norm),
       LATERAL (SELECT unnest(list_transform(range(1, len(ws) + 1),
                              i -> {'pos': i, 'w': ws[i]})) AS u)),
cons AS (
  SELECT n, head, pos, MIN(w) AS lo, MAX(w) AS hi, COUNT(*) AS c
  FROM tok GROUP BY 1, 2, 3),
grp AS (
  SELECT n, head,
         string_agg(CASE WHEN lo = hi THEN lo ELSE '<*>' END,
                    ' ' ORDER BY pos) AS template,
         MAX(CASE WHEN pos = 1 THEN c END) AS cnt
  FROM cons GROUP BY 1, 2)
SELECT template, CAST(SUM(cnt) AS BIGINT) AS n_lines,
       CAST(COUNT(*) AS BIGINT) AS n_groups
FROM grp GROUP BY 1 HAVING SUM(cnt) >= 5
ORDER BY n_lines DESC, template
"""


def q_ts_apdex(spark, sf):
    """Apdex user-satisfaction score per (service, hour)
    (timeseries.apdex): satisfied <= T < tolerating <= 4T <
    frustrated over latency cents; the classic half-weight stays
    integer-exact as apdex_ppm = (1e6*(2*sat+tol)) div (2*total) —
    no float, bit-portable. ONE map-combinable count aggregate,
    single exchange, no joins."""
    from emf_spark.datax.timeseries import apdex

    ev = _t(spark, sf, "events")
    return apdex(ev, threshold_cents=3000)


SQL_TS_APDEX = """
WITH b AS (
  SELECT event_type, e - e % 3600 AS bucket_start,
         CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS x
  FROM (SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS e, value
        FROM events WHERE value IS NOT NULL))
SELECT event_type, bucket_start,
       COUNT(*) AS total,
       COUNT(*) FILTER (WHERE x <= 3000) AS satisfied,
       COUNT(*) FILTER (WHERE x > 3000 AND x <= 12000) AS tolerating,
       COUNT(*) FILTER (WHERE x > 12000) AS frustrated,
       CAST((1000000 * (2 * COUNT(*) FILTER (WHERE x <= 3000)
             + COUNT(*) FILTER (WHERE x > 3000 AND x <= 12000)))
            // (2 * COUNT(*)) AS BIGINT) AS apdex_ppm
FROM b GROUP BY 1, 2
"""


def q_text_keywords(spark, sf):
    """Per-doc keyword extraction (textstats.keywords): top-3 tokens
    per document by the integer-exact tf-idf lift score_ppm =
    (1e6*tf*n_docs) div (doc_freq*doc_len) — rarity weighed linearly
    instead of log for cross-engine exactness. Equi-joins on doc/token
    keys, the 1-row n_docs scalar broadcast, and a PER-DOC row_number
    window (never global)."""
    from emf_spark.datax.textstats import keywords

    return keywords(_t(spark, sf, "documents"), top=3)


SQL_TEXT_KEYWORDS = f"""
WITH norm AS (SELECT doc_id, {_NORM_TXT} AS t FROM documents),
wt AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm
       WHERE length(replace(t, ' ', '')) > 0),
tok AS (SELECT doc_id, unnest(ws) AS w FROM wt),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dlen AS (SELECT doc_id, COUNT(*) AS dlen FROM tok GROUP BY 1),
dfreq AS (SELECT w, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
nd AS (SELECT COUNT(*) AS n_docs FROM dlen),
s AS (SELECT tf.doc_id, tf.w, tf.tf, dfreq.doc_freq,
             (1000000 * tf.tf * (SELECT n_docs FROM nd))
               // (dfreq.doc_freq * dlen.dlen) AS score_ppm
      FROM tf JOIN dlen USING (doc_id) JOIN dfreq USING (w)),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score_ppm DESC, w) AS rk
      FROM s)
SELECT doc_id, w, tf, doc_freq, CAST(score_ppm AS BIGINT) AS score_ppm
FROM r WHERE rk <= 3 ORDER BY doc_id, score_ppm DESC, w
"""


def q_dedup_containment(spark, sf):
    """Asymmetric containment-threshold pairs (dedup.containment_pairs):
    ordered (a, b) with shingle containment |A∩B|/|A| >= 0.7 — the
    quote/subset/excerpt detector Jaccard structurally misses. Probe
    side explodes only its rarest-first prefix, index side carries all
    shingles (asymmetry is inherent), length filter prunes, pair-local
    exact verify gates; FP epsilons only ever widen pruning."""
    from emf_spark.datax.dedup import containment_pairs

    d = _fan(spark, _t(spark, sf, "documents"))
    return containment_pairs(d, threshold=0.7)


SQL_DEDUP_CONTAINMENT = f"""
WITH norm AS (SELECT doc_id, {_NORM_TXT} AS t FROM documents),
w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm),
sh AS (SELECT doc_id,
              unnest(list_distinct(list_transform(
                range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
       FROM w WHERE len(ws) >= 3),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, ROUND(CAST(i AS DOUBLE) / sa.n, 6) AS containment
FROM inter JOIN sz sa ON sa.doc_id = id_a
WHERE CAST(i AS DOUBLE) / sa.n >= 0.7
ORDER BY id_a, id_b
"""


def q_data_equidepth(spark, sf):
    """Exact equi-depth deciles of events.value on the cents lattice
    (ordering.equidepth_boundaries): boundary k = the value at 0-based
    global rank ceil(k*N/10) - 1 — discrete order statistics with no
    interpolation, deterministic under ties, riding global_index's
    value-range bucketing (never a global single-partition window)."""
    from emf_spark.datax.ordering import equidepth_boundaries

    return equidepth_boundaries(_t(spark, sf, "events"), n_bins=10)


SQL_DATA_EQUIDEPTH = """
WITH x AS (SELECT CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS v
           FROM events WHERE value IS NOT NULL),
n AS (SELECT COUNT(*) AS n FROM x),
c AS (SELECT v, COUNT(*) AS c FROM x GROUP BY 1),
cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cc FROM c),
k AS (SELECT CAST(u.k AS INT) AS bin,
             (u.k * (SELECT n FROM n) + 9) // 10 AS target
      FROM (SELECT unnest(range(1, 10)) AS k) u)
SELECT k.bin, CAST(MIN(cum.v) AS BIGINT) AS boundary_units
FROM k JOIN cum ON cum.cc >= k.target
GROUP BY 1 ORDER BY 1
"""


def q_data_drift(spark, sf):
    """Categorical distribution drift (quality.distribution_drift):
    event_type mix of the first half-month vs the rest — per-category
    |p_ref - p_cur| in integer-exact ppm via cross-multiplied counts
    (the PSI/KL job without logs, so the verdict replays bit-for-bit),
    sign = grew/shrank/flat. Two count aggregates, a full-outer join
    on the tiny collapsed category frames, two 1-row scalar
    broadcasts."""
    from emf_spark.datax.quality import distribution_drift

    ev = _t(spark, sf, "events")
    early = ev.filter(F.dayofmonth("ts") <= 15)
    late = ev.filter(F.dayofmonth("ts") > 15)
    return distribution_drift(early, late, "event_type")


SQL_DATA_DRIFT = """
WITH e AS (SELECT event_type, day(ts) <= 15 AS early FROM events),
a AS (SELECT event_type AS category, COUNT(*) AS n_ref FROM e
      WHERE early GROUP BY 1),
b AS (SELECT event_type AS category, COUNT(*) AS n_cur FROM e
      WHERE NOT early GROUP BY 1),
t AS (SELECT COUNT(*) FILTER (WHERE early) AS t_ref,
             COUNT(*) FILTER (WHERE NOT early) AS t_cur FROM e)
SELECT COALESCE(a.category, b.category) AS category,
       COALESCE(n_ref, 0) AS n_ref,
       COALESCE(n_cur, 0) AS n_cur,
       CAST((abs(COALESCE(n_ref, 0) * t_cur
                 - COALESCE(n_cur, 0) * t_ref) * 1000000)
            // (t_ref * t_cur) AS BIGINT) AS drift_ppm,
       CAST(CASE WHEN COALESCE(n_cur, 0) * t_ref
                      > COALESCE(n_ref, 0) * t_cur THEN 1
                 WHEN COALESCE(n_cur, 0) * t_ref
                      < COALESCE(n_ref, 0) * t_cur THEN -1
                 ELSE 0 END AS INT) AS sign
FROM a FULL OUTER JOIN b ON a.category IS NOT DISTINCT FROM b.category, t
ORDER BY 1
"""


def q_emf_multiline(spark, sf):
    """Multiline log-record assembly (operators/multiline.py): fold
    continuation lines (indented stack frames / context) into the
    start line that owns them — the Fluent Bit multiline-parser stage
    upstream of the reference plugin's record consumption
    (fluent-bit-emf/main.go:65-76 receives assembled records). Lines
    are rendered deterministically from events: every event emits a
    timestamped start line; events with event_id%3==0 or %5==0 add an
    indented continuation, and %5==0 events PREPEND one — so file 0
    (owned by event 0) opens with a continuation line and exercises
    the orphan-preamble record_seq=0 branch. ONE exchange on the file
    key + a linear running-sum window + a record-collapsing partial
    aggregate; no UDFs."""
    from emf_spark.operators.multiline import assemble_multiline

    ev = _fan(spark, _t(spark, sf, "events"))
    start = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
        F.lit(" "),
        F.upper("event_type"),
        F.lit(" event="),
        F.col("event_id").cast("string"),
    )
    cont_pre = F.concat(F.lit("    at frame_"), F.col("event_id").cast("string"))
    cont_post = F.concat(
        F.lit("    value_cents="),
        F.round(F.col("value") * 100).cast("long").cast("string"),
    )
    five = F.col("event_id") % 5 == 0
    three = F.col("event_id") % 3 == 0
    parts = F.filter(
        F.array(
            F.struct(
                F.lit(0).alias("pos"),
                F.when(five, cont_pre).alias("line"),
            ),
            F.struct(F.lit(1).alias("pos"), start.alias("line")),
            F.struct(
                F.lit(2).alias("pos"),
                F.when(five | three, cont_post).alias("line"),
            ),
        ),
        lambda s: s["line"].isNotNull(),
    )
    lines = (
        ev.select(
            (F.col("event_id") % 4).alias("f"),
            F.col("event_id"),
            F.explode(parts).alias("p"),
        )
        .select(
            "f",
            (F.col("event_id") * 4 + F.col("p.pos")).alias("line_no"),
            F.col("p.line").alias("line"),
        )
    )
    return assemble_multiline(
        lines,
        line_col="line",
        order_col="line_no",
        group_cols=["f"],
        start_pattern=r"^\d{4}-",
    )


SQL_EMF_MULTILINE = r"""
WITH ev AS (
  SELECT event_id, event_id % 4 AS f,
         strftime(ts, '%Y-%m-%d %H:%M:%S') || ' ' || upper(event_type)
           || ' event=' || CAST(event_id AS VARCHAR) AS start_line,
         '    at frame_' || CAST(event_id AS VARCHAR) AS cont_pre,
         '    value_cents='
           || CAST(CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT)
                   AS VARCHAR) AS cont_post
  FROM events),
lines AS (
  SELECT f, event_id * 4 + 0 AS line_no, cont_pre AS line FROM ev
  WHERE event_id % 5 = 0
  UNION ALL
  SELECT f, event_id * 4 + 1 AS line_no, start_line AS line FROM ev
  UNION ALL
  SELECT f, event_id * 4 + 2 AS line_no, cont_post AS line FROM ev
  WHERE event_id % 5 = 0 OR event_id % 3 = 0),
rec AS (
  SELECT f, line_no, line,
         SUM(CASE WHEN regexp_matches(line, '^\d{4}-') THEN 1 ELSE 0 END)
           OVER (PARTITION BY f ORDER BY line_no) AS record_seq
  FROM lines)
SELECT f, CAST(record_seq AS BIGINT) AS record_seq,
       MIN(line_no) AS start_order,
       COUNT(*) AS n_lines,
       string_agg(line, chr(10) ORDER BY line_no) AS record
FROM rec GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_events_tail_sampling(spark, sf):
    """Tail-based trace sampling (sampling.tail_sample): keep every
    event of a user-hour trace that contains an error or a >= 99.00
    latency, plus a deterministic 2% hash fraction of boring traces —
    the OpenTelemetry tail-sampler decision, which needs the COMPLETED
    trace and therefore can't be a row-local head sample. ONE
    map-combinable aggregate to the per-trace decision frame + ONE
    null-safe equi-join back; portable md5 trace hash so the oracle
    replays the sampled set exactly."""
    from emf_spark.datax.sampling import tail_sample

    ev = _t(spark, sf, "events")
    ep = F.unix_timestamp("ts").cast("long")
    df = ev.select(
        "event_id",
        "user_id",
        (ep - ep % 3600).alias("hr"),
        "event_type",
        "value",
    )
    interesting = (F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)) == 1) | (
        F.max(F.round(F.col("value") * 100).cast("long")) >= 9900
    )
    kept = tail_sample(
        df, ["user_id", "hr"], interesting, base_rate=0.02, salt="tail"
    )
    return kept.select("event_id", "user_id", "hr", "event_type", "keep_reason")


SQL_EVENTS_TAIL_SAMPLING = """
WITH e AS (
  SELECT event_id, user_id, event_type, value,
         ep - ep % 3600 AS hr
  FROM (SELECT *, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep FROM events)),
t AS (
  SELECT user_id, hr,
         (MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) = 1)
         OR (MAX(CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT))
             >= 9900) AS interesting
  FROM e GROUP BY 1, 2),
d AS (
  SELECT user_id, hr,
         CASE WHEN interesting THEN 'interesting'
              WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                        || chr(31) || CAST(hr AS VARCHAR) || 'tail'), 1, 14)
                        AS BIGINT) / 72057594037927936.0 < 0.02
                   THEN 'sampled' END AS keep_reason
  FROM t)
SELECT e.event_id, e.user_id, e.hr, e.event_type, d.keep_reason
FROM e JOIN d ON e.user_id IS NOT DISTINCT FROM d.user_id
             AND e.hr IS NOT DISTINCT FROM d.hr
WHERE d.keep_reason IS NOT NULL
ORDER BY 1
"""


def q_events_cidr_enrich(spark, sf):
    """GeoIP-style longest-prefix-match enrichment (operators/cidr.py
    cidr_enrich): events synthesize a deterministic IPv4 from event_id;
    the block table nests nation /16s inside region /8s so the LPM
    actually has to pick the inner block. The block set is COMPILED
    dim-side into disjoint winner intervals, so the fact-side plan is
    one broadcast equi-join on the /16 bucket with a range residual —
    at most one match per row, zero fact shuffle, zero post-aggregate
    (the naive plan fans out per nesting level and shuffles the
    matches for an argmax)."""
    from emf_spark.operators.cidr import cidr_enrich

    ev = _fan(spark, _t(spark, sf, "events"))
    facts = ev.select(
        "event_id",
        ((F.col("event_id") * F.lit(1103515245) + F.lit(12345))
         % F.lit(100663296)).cast("long").alias("ip"),
    )
    region = _t(spark, sf, "region").select(
        (F.col("r_regionkey").cast("long") * F.lit(16777216)).alias("net"),
        F.lit(8).alias("prefix_len"),
        F.col("r_name").alias("block_name"),
    )
    nation = _t(spark, sf, "nation").select(
        (
            F.col("n_regionkey").cast("long") * F.lit(16777216)
            + F.col("n_nationkey").cast("long") * F.lit(65536)
        ).alias("net"),
        F.lit(16).alias("prefix_len"),
        F.col("n_name").alias("block_name"),
    )
    out = cidr_enrich(facts, region.unionByName(nation), ip_col="ip")
    return out.select("event_id", "ip", "block_name", "matched_prefix_len")


SQL_EVENTS_CIDR_ENRICH = """
WITH e AS (
  SELECT event_id,
         (event_id * 1103515245 + 12345) % 100663296 AS ip
  FROM events),
c AS (
  SELECT r_regionkey::BIGINT * 16777216 AS lo,
         r_regionkey::BIGINT * 16777216 + 16777215 AS hi,
         8 AS prefix_len, r_name AS block_name
  FROM region
  UNION ALL
  SELECT n_regionkey::BIGINT * 16777216 + n_nationkey::BIGINT * 65536,
         n_regionkey::BIGINT * 16777216 + n_nationkey::BIGINT * 65536 + 65535,
         16, n_name
  FROM nation),
m AS (
  SELECT e.event_id, c.prefix_len, c.block_name,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY c.prefix_len DESC, c.lo DESC) AS rn
  FROM e JOIN c ON e.ip BETWEEN c.lo AND c.hi)
SELECT e.event_id, e.ip, m.block_name,
       m.prefix_len AS matched_prefix_len
FROM e LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (event_id)
ORDER BY 1
"""


def q_emf_record_modify(spark, sf):
    """Fluent Bit modify/nest filter chain (operators/modify.py): an
    ordered rule list — rename, blocked rename, conditional set, copy,
    nest-under-prefix, remove_wildcard, regex-conditioned set —
    applied as ONE higher-order-map projection PER RULE (records_modify)
    so plan size and per-row cost stay linear in chain length: no
    explode, no UDF, no shuffle; the whole chain pipelines inside the
    scan's codegen stage. Output is the canonical sorted k<US>v<RS>
    serialization so the compare is engine-portable."""
    from emf_spark.operators.modify import canonical_kv, records_modify

    ev = _fan(spark, _t(spark, sf, "events"))
    rec = F.create_map(
        F.lit("event_type"), F.col("event_type"),
        F.lit("sev"),
        F.when(F.col("event_type") == "error", F.lit("high")).otherwise("low"),
        F.lit("tmp_seq"), F.col("event_id").cast("string"),
        F.lit("tmp_shard"), (F.col("event_id") % 4).cast("string"),
        F.lit("host"),
        F.concat(F.lit("h"), (F.col("user_id") % 8).cast("string")),
    )
    rules = [
        {"op": "rename", "old": "sev", "new": "severity"},
        # blocked: host exists, rename must no-op
        {"op": "rename", "old": "event_type", "new": "host"},
        {"op": "copy", "old": "event_type", "new": "kind"},
        {"op": "set", "key": "alert", "value": "1",
         "when": [("key_value_equals", "event_type", "error")]},
        {"op": "nest", "prefix": "tmp_", "under": "meta"},
        {"op": "remove_wildcard", "prefix": "meta.tmp_sh"},
        {"op": "set", "key": "pipeline", "value": "emf",
         "when": [("a_key_matches", "^meta\\.")]},
    ]
    out = ev.select("event_id", rec.alias("record"))
    out = records_modify(out, "record", rules)
    return out.select("event_id", canonical_kv(F.col("record")).alias("rec"))


SQL_EMF_RECORD_MODIFY = """
SELECT event_id,
       (CASE WHEN event_type = 'error'
             THEN 'alert' || chr(31) || '1' || chr(30) ELSE '' END)
       || 'event_type' || chr(31) || event_type || chr(30)
       || 'host' || chr(31) || 'h' || CAST(user_id % 8 AS VARCHAR) || chr(30)
       || 'kind' || chr(31) || event_type || chr(30)
       || 'meta.tmp_seq' || chr(31) || CAST(event_id AS VARCHAR) || chr(30)
       || 'pipeline' || chr(31) || 'emf' || chr(30)
       || 'severity' || chr(31)
       || (CASE WHEN event_type = 'error' THEN 'high' ELSE 'low' END) AS rec
FROM events
ORDER BY 1
"""


def q_ts_cusum(spark, sf):
    """Two-sided CUSUM change-point detector per event_type series
    (timeseries.cusum): Page's recursion S_n = max(0, S_{n-1} + d_n)
    de-sequentialized into its closed form S_n = P_n - min(0, min
    prefix P) — two linear window passes over ONE (series, ts,
    tiebreak) window spec, one Exchange + one per-series sort, all on
    the integer-cent lattice so DuckDB replays bit-for-bit."""
    from emf_spark.datax.timeseries import cusum

    ev = _t(spark, sf, "events")
    out = cusum(
        ev,
        key_cols=["event_type"],
        ts_col="ts",
        value_col="value",
        tiebreak_col="event_id",
        target_cents=10000,
        slack_cents=500,
        threshold_cents=50000,
    )
    return out.select(
        "event_type", "event_id", "cusum_hi_cents", "cusum_lo_cents",
        "alarm_hi", "alarm_lo",
    )


SQL_TS_CUSUM = """
WITH d AS (
  SELECT event_type, ts, event_id,
         CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL),
p AS (
  SELECT event_type, ts, event_id,
         CAST(SUM(x - 10500) OVER w AS BIGINT) AS p_hi,
         CAST(SUM(9500 - x) OVER w AS BIGINT) AS p_lo
  FROM d
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)),
s AS (
  SELECT event_type, event_id,
         p_hi - LEAST(0, MIN(p_hi) OVER w) AS cusum_hi_cents,
         p_lo - LEAST(0, MIN(p_lo) OVER w) AS cusum_lo_cents
  FROM p
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING))
SELECT event_type, event_id, cusum_hi_cents, cusum_lo_cents,
       CASE WHEN cusum_hi_cents >= 50000 THEN 1 ELSE 0 END AS alarm_hi,
       CASE WHEN cusum_lo_cents >= 50000 THEN 1 ELSE 0 END AS alarm_lo
FROM s
"""


def q_emf_logfmt_parse(spark, sf):
    """logfmt line parsing (operators/kvparse.parse_logfmt): render a
    deterministic logfmt line per event — quoted value carrying spaces,
    '=' and escaped quotes (the props JSON, quotes backslash-escaped),
    an explicit-empty value, a bare boolean flag, and a duplicate key —
    parse it back, and emit the recovered fields. The parse is two
    aligned regexp scans + an in-row last-wins fold: a narrow
    projection, no explode/UDF/shuffle. The oracle states the roundtrip
    contract directly from the source columns."""
    from emf_spark.operators.kvparse import parse_logfmt

    ev = _fan(spark, _t(spark, sf, "events"))
    line = F.concat(
        F.lit("svc=s"), (F.col("user_id") % 5).cast("string"),
        F.lit(" level="), F.col("event_type"),
        F.lit(' msg="'),
        F.regexp_replace(F.col("props"), '"', '\\\\"'),
        F.lit('" n='), F.col("event_id").cast("string"),
        F.lit(" empty= flag dup=x dup="), F.col("event_type"),
    )
    rec = parse_logfmt(line)
    return ev.select(
        "event_id",
        F.try_element_at(rec, F.lit("svc")).alias("svc"),
        F.try_element_at(rec, F.lit("level")).alias("level"),
        F.try_element_at(rec, F.lit("msg")).alias("msg"),
        F.try_element_at(rec, F.lit("n")).alias("n"),
        F.try_element_at(rec, F.lit("empty")).alias("empty"),
        F.try_element_at(rec, F.lit("flag")).alias("flag"),
        F.try_element_at(rec, F.lit("dup")).alias("dup"),
        F.size(F.map_keys(rec)).alias("n_keys"),
    )


SQL_EMF_LOGFMT_PARSE = """
SELECT event_id,
       's' || CAST(user_id % 5 AS VARCHAR) AS svc,
       event_type AS level,
       props AS msg,
       CAST(event_id AS VARCHAR) AS n,
       '' AS empty,
       'true' AS flag,
       event_type AS dup,
       7 AS n_keys
FROM events
ORDER BY 1
"""


def q_emf_ltsv_parse(spark, sf):
    """LTSV line parsing (operators/kvparse.parse_ltsv): render a
    tab-separated label:value line per event — a value containing ':'
    (split on FIRST colon only), a colon-less junk field (skipped), a
    duplicate label (last wins) — parse, emit recovered fields. Same
    narrow-projection execution shape as logfmt."""
    from emf_spark.operators.kvparse import parse_ltsv

    ev = _fan(spark, _t(spark, sf, "events"))
    line = F.concat(
        F.lit("host:h"), (F.col("user_id") % 8).cast("string"),
        F.lit("\tstatus:"), F.col("event_type"),
        F.lit("\treq:GET /api?t="), F.col("event_type"), F.lit("&r=a:b"),
        F.lit("\tjunkfield\tdup:1\tdup:"), F.col("event_id").cast("string"),
    )
    rec = parse_ltsv("_line")
    return (
        ev.withColumn("_line", line)
        .select(
            "event_id",
            F.try_element_at(rec, F.lit("host")).alias("host"),
            F.try_element_at(rec, F.lit("status")).alias("status"),
            F.try_element_at(rec, F.lit("req")).alias("req"),
            F.try_element_at(rec, F.lit("dup")).alias("dup"),
            F.size(F.map_keys(rec)).alias("n_keys"),
        )
    )


SQL_EMF_LTSV_PARSE = """
SELECT event_id,
       'h' || CAST(user_id % 8 AS VARCHAR) AS host,
       event_type AS status,
       'GET /api?t=' || event_type || '&r=a:b' AS req,
       CAST(event_id AS VARCHAR) AS dup,
       4 AS n_keys
FROM events
ORDER BY 1
"""


def q_events_service_graph(spark, sf):
    """Service-dependency graph from spans (operators/traces.
    service_graph): blocks of 8 events form a trace with a fixed
    binary-ish topology (span idx i's parent is idx i//2; idx 0 is
    root), service = event_type. Parent resolution is ONE co-partitioned
    equi-join on (trace, span) with root spans split out BEFORE the
    join (NULL join keys would all hash to one partition); torn parents
    surface as __missing__; rollup is one map-combinable aggregate
    keyed (client, server)."""
    from emf_spark.operators.traces import service_graph

    ev = _t(spark, sf, "events")
    spans = ev.select(
        (F.col("event_id") / 8).cast("bigint").alias("trace_id"),
        F.col("event_id").alias("span_id"),
        F.when(
            F.col("event_id") % 8 == 0, F.lit(None).cast("bigint")
        ).otherwise(
            (F.col("event_id") / 8).cast("bigint") * 8
            + ((F.col("event_id") % 8) / 2).cast("bigint")
        ).alias("parent_id"),
        F.col("event_type").alias("service"),
        F.round(F.col("value") * 100).cast("bigint").alias("dur_cents"),
        (F.col("event_type") == "error").alias("is_err"),
    )
    return service_graph(
        spans, "trace_id", "span_id", "parent_id", "service",
        duration_cents_col="dur_cents", error_col="is_err",
    )


SQL_EVENTS_SERVICE_GRAPH = """
WITH s AS (
  SELECT event_id // 8 AS trace_id, event_id AS span_id,
         CASE WHEN event_id % 8 = 0 THEN NULL
              ELSE (event_id // 8) * 8 + (event_id % 8) // 2 END AS parent_id,
         event_type AS service,
         COALESCE(CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT), 0) AS d,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS e
  FROM events),
edges AS (
  SELECT CASE WHEN c.parent_id IS NULL THEN '__root__'
              ELSE COALESCE(p.service, '__missing__') END AS client,
         c.service AS server, c.d, c.e
  FROM s c LEFT JOIN s p
    ON c.parent_id IS NOT NULL
   AND c.trace_id = p.trace_id AND c.parent_id = p.span_id)
SELECT client, server, COUNT(*) AS calls,
       CAST(SUM(e) AS BIGINT) AS errors,
       CAST(SUM(d) AS BIGINT) AS duration_cents
FROM edges GROUP BY 1, 2
"""


def q_events_url_normalize(spark, sf):
    """URL canonicalization (operators/url.url_normalize): messy
    rendered URLs — uppercase scheme/host, www., explicit default
    port, tracking params (utm_*, fbclid), unsorted query, fragment —
    normalize to the canonical spelling dedup can group on. Pure
    expression chain (regexp component extraction + array ops), no
    UDF, no shuffle; the oracle states the render→canon contract
    directly from the source columns."""
    from emf_spark.operators.url import url_normalize

    ev = _fan(spark, _t(spark, sf, "events"))
    url = F.concat(
        F.lit("HTTPS://WWW.N"), (F.col("user_id") % 25).cast("string"),
        F.lit(".Example.COM:443/p/"), (F.col("event_id") % 10).cast("string"),
        F.lit("?utm_source=x&b="), F.col("user_id").cast("string"),
        F.lit("&a=1&fbclid="), F.col("event_id").cast("string"),
        F.when(F.col("event_id") % 2 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return ev.select(
        "event_id", url_normalize(url).alias("canon_url")
    )


SQL_EVENTS_URL_NORMALIZE = """
SELECT event_id,
       'https://n' || CAST(user_id % 25 AS VARCHAR) || '.example.com/p/'
       || CAST(event_id % 10 AS VARCHAR) || '?a=1&b='
       || CAST(user_id AS VARCHAR) AS canon_url
FROM events
ORDER BY 1
"""


def q_events_suffix_enrich(spark, sf):
    """Domain-suffix longest-match enrichment (operators/url.
    suffix_enrich): hosts resolve against a nation-level (3-label) +
    region-level (2-label) suffix table, longest suffix wins — the
    hostname sibling of the CIDR LPM. max_labels broadcast left
    equi-joins coalesced longest-first: zero fact shuffle, zero
    fan-out, one pipelined stage. Hosts exercise all three outcomes:
    no match, region-only match, nation match shadowing region."""
    from emf_spark.operators.url import suffix_enrich

    ev = _t(spark, sf, "events")
    na = _t(spark, sf, "nation")
    rg = _t(spark, sf, "region")
    nk = F.col("user_id") % 25
    rk = nk % 5
    m = F.col("user_id") % 7
    host = (
        F.when(m == 0, F.lit("h.un.known"))
        .when(m == 1, F.concat(F.lit("svc.r"), rk.cast("string"), F.lit(".test")))
        .otherwise(
            F.concat(
                F.lit("h"), (F.col("user_id") % 4).cast("string"),
                F.lit(".n"), nk.cast("string"),
                F.lit(".r"), rk.cast("string"), F.lit(".test"),
            )
        )
    )
    dim = na.select(
        F.concat(
            F.lit("n"), F.col("n_nationkey").cast("string"),
            F.lit(".r"), (F.col("n_nationkey") % 5).cast("string"),
            F.lit(".test"),
        ).alias("sfx"),
        F.col("n_name").alias("label"),
        F.lit("nation").alias("kind"),
    ).unionByName(
        rg.select(
            F.concat(
                F.lit("r"), F.col("r_regionkey").cast("string"), F.lit(".test")
            ).alias("sfx"),
            F.col("r_name").alias("label"),
            F.lit("region").alias("kind"),
        )
    )
    facts = ev.select("event_id", host.alias("host"))
    return suffix_enrich(facts, "host", dim, "sfx", ["label", "kind"], max_labels=4)


SQL_EVENTS_SUFFIX_ENRICH = """
WITH f AS (
  SELECT event_id, user_id % 25 AS nk, (user_id % 25) % 5 AS rk,
         user_id % 7 AS m, user_id % 4 AS h4
  FROM events)
SELECT f.event_id,
       CASE WHEN m = 0 THEN 'h.un.known'
            WHEN m = 1 THEN 'svc.r' || CAST(rk AS VARCHAR) || '.test'
            ELSE 'h' || CAST(h4 AS VARCHAR) || '.n' || CAST(nk AS VARCHAR)
                 || '.r' || CAST(rk AS VARCHAR) || '.test' END AS host,
       CASE WHEN m = 0 THEN NULL
            WHEN m = 1 THEN 'r' || CAST(rk AS VARCHAR) || '.test'
            ELSE 'n' || CAST(nk AS VARCHAR) || '.r' || CAST(rk AS VARCHAR)
                 || '.test' END AS matched_suffix,
       CASE WHEN m = 0 THEN NULL WHEN m = 1 THEN r.r_name
            ELSE n.n_name END AS label,
       CASE WHEN m = 0 THEN NULL WHEN m = 1 THEN 'region'
            ELSE 'nation' END AS kind
FROM f
LEFT JOIN nation n ON f.m NOT IN (0, 1) AND n.n_nationkey = f.nk
LEFT JOIN region r ON f.m = 1 AND r.r_regionkey = f.rk
"""


def q_ts_histogram_quantile(spark, sf):
    """PromQL histogram_quantile (timeseries.histogram_quantile): build
    per-event_type CUMULATIVE bucket counts on a fixed cent lattice,
    then pick p95 — bucket selection by cross-multiplied rational
    compare (cum*100 >= 95*total), linear interpolation emitted in
    integer micro-units with a single truncating div, so the quantile
    is bit-portable. One Exchange (lag window + partition-max share a
    partitioning) + one struct-min argpick aggregate."""
    from emf_spark.datax.timeseries import histogram_quantile

    les = [5000 * i for i in range(1, 11)]
    ev = _t(spark, sf, "events")
    e = ev.filter(F.col("value").isNotNull()).select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("x")
    )
    h = (
        e.select(
            "event_type", "x",
            F.explode(F.array(*[F.lit(l) for l in les])).alias("le"),
        )
        .groupBy("event_type", "le")
        .agg(F.sum(F.when(F.col("x") <= F.col("le"), 1).otherwise(0))
             .cast("bigint").alias("cum"))
    )
    return histogram_quantile(h, ["event_type"], "le", "cum", 95, 100)


SQL_TS_HISTOGRAM_QUANTILE = """
WITH les AS (SELECT UNNEST(CAST([5000,10000,15000,20000,25000,30000,35000,
                                 40000,45000,50000] AS BIGINT[])) AS le),
e AS (SELECT event_type,
             CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL),
h AS (SELECT event_type, le,
             CAST(COUNT(*) FILTER (WHERE x <= le) AS BIGINT) AS cum
      FROM e CROSS JOIN les GROUP BY 1, 2),
lagd AS (SELECT event_type, le, cum,
                COALESCE(LAG(le) OVER w, 0) AS ple,
                COALESCE(LAG(cum) OVER w, 0) AS pcum,
                MAX(cum) OVER (PARTITION BY event_type) AS total
         FROM h WINDOW w AS (PARTITION BY event_type ORDER BY le)),
cand AS (SELECT * FROM lagd WHERE cum * 100 >= 95 * total
         QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY le) = 1)
SELECT event_type, le,
       CAST(ple * 1000000
            + ((le - ple) * 1000000 * (95 * total - 100 * pcum))
              // (100 * (cum - pcum)) AS BIGINT) AS quantile_micro
FROM cand
"""


def q_ts_seasonal_anomaly(spark, sf):
    """Seasonal-naive volume anomaly (timeseries.seasonal_baseline):
    each (event_type, hour) bucket compared only against PRIOR buckets
    in the same hour-of-day slot — the periodic-volume alarm global
    thresholds miss. ratio_ppm = (1e6*n*baseline_n) div baseline_sum,
    all integer; thin-history slots (<2 priors) never alarm. One
    count aggregate + one (series, slot) window over the collapsed
    frame — two exchanges, never the raw stream."""
    from emf_spark.datax.timeseries import seasonal_baseline

    ev = _t(spark, sf, "events")
    return seasonal_baseline(
        ev, ["event_type"], "ts",
        step_seconds=3600, season_seconds=86400,
        threshold_ppm=1_500_000, min_history=2,
    )


SQL_TS_SEASONAL_ANOMALY = """
WITH c AS (
  SELECT event_type, e - e % 3600 AS bucket_start, COUNT(*) AS n
  FROM (SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS e FROM events)
  GROUP BY 1, 2),
s AS (
  SELECT event_type, bucket_start, bucket_start % 86400 AS slot, n,
         COUNT(n) OVER w AS bn, COALESCE(SUM(n) OVER w, 0) AS bs
  FROM c
  WINDOW w AS (PARTITION BY event_type, bucket_start % 86400
               ORDER BY bucket_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT event_type, bucket_start, slot, n, bn AS baseline_n,
       CASE WHEN bn > 0
            THEN CAST((1000000 * n * bn) // bs AS BIGINT) END AS ratio_ppm,
       CASE WHEN bn >= 2 AND (1000000 * n * bn) // bs >= 1500000
            THEN 1 ELSE 0 END AS anomalous
FROM s
"""


def q_emf_log_to_metrics(spark, sf):
    """Fluent Bit log_to_metrics filter (operators/log2metrics.py):
    two conditioned counters + a last-wins gauge + a cumulative
    histogram compiled into ONE map-combinable aggregate per hour
    window over ONE scan, then a literal-sized explode unpivots to
    long format — one shuffle, no joins, no UDFs. Conditions reuse the
    modify filter's grammar; field reads are try_cast so bad values
    skip sampling instead of failing the job."""
    from emf_spark.operators.log2metrics import log_to_metrics

    ev = _t(spark, sf, "events")
    rec = F.create_map(
        F.lit("level"), F.col("event_type"),
        F.lit("took"), F.round(F.col("value") * 100).cast("bigint").cast("string"),
        F.lit("code"), (F.col("event_id") % 5).cast("string"),
    )
    rules = [
        {"kind": "counter", "name": "errors_total",
         "when": [("key_value_equals", "level", "error")]},
        {"kind": "counter", "name": "code0_total",
         "when": [("key_value_equals", "code", "0")]},
        {"kind": "gauge", "name": "took_last", "field": "took"},
        {"kind": "histogram", "name": "took_hist", "field": "took",
         "les": [5000, 15000, 30000, 60000]},
    ]
    return log_to_metrics(
        ev.select("ts", "event_id", rec.alias("record")),
        "record", "ts", "event_id", rules, 3600,
    )


SQL_EMF_LOG_TO_METRICS = """
WITH b AS (
  SELECT e - e % 3600 AS w, event_type, event_id,
         CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS x, e
  FROM (SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS e, event_type,
               event_id, value FROM events))
SELECT w AS bucket_start, 'errors_total' AS metric,
       CAST(NULL AS BIGINT) AS le,
       CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS value
FROM b GROUP BY w
UNION ALL
SELECT w, 'code0_total', CAST(NULL AS BIGINT),
       CAST(COUNT(*) FILTER (WHERE event_id % 5 = 0) AS BIGINT)
FROM b GROUP BY w
UNION ALL
SELECT w, 'took_last', CAST(NULL AS BIGINT),
       (ARRAY_AGG(x ORDER BY e DESC, event_id DESC))[1]
FROM b GROUP BY w
UNION ALL
SELECT w, 'took_hist', le,
       CAST(COUNT(*) FILTER (WHERE x <= le) AS BIGINT)
FROM b CROSS JOIN (SELECT UNNEST(CAST([5000, 15000, 30000, 60000]
                                      AS BIGINT[])) AS le)
GROUP BY w, le
"""


def q_ts_flag_episodes(spark, sf):
    """Alert-episode grouping (timeseries.flag_episodes): collapse a
    per-sample threshold flag (value >= 150.00) into maximal
    consecutive-flagged runs per event_type series — rising-edge
    running sum over ONE (series, (ts, tiebreak)) window spec (one
    Exchange + one sort, the cusum plan shape) + a struct-min/max
    aggregate per episode. The alert-dedup step between the anomaly
    detectors (cusum, seasonal) and the pager."""
    from emf_spark.datax.timeseries import flag_episodes

    ev = _t(spark, sf, "events")
    flagged = ev.select(
        "event_type", "ts", "event_id",
        (F.round(F.col("value") * 100) >= 15000).cast("int").alias("flag"),
    )
    return flag_episodes(flagged, ["event_type"], "ts", "event_id", "flag")


SQL_TS_FLAG_EPISODES = """
WITH f AS (
  SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts, event_id,
         CASE WHEN round(CAST(value AS DOUBLE) * 100, 0) >= 15000
              THEN 1 ELSE 0 END AS flag
  FROM events),
e AS (
  SELECT *, CASE WHEN flag = 1 AND COALESCE(LAG(flag) OVER w, 0) = 0
                 THEN 1 ELSE 0 END AS edge
  FROM f WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
g AS (
  SELECT *, CAST(SUM(edge) OVER w2 AS BIGINT) AS episode
  FROM e WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING))
SELECT event_type, episode, COUNT(*) AS n_samples,
       MIN(ts) AS start_ts, MAX(ts) AS end_ts,
       (ARRAY_AGG(event_id ORDER BY ts, event_id))[1] AS start_tie,
       (ARRAY_AGG(event_id ORDER BY ts DESC, event_id DESC))[1] AS end_tie
FROM g WHERE flag = 1
GROUP BY 1, 2
"""


def q_events_user_agent(spark, sf):
    """User-agent classification (operators/useragent.py): render one
    deterministic UA string per event from 12 real-world template
    classes (product version digits vary with user_id; every 97th
    user sends no UA) and classify with parse_user_agent — the whole
    classifier is ONE narrow CASE/rlike projection (no UDF, no
    explode, no shuffle) feeding a single map-combinable aggregate
    over (family, os, device, is_bot). The bot-vs-human split every
    web-log pipeline needs before its rates mean anything."""
    from emf_spark.operators.useragent import parse_user_agent

    ev = _fan(spark, _t(spark, sf, "events"))
    v = (F.col("user_id") % 28 + 100).cast("int").cast("string")
    k = F.col("user_id") % 12
    _wk = "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/"
    ua = (
        F.when(F.col("user_id") % 97 == 0, F.lit(None).cast("string"))
        .when(k == 0, F.concat(F.lit(_wk), v, F.lit(".0.0.0 Safari/537.36")))
        .when(k == 1, F.concat(F.lit("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/"), v, F.lit(".1 Safari/605.1.15")))
        .when(k == 2, F.concat(F.lit("Mozilla/5.0 (X11; Linux x86_64; rv:"), v, F.lit(".0) Gecko/20100101 Firefox/"), v, F.lit(".0")))
        .when(k == 3, F.concat(F.lit(_wk), v, F.lit(".0.0.0 Safari/537.36 Edg/"), v, F.lit(".0.1")))
        .when(k == 4, F.concat(F.lit("Mozilla/5.0 (iPhone; CPU iPhone OS 17_5 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/"), v, F.lit(".0 Mobile/15E148 Safari/604.1")))
        .when(k == 5, F.concat(F.lit("Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/"), v, F.lit(".0.0.0 Mobile Safari/537.36")))
        .when(k == 6, F.concat(F.lit("Mozilla/5.0 (Linux; Android 14; SM-X910) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/"), v, F.lit(".0.0.0 Safari/537.36")))
        .when(k == 7, F.lit("Googlebot/2.1 (+http://www.google.com/bot.html)"))
        .when(k == 8, F.lit("curl/8.5.0"))
        .when(k == 9, F.lit("Mozilla/5.0 (compatible; MSIE 9.0; Windows NT 6.1; Trident/5.0)"))
        .when(k == 10, F.lit("Mozilla/5.0 (iPad; CPU OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.6 Mobile/15E148 Safari/604.1"))
        .otherwise(F.concat(F.lit("Opera/9.80 (Windows NT 6.0) Presto/2.12.388 Version/"), v, F.lit(".16")))
    )
    # two projections, not one: the rendered-UA CASE is not cheap, so
    # CollapseProject keeps the barrier and each rlike guard references
    # one attribute instead of re-expanding the 12-branch render —
    # composed inline, the generated doConsume blows the JVM's 64 KB
    # method limit and the whole stage falls out of codegen
    p = ev.select(ua.alias("ua")).select(
        parse_user_agent(F.col("ua")).alias("p")
    )
    return p.groupBy(
        F.col("p.family").alias("family"),
        F.col("p.os").alias("os"),
        F.col("p.device").alias("device"),
        # int not boolean: a NULL bool round-trips asymmetrically through
        # the two pandas bridges (None vs NaN); NULL int is NaN on both
        F.col("p.is_bot").cast("int").alias("is_bot"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count(F.col("p.version")).alias("n_versioned"),
        F.max(F.col("p.major")).alias("max_major"),
        F.min(F.col("p.os_version")).alias("min_os_version"),
    )


# The oracle REPLAYS the classifier's exact ordered rule regexes in
# DuckDB (RE2) — the rules live in the Java∩RE2 subset by design
# (useragent.py module docstring), so this is a true cross-engine
# check of the classification, not a per-template lookup table.
SQL_EVENTS_USER_AGENT = """
WITH base AS (
  SELECT CASE
    WHEN user_id % 97 = 0 THEN NULL
    WHEN user_id % 12 = 0 THEN 'Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/' || v || '.0.0.0 Safari/537.36'
    WHEN user_id % 12 = 1 THEN 'Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/' || v || '.1 Safari/605.1.15'
    WHEN user_id % 12 = 2 THEN 'Mozilla/5.0 (X11; Linux x86_64; rv:' || v || '.0) Gecko/20100101 Firefox/' || v || '.0'
    WHEN user_id % 12 = 3 THEN 'Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/' || v || '.0.0.0 Safari/537.36 Edg/' || v || '.0.1'
    WHEN user_id % 12 = 4 THEN 'Mozilla/5.0 (iPhone; CPU iPhone OS 17_5 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/' || v || '.0 Mobile/15E148 Safari/604.1'
    WHEN user_id % 12 = 5 THEN 'Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/' || v || '.0.0.0 Mobile Safari/537.36'
    WHEN user_id % 12 = 6 THEN 'Mozilla/5.0 (Linux; Android 14; SM-X910) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/' || v || '.0.0.0 Safari/537.36'
    WHEN user_id % 12 = 7 THEN 'Googlebot/2.1 (+http://www.google.com/bot.html)'
    WHEN user_id % 12 = 8 THEN 'curl/8.5.0'
    WHEN user_id % 12 = 9 THEN 'Mozilla/5.0 (compatible; MSIE 9.0; Windows NT 6.1; Trident/5.0)'
    WHEN user_id % 12 = 10 THEN 'Mozilla/5.0 (iPad; CPU OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.6 Mobile/15E148 Safari/604.1'
    ELSE 'Opera/9.80 (Windows NT 6.0) Presto/2.12.388 Version/' || v || '.16'
  END AS ua
  FROM (SELECT user_id, CAST(CAST(user_id % 28 + 100 AS INTEGER) AS VARCHAR) AS v FROM events)),
lc AS (SELECT ua, lower(ua) AS l FROM base),
cls AS (
  SELECT
    CASE WHEN ua IS NULL THEN NULL
         WHEN regexp_matches(l, '(bot|crawler|spider|crawling|curl/|wget/|python-requests|go-http-client|httpclient)') THEN 'bot'
         WHEN regexp_matches(l, 'edg[a-z]*/') THEN 'edge'
         WHEN regexp_matches(l, '(opr/|opera)') THEN 'opera'
         WHEN regexp_matches(l, 'firefox/') THEN 'firefox'
         WHEN regexp_matches(l, '(chrome|crios)/') THEN 'chrome'
         WHEN regexp_matches(l, 'safari') THEN 'safari'
         WHEN regexp_matches(l, '(msie |trident/)') THEN 'ie'
         ELSE 'other' END AS family,
    CASE WHEN ua IS NULL THEN NULL
         WHEN regexp_matches(l, '(bot|crawler|spider|crawling|curl/|wget/|python-requests|go-http-client|httpclient)') THEN NULL
         WHEN regexp_matches(l, 'edg[a-z]*/') THEN (CASE WHEN regexp_matches(l, 'edg[a-z]*/([0-9][0-9.]*)') THEN regexp_extract(l, 'edg[a-z]*/([0-9][0-9.]*)', 1) END)
         WHEN regexp_matches(l, '(opr/|opera)') THEN (CASE WHEN regexp_matches(l, '(?:opr|opera)[/ ]([0-9][0-9.]*)') THEN regexp_extract(l, '(?:opr|opera)[/ ]([0-9][0-9.]*)', 1) END)
         WHEN regexp_matches(l, 'firefox/') THEN (CASE WHEN regexp_matches(l, 'firefox/([0-9][0-9.]*)') THEN regexp_extract(l, 'firefox/([0-9][0-9.]*)', 1) END)
         WHEN regexp_matches(l, '(chrome|crios)/') THEN (CASE WHEN regexp_matches(l, '(?:chrome|crios)/([0-9][0-9.]*)') THEN regexp_extract(l, '(?:chrome|crios)/([0-9][0-9.]*)', 1) END)
         WHEN regexp_matches(l, 'safari') THEN (CASE WHEN regexp_matches(l, 'version/([0-9][0-9.]*)') THEN regexp_extract(l, 'version/([0-9][0-9.]*)', 1) END)
         WHEN regexp_matches(l, '(msie |trident/)') THEN (CASE WHEN regexp_matches(l, '(?:msie |rv:)([0-9][0-9.]*)') THEN regexp_extract(l, '(?:msie |rv:)([0-9][0-9.]*)', 1) END)
         ELSE NULL END AS version,
    CASE WHEN ua IS NULL THEN NULL
         WHEN regexp_matches(l, 'windows nt') THEN 'windows'
         WHEN regexp_matches(l, 'android') THEN 'android'
         WHEN regexp_matches(l, '(iphone|ipad|ipod)') THEN 'ios'
         WHEN regexp_matches(l, 'mac os x') THEN 'macos'
         WHEN regexp_matches(l, 'linux') THEN 'linux'
         ELSE 'other' END AS os,
    CASE WHEN ua IS NULL THEN NULL
         WHEN regexp_matches(l, 'windows nt') THEN (CASE WHEN regexp_matches(l, 'windows nt ([0-9][0-9.]*)') THEN regexp_extract(l, 'windows nt ([0-9][0-9.]*)', 1) END)
         WHEN regexp_matches(l, 'android') THEN (CASE WHEN regexp_matches(l, 'android ([0-9][0-9.]*)') THEN regexp_extract(l, 'android ([0-9][0-9.]*)', 1) END)
         WHEN regexp_matches(l, '(iphone|ipad|ipod)') THEN (CASE WHEN regexp_matches(l, ' os ([0-9][0-9_]*)') THEN replace(regexp_extract(l, ' os ([0-9][0-9_]*)', 1), '_', '.') END)
         WHEN regexp_matches(l, 'mac os x') THEN (CASE WHEN regexp_matches(l, 'mac os x ([0-9][0-9_.]*)') THEN regexp_extract(l, 'mac os x ([0-9][0-9_.]*)', 1) END)
         ELSE NULL END AS os_version,
    CASE WHEN ua IS NULL THEN NULL
         WHEN regexp_matches(l, '(bot|crawler|spider|crawling|curl/|wget/|python-requests|go-http-client|httpclient)') THEN 'bot'
         WHEN regexp_matches(l, '(ipad|tablet)') THEN 'tablet'
         WHEN regexp_matches(l, '(mobile|iphone|ipod)') THEN 'mobile'
         WHEN regexp_matches(l, 'android') THEN 'tablet'
         ELSE 'desktop' END AS device,
    CASE WHEN ua IS NULL THEN NULL
         ELSE CAST(regexp_matches(l, '(bot|crawler|spider|crawling|curl/|wget/|python-requests|go-http-client|httpclient)') AS INTEGER) END AS is_bot
  FROM lc)
SELECT family, os, device, is_bot,
       COUNT(*) AS cnt,
       COUNT(version) AS n_versioned,
       MAX(CAST(regexp_extract(version, '^([0-9]+)', 1) AS INTEGER)) AS max_major,
       MIN(os_version) AS min_os_version
FROM cls GROUP BY 1, 2, 3, 4
"""


def q_events_path_transitions(spark, sf):
    """Clickstream path transitions (datax/paths.py): order each
    user's events by (event time, event_id), count consecutive
    (src, dst) event-type bigrams plus the _start_/_end_ Sankey
    endpoint edges, and normalize per source as integer-ppm Markov
    transition probabilities. One per-session window + one hash
    aggregate over the big data; the per-source normalization window
    runs on the collapsed O(pages^2) frame."""
    from emf_spark.datax.paths import path_transitions

    ev = _fan(spark, _t(spark, sf, "events"))
    return path_transitions(
        ev, session_col="user_id", ts_col="ts",
        type_col="event_type", tiebreak_col="event_id",
    )


SQL_EVENTS_PATH_TRANSITIONS = """
WITH seq AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER w AS nxt,
         LEAD(TRUE) OVER w AS has_next,
         ROW_NUMBER() OVER w = 1 AS is_first
  FROM events WHERE user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
edges AS (
  SELECT src, CASE WHEN has_next THEN nxt ELSE '_end_' END AS dst FROM seq
  UNION ALL
  SELECT '_start_' AS src, src AS dst FROM seq WHERE is_first
),
counts AS (SELECT src, dst, COUNT(*) AS cnt FROM edges GROUP BY 1, 2)
SELECT src, dst, cnt,
       CAST((1000000 * cnt) // CAST(SUM(cnt) OVER (PARTITION BY src) AS BIGINT)
            AS BIGINT) AS p_ppm
FROM counts
"""


QUERIES: dict[str, Callable] = {
    "emf_dim_hash_group": q_dim_hash_group,
    "emf_value_count_hist": q_value_count_hist,
    "emf_seh_buckets": q_seh_buckets,
    "emf_seh_representative": q_seh_representative,
    "emf_tumbling_window": q_tumbling_window,
    "emf_session_window": q_session_window,
    "emf_sliding_window": q_sliding_window,
    "emf_broadcast_enrich": q_broadcast_enrich,
    "emf_route_fanout": q_route_fanout,
    "emf_malformed_filter": q_malformed_filter,
    "emf_first_wins_metadata": q_first_wins_metadata,
    "emf_projection_union": q_projection_union,
    "emf_membership_semi_join": q_membership_semi_join,
    "emf_dimension_set_subset": q_dimension_set_subset,
    "emf_compression_ratio": q_compression_ratio,
    "emf_cw_batching": q_cw_batching,
    "emf_grok_parse": q_grok_parse,
    "emf_grok_accesslog": q_grok_accesslog,
    "emf_namespace_keyed": q_emf_namespace_keyed,
    "tpch_pricing_summary": q_pricing_summary,
    "tpch_shipping_priority": q_shipping_priority,
    "tpch_local_supplier_volume": q_local_supplier_volume,
    "tpch_customers_without_orders": q_customers_without_orders,
    "tpch_rollup_revenue": q_rollup_revenue,
    "tpch_top_orders_per_customer": q_top_orders_per_customer,
    "emf_asof_enrich": q_asof_enrich,
    "emf_range_join": q_range_join,
    "emf_kmv_distinct": q_kmv_distinct,
    "emf_percentiles": q_percentiles,
    "emf_pivot_type_by_bucket": q_pivot_type_by_bucket,
    "dedup_exact": q_dedup_exact,
    "text_jaccard_vs_query": q_text_jaccard_vs_query,
    "text_token_stats": q_text_token_stats,
    "text_quality": q_text_quality,
    "text_langid": q_text_langid,
    "text_fingerprint": q_text_fingerprint,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "multimodal_features": q_multimodal_features,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "dedup_decontaminate": q_dedup_decontaminate,
    "dedup_substring_spans": q_dedup_substring_spans,
    "text_repetition": q_text_repetition,
    "text_bm25": q_text_bm25,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    # r5 additions sit at registry position 50 so the rotated driver
    # gate (first 50 of queries(), offset 50) checks them this round
    "emf_grok_syslog": q_grok_syslog,
    "emf_grok_httpd_error": q_grok_httpd_error,
    "events_user_agent": q_events_user_agent,
    "events_path_transitions": q_events_path_transitions,
    "ts_interval_merge": q_ts_interval_merge,
    "dedup_jaccard_exact": q_dedup_jaccard_exact,
    "events_attribution": q_events_attribution,
    "text_collocations": q_text_collocations,
    "emf_log_templates": q_log_templates,
    "ts_apdex": q_ts_apdex,
    "text_keywords": q_text_keywords,
    "dedup_containment": q_dedup_containment,
    "data_equidepth": q_data_equidepth,
    "data_drift": q_data_drift,
    "emf_multiline": q_emf_multiline,
    "events_tail_sampling": q_events_tail_sampling,
    "events_cidr_enrich": q_events_cidr_enrich,
    "emf_record_modify": q_emf_record_modify,
    "ts_cusum": q_ts_cusum,
    "emf_logfmt_parse": q_emf_logfmt_parse,
    "emf_ltsv_parse": q_emf_ltsv_parse,
    "events_service_graph": q_events_service_graph,
    "events_url_normalize": q_events_url_normalize,
    "events_suffix_enrich": q_events_suffix_enrich,
    "ts_histogram_quantile": q_ts_histogram_quantile,
    "ts_seasonal_anomaly": q_ts_seasonal_anomaly,
    "emf_log_to_metrics": q_emf_log_to_metrics,
    "ts_flag_episodes": q_ts_flag_episodes,
    "ann_kmeans_clusters": q_ann_kmeans_clusters,
    "dedup_embedding": q_dedup_embedding,
    "data_split": q_data_split,
    "data_balanced_sample": q_data_balanced_sample,
    "data_temperature_mix": q_data_temperature_mix,
    "data_weighted_sample": q_data_weighted_sample,
    "data_pack_sequences": q_pack_sequences,
    "text_pii_scrub": q_text_pii_scrub,
    "text_url_stats": q_text_url_stats,
    "text_vocab_topk": q_text_vocab_topk,
    "text_inverted_index": q_text_inverted_index,
    "text_bpe_encode": q_text_bpe_encode,
    "text_chunking": q_text_chunking,
    "tpch_order_priority_check": q_tpch_order_priority_check,
    "tpch_forecast_revenue": q_tpch_forecast_revenue,
    "tpch_priority_line_mix": q_tpch_priority_line_mix,
    "emf_cms_heavy_hitters": q_emf_cms_heavy_hitters,
    "emf_bloom_filter": q_emf_bloom_filter,
    "dedup_cluster_labels": q_dedup_cluster_labels,
    "data_snapshot_diff": q_data_snapshot_diff,
    "data_scd2_snapshot": q_data_scd2_snapshot,
    "dedup_line_boilerplate": q_dedup_line_boilerplate,
    "dedup_semantic": q_dedup_semantic,
    "data_apply_changes": q_data_apply_changes,
    "entity_snm_pairs": q_entity_snm_pairs,
    "data_importance_votes": q_data_importance_votes,
    "ts_ohlc": q_ts_ohlc,
    "events_skew_profile": q_events_skew_profile,
    "events_transition_matrix": q_events_transition_matrix,
    "text_ascii_fold": q_text_ascii_fold,
    "data_histogram": q_data_histogram,
    "ts_rate_limited": q_ts_rate_limited,
    "data_quality_checks": q_data_quality_checks,
    "tpch_returned_item_revenue": q_tpch_returned_item_revenue,
    "tpch_promo_revenue": q_tpch_promo_revenue,
    "emf_moving_avg": q_emf_moving_avg,
    "text_quality_filter": q_text_quality_filter,
    "tpch_discounted_revenue": q_tpch_discounted_revenue,
    "emf_kmv_per_window": q_emf_kmv_per_window,
    "events_funnel": q_events_funnel,
    "events_retention": q_events_retention,
    "graph_pagerank": q_graph_pagerank,
    "events_rolling_dau": q_events_rolling_dau,
    "events_value_outliers": q_events_value_outliers,
    "tpch_order_distribution": q_tpch_order_distribution,
    "tpch_large_volume_customer": q_tpch_large_volume_customer,
    "tpch_global_sales_opportunity": q_tpch_global_sales_opportunity,
    "text_lm_fluency": q_text_lm_fluency,
    "tpch_min_cost_supplier": q_tpch_min_cost_supplier,
    "tpch_important_parts": q_tpch_important_parts,
    "tpch_volume_shipping": q_tpch_volume_shipping,
    "tpch_waiting_suppliers": q_tpch_waiting_suppliers,
    "tpch_small_qty_revenue": q_tpch_small_qty_revenue,
    "tpch_potential_promotion": q_tpch_potential_promotion,
    "tpch_market_share": q_tpch_market_share,
    "tpch_top_supplier": q_tpch_top_supplier,
    "tpch_supplier_relationship": q_tpch_supplier_relationship,
    "tpch_product_profit": q_tpch_product_profit,
    "tpch_cube_revenue": q_tpch_cube_revenue,
    "emf_kmv_global": q_kmv_global,
    "emf_hll_distinct": q_hll_distinct,
    "multimodal_png_decode": q_multimodal_png_decode,
    "emf_percentiles_hist": q_percentiles_hist,
    "multimodal_jpeg_decode": q_multimodal_jpeg_decode,
    "multimodal_gif_decode": q_multimodal_gif_decode,
    "multimodal_g711_decode": q_multimodal_g711_decode,
    "basket_item_pairs": q_basket_item_pairs,
    "graph_triangles": q_graph_triangles,
    "ts_counter_increase": q_ts_counter_increase,
    "ts_resample_ffill": q_ts_resample_ffill,
    "ts_ewma": q_ts_ewma,
    "ts_error_burn": q_ts_error_burn,
    "ts_mad_anomalies": q_ts_mad_anomalies,
    "entity_fuzzy_match": q_entity_fuzzy_match,
    "data_profile": q_data_profile,
    "rank_rrf_fusion": q_rank_rrf_fusion,
    "ann_pq_topk": q_ann_pq_topk,
    "events_salted_join": q_events_salted_join,
    "data_global_index": q_data_global_index,
    "data_epoch_shuffle": q_data_epoch_shuffle,
    "data_k_anonymity": q_data_k_anonymity,
    "events_majority_type": q_events_majority_type,
}

ORACLE_SQL: dict[str, str] = {
    "emf_dim_hash_group": SQL_DIM_HASH_GROUP,
    "emf_value_count_hist": SQL_VALUE_COUNT_HIST,
    "emf_seh_buckets": SQL_SEH_BUCKETS,
    "emf_seh_representative": SQL_SEH_REPRESENTATIVE,
    "emf_tumbling_window": SQL_TUMBLING_WINDOW,
    "emf_session_window": SQL_SESSION_WINDOW,
    "emf_sliding_window": SQL_SLIDING_WINDOW,
    "emf_broadcast_enrich": SQL_BROADCAST_ENRICH,
    "emf_route_fanout": SQL_ROUTE_FANOUT,
    "emf_malformed_filter": SQL_MALFORMED_FILTER,
    "emf_first_wins_metadata": SQL_FIRST_WINS_METADATA,
    "emf_projection_union": SQL_PROJECTION_UNION,
    "emf_membership_semi_join": SQL_MEMBERSHIP_SEMI_JOIN,
    "emf_dimension_set_subset": SQL_DIMENSION_SET_SUBSET,
    "emf_compression_ratio": SQL_COMPRESSION_RATIO,
    "emf_cw_batching": SQL_CW_BATCHING,
    "emf_grok_parse": SQL_GROK_PARSE,
    "emf_grok_accesslog": SQL_GROK_ACCESSLOG,
    "emf_namespace_keyed": SQL_EMF_NAMESPACE_KEYED,
    "tpch_pricing_summary": SQL_PRICING_SUMMARY,
    "tpch_shipping_priority": SQL_SHIPPING_PRIORITY,
    "tpch_local_supplier_volume": SQL_LOCAL_SUPPLIER_VOLUME,
    "tpch_customers_without_orders": SQL_CUSTOMERS_WITHOUT_ORDERS,
    "tpch_rollup_revenue": SQL_ROLLUP_REVENUE,
    "tpch_top_orders_per_customer": SQL_TOP_ORDERS_PER_CUSTOMER,
    "emf_asof_enrich": SQL_ASOF_ENRICH,
    "emf_range_join": SQL_RANGE_JOIN,
    "emf_kmv_distinct": SQL_KMV_DISTINCT,
    "emf_percentiles": SQL_PERCENTILES,
    "emf_pivot_type_by_bucket": SQL_PIVOT_TYPE_BY_BUCKET,
    "dedup_exact": SQL_DEDUP_EXACT,
    "text_jaccard_vs_query": SQL_TEXT_JACCARD_VS_QUERY,
    "text_token_stats": SQL_TEXT_TOKEN_STATS,
    "text_quality": SQL_TEXT_QUALITY,
    "text_langid": SQL_TEXT_LANGID,
    # VERDICT r1 item 2: the six formerly rows-only queries now carry
    # exact oracles — hash-family constants generated into the SQL,
    # portable md5-based base hash on both engines.
    "text_fingerprint": _sql_text_fingerprint(),
    "dedup_minhash": _sql_dedup_minhash(),
    "dedup_simhash": _sql_dedup_simhash(),
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "multimodal_decode": SQL_MULTIMODAL_DECODE,
    "multimodal_meta": SQL_MULTIMODAL_META,
    "multimodal_resize": SQL_MULTIMODAL_RESIZE,
    "multimodal_frame_sample": SQL_MULTIMODAL_FRAME_SAMPLE,
    "dedup_decontaminate": _sql_dedup_decontaminate(),
    "dedup_substring_spans": _sql_dedup_substring_spans(),
    "text_repetition": _sql_text_repetition(),
    "text_bm25": SQL_TEXT_BM25,
    "ann_cosine_topk": SQL_ANN_COSINE_TOPK,
    "ann_lsh_topk": _sql_ann_lsh_topk(),
    "ann_ivf_topk": SQL_ANN_IVF_TOPK,
    "emf_grok_syslog": SQL_GROK_SYSLOG,
    "emf_grok_httpd_error": SQL_GROK_HTTPD_ERROR,
    "events_user_agent": SQL_EVENTS_USER_AGENT,
    "events_path_transitions": SQL_EVENTS_PATH_TRANSITIONS,
    "ts_interval_merge": SQL_TS_INTERVAL_MERGE,
    "dedup_jaccard_exact": SQL_DEDUP_JACCARD_EXACT,
    "events_attribution": SQL_EVENTS_ATTRIBUTION,
    "text_collocations": SQL_TEXT_COLLOCATIONS,
    "emf_log_templates": SQL_LOG_TEMPLATES,
    "ts_apdex": SQL_TS_APDEX,
    "text_keywords": SQL_TEXT_KEYWORDS,
    "dedup_containment": SQL_DEDUP_CONTAINMENT,
    "data_equidepth": SQL_DATA_EQUIDEPTH,
    "data_drift": SQL_DATA_DRIFT,
    "emf_multiline": SQL_EMF_MULTILINE,
    "events_tail_sampling": SQL_EVENTS_TAIL_SAMPLING,
    "events_cidr_enrich": SQL_EVENTS_CIDR_ENRICH,
    "emf_record_modify": SQL_EMF_RECORD_MODIFY,
    "ts_cusum": SQL_TS_CUSUM,
    "emf_logfmt_parse": SQL_EMF_LOGFMT_PARSE,
    "emf_ltsv_parse": SQL_EMF_LTSV_PARSE,
    "events_service_graph": SQL_EVENTS_SERVICE_GRAPH,
    "events_url_normalize": SQL_EVENTS_URL_NORMALIZE,
    "events_suffix_enrich": SQL_EVENTS_SUFFIX_ENRICH,
    "ts_histogram_quantile": SQL_TS_HISTOGRAM_QUANTILE,
    "ts_seasonal_anomaly": SQL_TS_SEASONAL_ANOMALY,
    "emf_log_to_metrics": SQL_EMF_LOG_TO_METRICS,
    "ts_flag_episodes": SQL_TS_FLAG_EPISODES,
    "ann_kmeans_clusters": _sql_kmeans(),
    "dedup_embedding": _sql_dedup_embedding(),
    "data_split": SQL_DATA_SPLIT,
    "data_balanced_sample": SQL_DATA_BALANCED_SAMPLE,
    "data_temperature_mix": SQL_DATA_TEMPERATURE_MIX,
    "data_weighted_sample": SQL_DATA_WEIGHTED_SAMPLE,
    "data_pack_sequences": SQL_PACK_SEQUENCES,
    "text_pii_scrub": _sql_text_pii_scrub(),
    "text_url_stats": SQL_TEXT_URL_STATS,
    "text_vocab_topk": SQL_TEXT_VOCAB_TOPK,
    "text_inverted_index": SQL_TEXT_INVERTED_INDEX,
    "text_bpe_encode": _sql_text_bpe_encode(),
    "text_chunking": SQL_TEXT_CHUNKING,
    "tpch_order_priority_check": SQL_TPCH_ORDER_PRIORITY,
    "tpch_forecast_revenue": SQL_TPCH_FORECAST_REVENUE,
    "tpch_priority_line_mix": SQL_TPCH_PRIORITY_LINE_MIX,
    "emf_cms_heavy_hitters": _sql_cms_heavy_hitters(),
    "emf_bloom_filter": _sql_bloom_filter(),
    "dedup_cluster_labels": _sql_dedup_cluster_labels(),
    "data_snapshot_diff": SQL_DATA_SNAPSHOT_DIFF,
    "data_scd2_snapshot": SQL_DATA_SCD2_SNAPSHOT,
    "dedup_line_boilerplate": SQL_DEDUP_LINE_BOILERPLATE,
    "dedup_semantic": _sql_dedup_semantic(iters=1),
    "data_apply_changes": SQL_DATA_APPLY_CHANGES,
    "entity_snm_pairs": SQL_ENTITY_SNM_PAIRS,
    "data_importance_votes": _sql_data_importance_votes(),
    "ts_ohlc": SQL_TS_OHLC,
    "events_skew_profile": SQL_EVENTS_SKEW_PROFILE,
    "events_transition_matrix": SQL_EVENTS_TRANSITION_MATRIX,
    "text_ascii_fold": SQL_TEXT_ASCII_FOLD,
    "data_histogram": SQL_DATA_HISTOGRAM,
    "ts_rate_limited": SQL_TS_RATE_LIMITED,
    "data_quality_checks": SQL_DATA_QUALITY_CHECKS,
    "tpch_returned_item_revenue": SQL_TPCH_RETURNED_ITEM_REVENUE,
    "tpch_promo_revenue": SQL_TPCH_PROMO_REVENUE,
    "emf_moving_avg": SQL_EMF_MOVING_AVG,
    "text_quality_filter": _sql_text_quality_filter(),
    "tpch_discounted_revenue": SQL_TPCH_DISCOUNTED_REVENUE,
    "emf_kmv_per_window": SQL_EMF_KMV_PER_WINDOW,
    "events_funnel": SQL_EVENTS_FUNNEL,
    "events_retention": SQL_EVENTS_RETENTION,
    "graph_pagerank": _sql_graph_pagerank(),
    "events_rolling_dau": SQL_EVENTS_ROLLING_DAU,
    "events_value_outliers": SQL_EVENTS_VALUE_OUTLIERS,
    "tpch_order_distribution": SQL_TPCH_ORDER_DISTRIBUTION,
    "tpch_large_volume_customer": SQL_TPCH_LARGE_VOLUME_CUSTOMER,
    "tpch_global_sales_opportunity": SQL_TPCH_GLOBAL_SALES_OPPORTUNITY,
    "text_lm_fluency": SQL_TEXT_LM_FLUENCY,
    "tpch_min_cost_supplier": SQL_TPCH_MIN_COST_SUPPLIER,
    "tpch_important_parts": SQL_TPCH_IMPORTANT_PARTS,
    "tpch_volume_shipping": SQL_TPCH_VOLUME_SHIPPING,
    "tpch_waiting_suppliers": SQL_TPCH_WAITING_SUPPLIERS,
    "tpch_small_qty_revenue": SQL_TPCH_SMALL_QTY_REVENUE,
    "tpch_potential_promotion": SQL_TPCH_POTENTIAL_PROMOTION,
    "tpch_market_share": SQL_TPCH_MARKET_SHARE,
    "tpch_top_supplier": SQL_TPCH_TOP_SUPPLIER,
    "tpch_supplier_relationship": SQL_TPCH_SUPPLIER_RELATIONSHIP,
    "tpch_product_profit": SQL_TPCH_PRODUCT_PROFIT,
    "tpch_cube_revenue": SQL_TPCH_CUBE_REVENUE,
    "emf_kmv_global": SQL_KMV_GLOBAL,
    "emf_hll_distinct": _sql_hll_distinct(),
    "multimodal_png_decode": SQL_MULTIMODAL_PNG_DECODE,
    "multimodal_jpeg_decode": SQL_MULTIMODAL_JPEG_DECODE,
    "emf_percentiles_hist": SQL_PERCENTILES_HIST,
    "multimodal_gif_decode": SQL_MULTIMODAL_GIF_DECODE,
    "multimodal_g711_decode": SQL_MULTIMODAL_G711_DECODE,
    "basket_item_pairs": SQL_BASKET_ITEM_PAIRS,
    "graph_triangles": SQL_GRAPH_TRIANGLES,
    "ts_counter_increase": SQL_TS_COUNTER_INCREASE,
    "ts_resample_ffill": SQL_TS_RESAMPLE_FFILL,
    "ts_ewma": SQL_TS_EWMA,
    "ts_error_burn": SQL_TS_ERROR_BURN,
    "ts_mad_anomalies": SQL_TS_MAD_ANOMALIES,
    "entity_fuzzy_match": SQL_ENTITY_FUZZY_MATCH,
    "data_profile": SQL_DATA_PROFILE,
    "rank_rrf_fusion": SQL_RANK_RRF_FUSION,
    "ann_pq_topk": _sql_pq(),
    "events_salted_join": SQL_EVENTS_SALTED_JOIN,
    "data_global_index": SQL_DATA_GLOBAL_INDEX,
    "data_epoch_shuffle": SQL_DATA_EPOCH_SHUFFLE,
    "data_k_anonymity": SQL_DATA_K_ANONYMITY,
    "events_majority_type": SQL_EVENTS_MAJORITY_TYPE,
}
