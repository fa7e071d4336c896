"""DuckDB oracle SQL per query in ``plans/queries.py``.

Each statement is ANSI SQL runnable by DuckDB over the pre-registered
parquet views (region nation customer supplier part orders lineitem
events documents embeddings).  Column aliases match the Spark output
exactly; integer aggregates are cast to BIGINT because DuckDB widens
``sum(BIGINT)`` to HUGEINT while Spark stays at long.

Queries with engine-specific semantics (sketches, LSH, hash families)
carry gate-pattern oracles (q61/q84/d19 shape): the exact side is
recomputed here and the engine-specific side appears only inside gate
booleans.  As of round 7 every registry query has an oracle entry.
"""

ORACLES: dict[str, str] = {}

ORACLES["q01_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                          AS sum_qty,
       round(sum(l_extendedprice), 2)                                     AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                  AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)    AS sum_charge,
       round(avg(l_quantity), 2)                                          AS avg_qty,
       round(avg(l_extendedprice), 2)                                     AS avg_price,
       round(avg(l_discount), 4)                                          AS avg_disc,
       count(*)                                                           AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

ORACLES["q02_filter_project"] = """
SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

ORACLES["q03_topk_orders"] = """
SELECT l_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

ORACLES["q04_broadcast_join"] = """
SELECT p_brand,
       count(*)                        AS n_items,
       round(avg(l_quantity), 2)       AS avg_qty,
       round(sum(l_extendedprice), 2)  AS brand_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""

ORACLES["q05_region_revenue"] = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*)                                          AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""

ORACLES["q06_semi_join"] = """
SELECT c_mktsegment,
       count(*)                  AS n_customers,
       round(avg(c_acctbal), 2)  AS avg_bal
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 150000)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

ORACLES["q07_anti_join"] = """
SELECT c_nationkey, count(*) AS n_idle_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
GROUP BY c_nationkey
ORDER BY c_nationkey
"""

ORACLES["q08_outer_join"] = """
SELECT n_orders, count(*) AS n_customers
FROM (
    SELECT c_custkey, count(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
)
GROUP BY n_orders
ORDER BY n_orders
"""

ORACLES["q09_cross_join"] = """
SELECT a.r_name AS r1, b.r_name AS r2
FROM region a CROSS JOIN region b
WHERE a.r_name < b.r_name
ORDER BY r1, r2
"""

ORACLES["q10_range_join"] = """
SELECT band_id,
       count(*)                       AS n_parts,
       round(avg(p_retailprice), 2)   AS avg_price
FROM part
JOIN (VALUES (0, 0.0, 500.0), (1, 500.0, 1000.0),
             (2, 1000.0, 1500.0), (3, 1500.0, 1e9)) AS bands(band_id, lo, hi)
  ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band_id
ORDER BY band_id
"""

ORACLES["q11_window_rank"] = """
SELECT o_custkey, o_orderkey, o_totalprice, rnk
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
    FROM orders
)
WHERE rnk <= 3
"""

ORACLES["q12_window_running"] = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_spend,
       round(o_totalprice - lag(o_totalprice) OVER (PARTITION BY o_custkey
                                                    ORDER BY o_orderdate, o_orderkey), 2)
           AS delta_vs_prev
FROM orders
"""

ORACLES["q13_rollup"] = """
SELECT n_name, c_mktsegment,
       count(*)                  AS n_customers,
       round(sum(c_acctbal), 2)  AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST
"""

ORACLES["q14_cube"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*)                  AS n_items
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""

ORACLES["q15_set_ops"] = """
SELECT nationkey, 'both' AS op FROM (
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT nationkey, 'customer_only' AS op FROM (
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
)
ORDER BY op, nationkey
"""

ORACLES["q16_distinct_agg"] = """
SELECT p_brand,
       count(DISTINCT l_suppkey)  AS n_suppliers,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY p_brand
"""

ORACLES["q17_conditional_agg"] = """
SELECT o_orderstatus,
       round(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                      THEN o_totalprice ELSE 0 END), 2) AS urgent_revenue,
       round(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                      THEN o_totalprice ELSE 0 END), 2) AS normal_revenue,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

ORACLES["q18_string_funcs"] = """
SELECT p_partkey,
       upper(p_brand)                       AS brand_upper,
       regexp_extract(p_type, '^(\\w+)', 1) AS type_head,
       substring(p_name, 1, 8)              AS name_prefix,
       length(p_name)::BIGINT               AS name_len,
       concat_ws('|', p_brand, p_type)      AS brand_type
FROM part
"""

ORACLES["q19_date_funcs"] = """
SELECT date_trunc('month', o_orderdate)::DATE AS month_start,
       year(o_orderdate)::BIGINT              AS yr,
       month(o_orderdate)::BIGINT             AS mon,
       count(*)                               AS n_orders,
       round(sum(o_totalprice), 2)            AS month_revenue
FROM orders
GROUP BY 1, 2, 3
ORDER BY month_start
"""

ORACLES["q20_json_funcs"] = """
SELECT event_type,
       count(*)                                        AS n_events,
       sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
       round(avg(json_extract_string(props, '$.k')::BIGINT), 2) AS avg_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["q21_exists_subquery"] = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

ORACLES["q22_scalar_subquery"] = """
SELECT c_nationkey,
       count(*)                 AS n_above_avg,
       round(max(c_acctbal), 2) AS max_bal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
GROUP BY c_nationkey
ORDER BY c_nationkey
"""

ORACLES["q23_asof_join"] = """
WITH latest AS (
    SELECT o_custkey AS user_id, o_orderdate AS odate,
           max(o_orderkey) AS latest_order_key
    FROM orders GROUP BY 1, 2
)
SELECT event_id, user_id, latest_order_key
FROM (
    SELECT e.event_id, e.user_id, l.latest_order_key,
           row_number() OVER (PARTITION BY e.event_id
                              ORDER BY l.odate DESC) AS rn
    FROM events e
    LEFT JOIN latest l ON l.user_id = e.user_id AND l.odate <= e.ts
)
WHERE rn = 1
"""

ORACLES["q24_tumbling_window"] = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
       event_type,
       count(*)                 AS n_events,
       round(sum(value), 2)     AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY bucket_start, event_type
"""

ORACLES["q25_sessionize"] = """
WITH flagged AS (
    SELECT user_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       sum(new_s)::BIGINT AS n_sessions,
       count(*)           AS n_events
FROM flagged
GROUP BY user_id
ORDER BY user_id
"""

ORACLES["q26_pivot"] = """
SELECT user_id,
       sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END)::BIGINT AS ev_click,
       sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END)::BIGINT AS ev_error,
       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS ev_purchase,
       sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END)::BIGINT AS ev_signup,
       sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END)::BIGINT AS ev_view
FROM events
GROUP BY user_id
ORDER BY user_id
"""

ORACLES["q29_grouping_sets"] = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(l_extendedprice), 2) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY gid, l_returnflag, l_linestatus
"""

ORACLES["q30_lead_ntile"] = """
SELECT c_nationkey, c_custkey,
       CAST(dense_rank() OVER w AS BIGINT)       AS drnk,
       CAST(ntile(4)     OVER w AS INTEGER)      AS quartile,
       lead(c_custkey, 1) OVER w                 AS next_custkey
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
"""

ORACLES["q31_token_explode"] = """
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
    FROM documents WHERE doc_id % 20 = 0
)
WHERE length(token) > 0
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
"""

ORACLES["q32_array_funcs"] = """
SELECT vec_id,
       round(e[1], 4)                              AS first_dim,
       round(list_max(e), 4)                       AS dim_max,
       round(list_min(e), 4)                       AS dim_min,
       round(e[1] + e[2] + e[3] + e[4], 4)         AS head4_sum,
       CAST(len(e) AS INTEGER)                     AS dim
FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
WHERE vec_id < 200
ORDER BY vec_id
"""

ORACLES["q33_except_all"] = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_excess
FROM (
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

ORACLES["q34_map_funcs"] = """
SELECT event_id,
       CAST(len(json_keys(props)) AS INTEGER)                    AS n_keys,
       list_aggr(list_sort(json_keys(props)::VARCHAR[]), 'string_agg', ',') AS keys_csv,
       CAST(props->>'k' AS BIGINT)                               AS k_val
FROM events
WHERE event_id < 500
ORDER BY event_id
"""

ORACLES["q35_sliding_window"] = """
SELECT time_bucket(INTERVAL '30 minutes', ts)
         - k * INTERVAL '30 minutes'  AS w_start,
       event_type,
       count(*)                       AS n_events,
       max(value)                     AS max_value
FROM events CROSS JOIN (VALUES (0), (1)) offs(k)
GROUP BY 1, 2
ORDER BY w_start, event_type
"""

ORACLES["q36_binned_range_join"] = """
SELECT band_id,
       count(*)                         AS n_items,
       round(sum(l_extendedprice), 2)   AS sum_price
FROM lineitem
JOIN (SELECT range          AS band_id,
             range * 1000.0 AS lo,
             (range + 1) * 1000.0 AS hi
      FROM range(120)) bands
  ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY band_id
ORDER BY band_id
"""

ORACLES["q37_unpivot"] = """
WITH wide AS (
    SELECT l_returnflag,
           round(sum(l_quantity), 2)      AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(sum(l_discount), 2)      AS sum_disc
    FROM lineitem
    GROUP BY l_returnflag
)
SELECT l_returnflag, metric, value
FROM (
    SELECT l_returnflag, 'sum_qty'   AS metric, sum_qty   AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_disc'  AS metric, sum_disc  AS value FROM wide
)
ORDER BY l_returnflag, metric
"""

ORACLES["q27_percentiles"] = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 4)      AS median_qty,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
       count(*)                                      AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

# --------------------------------------------------------------------------
# LLM-pipeline extensions
# --------------------------------------------------------------------------

ORACLES["d01_exact_dedup"] = """
SELECT md5(text) AS fp, count(*) AS n_copies, min(doc_id) AS keeper
FROM documents
GROUP BY text
ORDER BY fp
"""

ORACLES["d04_ngram_jaccard"] = """
WITH sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ')
                          for i in range(1, len(t) - 1)]) AS s
    FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM (SELECT doc_id, text FROM documents
                ORDER BY doc_id LIMIT 100))
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.s, b.s))::DOUBLE
             / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""

ORACLES["t01_text_quality"] = """
WITH f AS (
    SELECT doc_id,
           length(text)::BIGINT AS c,
           len(string_split_regex(trim(text), '\\s+'))::BIGINT AS t,
           len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))::BIGINT AS bpe,
           len(regexp_extract_all(text, '[.,!?;:]'))::BIGINT AS p,
           len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
               x -> x IN ('the','and','of','to','a','in','is','it','that','for')))::BIGINT AS s
    FROM documents
)
-- 4-decimal rounding in INTEGER space (half-up: (2x+y)//(2y)) —
-- these rationals land on exact .00005 boundaries where double
-- round() differs between engines; mirrors operators/text.py.
SELECT doc_id,
       c AS n_chars,
       t AS n_ws_tokens,
       bpe AS n_bpe_tokens,
       ((2*10000*p + c) // (2*nullif(c, 0))) / 10000.0 AS punct_ratio,
       ((2*10000*s + t) // (2*nullif(t, 0))) / 10000.0 AS stopword_ratio,
       ((2*(40*least(t, 100)*c*t + 3000*(c - p)*t + 3000*s*c) + c*t)
        // (2*nullif(c*t, 0))) / 10000.0 AS quality_score
FROM f
ORDER BY doc_id
"""


_SW = {
    "en": "('the','and','of','to','a','in','is','it','that','for')",
    "es": "('el','la','de','que','y','en','un','los','se','del')",
    "de": "('der','die','und','das','ist','von','mit','den','im','ein')",
    "fr": "('le','la','les','de','et','un','une','du','est','dans')",
    "zh": "('的','是','了','在','我','有','和','就','不','人')",
}

_score = (
    "((2*sum((2*10000*len(list_filter(string_split_regex(lower(trim(text)),"
    " '\\s+'), x -> x IN {lst}))::BIGINT"
    " + len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT)"
    " // (2*nullif(len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT, 0)))"
    " + count(*)) // (2*count(*))) / 10000.0 AS avg_{lang}"
)

ORACLES["t02_lang_scores"] = (
    "SELECT lang, count(*) AS n_docs, "
    + ", ".join(
        _score.format(lst=_SW[lang], lang=lang) for lang in sorted(_SW)
    )
    + " FROM documents GROUP BY lang ORDER BY lang"
)

ORACLES["t04_token_stats"] = """
SELECT source,
       count(*) AS n_docs,
       sum(len(string_split_regex(trim(text), '\\s+')))::BIGINT AS ws_tokens,
       sum(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')))::BIGINT AS bpe_tokens,
       sum(length(text))::BIGINT AS total_chars
FROM documents
GROUP BY source
ORDER BY source
"""

ORACLES["t05_fingerprint"] = """
SELECT source,
       count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_distinct
FROM documents
GROUP BY source
ORDER BY source
"""

ORACLES["s01_cosine_topk"] = """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS q_vec
           FROM embeddings WHERE vec_id < 5),
scored AS (
    SELECT q.qid, e.vec_id,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec), 6) AS cos6,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.q_vec), 4) AS cos4
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id != q.qid
)
SELECT qid, vec_id, cos4, rnk
FROM (
    SELECT qid, vec_id, cos4,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos6 DESC, vec_id ASC) AS rnk
    FROM scored
)
WHERE rnk <= 10
ORDER BY qid, rnk
"""

ORACLES["s02_norm_stats"] = """
SELECT label,
       count(*) AS n_vecs,
       round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4) AS avg_norm
FROM embeddings
GROUP BY label
ORDER BY label
"""

# s03/s05/s08 (ANN): the neighbor lists are engine-specific, but the
# queries emit an ASSERTION TABLE (qid, n_results, quality_ok) via
# _ann_quality_gate — the oracle states the expected assertions, so a
# hash match proves candidate generation filled k slots AND the
# approx top-k reached ≥60% of the exact top-k's avg cosine.
_ANN_GATE_EXPECTED = """
SELECT vec_id AS qid,
       CAST(10 AS BIGINT) AS n_results,
       CAST(1 AS INT)     AS quality_ok
FROM embeddings
WHERE vec_id < 5
ORDER BY qid
"""
ORACLES["s03_lsh_topk"] = _ANN_GATE_EXPECTED
ORACLES["s05_ivf_topk"] = _ANN_GATE_EXPECTED
ORACLES["s08_pq_topk"] = _ANN_GATE_EXPECTED

ORACLES["m01_multimodal_meta"] = """
SELECT doc_id, 'text' AS kind, octet_length(encode(text))::BIGINT AS n_bytes
FROM documents
ORDER BY doc_id
"""

ORACLES["i01_wrap_lines"] = """
SELECT doc_id,
       to_json(struct_pack(LogEntry := text,
                           LogFile := 'HTTPErrorLog'))::VARCHAR AS data,
       'test-host' AS "partitionKey"
FROM documents
ORDER BY doc_id
"""

ORACLES["i02_enrich_json"] = """
SELECT event_id,
       CASE WHEN json_valid(props) AND json_type(props) = 'OBJECT'
            THEN json_merge_patch(props, '{"source":"engine"}')::VARCHAR
            ELSE props END AS data
FROM events
ORDER BY event_id
"""

ORACLES["l01_status_rollup"] = """
WITH synth AS (
    SELECT CASE WHEN event_id % 10 <= 5 THEN 200
                WHEN event_id % 10 = 6  THEN 301
                WHEN event_id % 10 = 7  THEN 404
                WHEN event_id % 10 = 8  THEN 500
                ELSE 503 END            AS status,
           (event_id * 37) % 10000     AS bytes,
           (event_id * 101) % 500000   AS us
    FROM events
)
SELECT CAST(status // 100 AS VARCHAR) || 'xx' AS status_class,
       count(*)                   AS n_requests,
       CAST(sum(bytes) AS BIGINT) AS bytes_sent,
       round(avg(us), 1)          AS avg_us
FROM synth
GROUP BY 1
ORDER BY status_class
"""

ORACLES["l02_topk_urls"] = """
WITH synth AS (
    SELECT '/' || event_type || '/' || CAST(user_id % 20 AS VARCHAR) AS url_path,
           (event_id * 37) % 10000 AS bytes
    FROM events
)
SELECT url_path,
       count(*)                   AS hits,
       CAST(sum(bytes) AS BIGINT) AS bytes_sent
FROM synth
GROUP BY url_path
ORDER BY hits DESC, url_path
LIMIT 10
"""

ORACLES["st01_stream_window_counts"] = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
       event_type,
       count(*)             AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY bucket_start, event_type
"""

ORACLES["st03_stream_stream_join"] = """
SELECT a.event_type AS l_type,
       b.event_type AS r_type,
       count(*) AS n_pairs,
       count(DISTINCT a.user_id) AS n_users
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL '5 minutes'
GROUP BY 1, 2
ORDER BY l_type, r_type
"""

ORACLES["st04_stream_dedup"] = """
SELECT event_type, count(*) AS n_users
FROM (SELECT DISTINCT user_id, event_type FROM events)
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["st02_stream_session_counts"] = """
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
    SELECT user_id, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS sid
    FROM flagged
)
SELECT user_id,
       min(ts)  AS session_start,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""

ORACLES["q38_salted_join"] = """
SELECT s.s_nationkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_nationkey
ORDER BY s.s_nationkey
"""

ORACLES["q39_range_frame_window"] = """
SELECT o_orderkey, o_custkey, o_orderdate,
       count(*) OVER w                    AS n_recent,
       round(sum(o_totalprice) OVER w, 2) AS recent_total
FROM orders
WHERE o_custkey % 50 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderdate, o_orderkey
"""

ORACLES["q40_stat_aggregates"] = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6)       AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
       round(stddev_samp(l_extendedprice), 4)            AS sd_price,
       round(var_samp(l_quantity), 6)                    AS var_qty,
       round(avg(l_discount), 6)                         AS avg_disc,
       count(*)                                          AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

ORACLES["u01_pandas_udaf"] = """
SELECT l_returnflag,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 2)
         AS wavg_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

ORACLES["t06_tfidf_topterms"] = """
WITH toks AS (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
    FROM documents
), tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM toks GROUP BY doc_id, term
), dfreq AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
    SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
           round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 4)
               AS tfidf_r
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
    SELECT doc_id, term, tf, df, tfidf_r,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY tfidf_r DESC, term ASC) AS rnk
    FROM scored
    WHERE doc_id % 25 = 0
)
SELECT doc_id, term,
       CAST(tf AS BIGINT) AS tf_count,
       CAST(df AS BIGINT) AS doc_freq,
       tfidf_r AS tfidf,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked
WHERE rnk <= 3
ORDER BY doc_id, rnk
"""

ORACLES["t07_bigram_topk"] = """
WITH t AS (
    SELECT string_split_regex(lower(trim(text)), '\\s+') AS toks
    FROM documents
), grams AS (
    SELECT unnest(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS bigram
    FROM t
)
SELECT bigram, count(*) AS n
FROM grams
GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 15
"""

ORACLES["l03_windowed_error_rate"] = """
WITH synth AS (
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           CASE WHEN event_id % 10 >= 8 THEN 1 ELSE 0 END AS is_err
    FROM events
)
SELECT window_start,
       count(*)                   AS n_requests,
       CAST(sum(is_err) AS BIGINT) AS n_5xx,
       round(sum(is_err) * 1.0 / count(*), 4) AS error_rate
FROM synth
GROUP BY window_start
ORDER BY window_start
"""

ORACLES["l04_request_line_split"] = """
WITH synth AS (
    SELECT 'GET' AS req_method,
           'HTTP/1.1' AS req_protocol,
           event_type AS path_segment,
           '/' || event_type || '/' || CAST(user_id % 20 AS VARCHAR) AS req_path
    FROM events
)
SELECT req_method, req_protocol, path_segment,
       count(*)                          AS n_requests,
       CAST(count(DISTINCT req_path) AS BIGINT) AS n_paths
FROM synth
GROUP BY req_method, req_protocol, path_segment
ORDER BY req_method, req_protocol, path_segment
"""

ORACLES["l05_latency_percentiles"] = """
WITH synth AS (
    SELECT event_type AS handler,
           (event_id * 101) % 500000 AS us
    FROM events
)
SELECT handler,
       round(quantile_cont(us, 0.5),  4) AS p50_us,
       round(quantile_cont(us, 0.95), 4) AS p95_us,
       round(quantile_cont(us, 0.99), 4) AS p99_us,
       count(*) AS n
FROM synth
GROUP BY handler
ORDER BY handler
"""

ORACLES["l06_client_sessions"] = """
WITH synth AS (
    SELECT '10.0.' || CAST(user_id % 256 AS VARCHAR) || '.1' AS client, ts
    FROM events
), flagged AS (
    SELECT client, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                THEN 1 ELSE 0 END AS new_s
    FROM synth
    WINDOW w AS (PARTITION BY client ORDER BY ts)
), sessions AS (
    SELECT client, ts,
           sum(new_s) OVER (PARTITION BY client ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS sid
    FROM flagged
)
SELECT client,
       min(ts)  AS session_start,
       count(*) AS n_requests
FROM sessions
GROUP BY client, sid
ORDER BY client, session_start
"""

ORACLES["st05_event_time_sessions"] = """
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WHERE user_id % 3 = 0
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
    SELECT user_id, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS sid
    FROM flagged
)
SELECT user_id,
       min(ts)  AS session_start,
       max(ts)  AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sessions
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""

ORACLES["s06_cosine_pairs_exact"] = """
WITH sub AS (
    SELECT vec_id, embedding::DOUBLE[] AS v
    FROM embeddings WHERE vec_id % 20 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM sub a JOIN sub b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.2
ORDER BY id_a, id_b
"""

# s04: full-pipeline replay of the portable-key hyperplane LSH
# (operators/similarity.py:embedding_near_dup_pairs with
# portable_keys=True).  The 32 seeded hyperplanes (numpy
# default_rng(42), the exact float64 values Spark broadcasts) are
# embedded as literal arrays; signature bit i = sign(v · plane_i),
# band keys are the raw 8-bit strings, candidates come from the
# band-bucket self-join, and exact round-4 cosine >= 0.3 verifies —
# identical candidate set and output pairs by construction.
def _s04_oracle() -> str:
    from kinesis_log_streamer_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 32, 42)  # bits x dim
    bit_exprs = ",\n           ".join(
        "CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(float(w)) for w in planes[i])
        + "]) >= 0 THEN '1' ELSE '0' END AS b" + str(i)
        for i in range(32)
    )
    band_rows = "\n    UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_id, "
        + " || ".join(f"b{b * 8 + r}" for r in range(8))
        + " AS bkey FROM sig"
        for b in range(4)
    )
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (
    SELECT vec_id,
           {bit_exprs}
    FROM v
),
bands AS (
    {band_rows}
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey
                AND a.vec_id < b.vec_id
)
SELECT id_a, id_b,
       round(list_cosine_similarity(va.v, vb.v), 4) AS cosine
FROM cand
JOIN v va ON va.vec_id = id_a
JOIN v vb ON vb.vec_id = id_b
WHERE round(list_cosine_similarity(va.v, vb.v), 4) >= 0.3
ORDER BY id_a, id_b
"""


ORACLES["s04_embedding_near_dups"] = _s04_oracle()


def _s22_oracle() -> str:
    """The s04 replay with bucket-min STAR candidates: anchor = min
    vec_id per (band, key) bucket; edges (anchor, member) only."""
    from kinesis_log_streamer_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 32, 42)  # bits x dim
    bit_exprs = ",\n           ".join(
        "CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(float(w)) for w in planes[i])
        + "]) >= 0 THEN '1' ELSE '0' END AS b" + str(i)
        for i in range(32)
    )
    band_rows = "\n    UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_id, "
        + " || ".join(f"b{b * 8 + r}" for r in range(8))
        + " AS bkey FROM sig"
        for b in range(4)
    )
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (
    SELECT vec_id,
           {bit_exprs}
    FROM v
),
bands AS (
    {band_rows}
),
anchors AS (
    SELECT band_id, bkey, min(vec_id) AS anchor
    FROM bands GROUP BY band_id, bkey
),
cand AS (
    SELECT DISTINCT a.anchor AS id_a, b.vec_id AS id_b
    FROM anchors a
    JOIN bands b ON b.band_id = a.band_id AND b.bkey = a.bkey
                AND b.vec_id > a.anchor
)
SELECT id_a, id_b,
       round(list_cosine_similarity(va.v, vb.v), 4) AS cosine
FROM cand
JOIN v va ON va.vec_id = id_a
JOIN v vb ON vb.vec_id = id_b
WHERE round(list_cosine_similarity(va.v, vb.v), 4) >= 0.3
ORDER BY id_a, id_b
"""


ORACLES["s22_embedding_star_edges"] = _s22_oracle()

ORACLES["m02_multimodal_decode"] = """
WITH m AS (SELECT doc_id, md5(text) AS h FROM documents)
SELECT doc_id,
       'digest' AS kind,
       CAST(32 AS BIGINT) AS n_bytes,
       round(list_avg(list_transform(range(1, 33),
                                     i -> ascii(substr(h, i, 1)))), 4)
           AS feat_mean,
       CAST(ascii(substr(h, 1, 1)) AS BIGINT)  AS feat_first,
       CAST(ascii(substr(h, 32, 1)) AS BIGINT) AS feat_last
FROM m
ORDER BY doc_id
"""

ORACLES["m03_frame_sample"] = """
WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
frames AS (
    SELECT doc_id, unnest(range(0, 4)) AS frame_no, h FROM m
)
SELECT doc_id,
       frame_no,
       frame_no * 8 AS frame_offset,
       substr(h, frame_no * 8 + 1, 1) AS frame_token
FROM frames
ORDER BY doc_id, frame_no
"""

ORACLES["i03_enrich_nested_json"] = """
SELECT event_id,
       json_merge_patch(
           to_json(struct_pack(
               event_id := event_id,
               u := struct_pack(event_type := event_type,
                                user_id := user_id),
               tags := [event_type, 'x'])),
           '{"source":"engine"}')::VARCHAR AS data
FROM events
ORDER BY event_id
"""

ORACLES["i04_line_pipeline_roundtrip"] = """
SELECT text AS data, 'test-host' AS "partitionKey"
FROM documents
ORDER BY data
"""

ORACLES["i05_concat_json_decode"] = """
WITH src AS (SELECT event_id, props FROM events WHERE event_id < 2000)
SELECT value FROM (
    SELECT '{"k":' || json_extract(props, '$.k') || '}' AS value FROM src
    UNION ALL
    SELECT CAST(event_id AS VARCHAR) FROM src
    UNION ALL
    SELECT '[' || CAST(event_id AS VARCHAR) || ',5]' FROM src
)
ORDER BY value
"""

ORACLES["u02_scalar_pandas_udf"] = """
SELECT vec_id,
       round(sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])), 4) AS l2_norm
FROM embeddings
WHERE vec_id % 10 = 0
ORDER BY vec_id
"""

ORACLES["u03_udtf_kv_explode"] = """
WITH src AS (SELECT event_id, user_id, event_type
             FROM events WHERE event_id < 500)
SELECT event_id, entry_key, entry_value
FROM (
    SELECT event_id, 'u' AS entry_key,
           CAST(user_id AS VARCHAR) AS entry_value
    FROM src
    UNION ALL
    SELECT event_id, 't', event_type || '=x'
    FROM src
)
ORDER BY event_id, entry_key
"""

ORACLES["f02_partitioned_parquet_roundtrip"] = """
SELECT CAST(ts AS DATE)      AS event_date,
       event_type,
       count(*)              AS n_events,
       round(sum(value), 2)  AS sum_value
FROM events
WHERE CAST(ts AS DATE) >= DATE '2024-01-15'
GROUP BY 1, 2
ORDER BY event_date, event_type
"""

ORACLES["st06_watermark_late_drop"] = """
WITH wm AS (
    SELECT max(ts) - INTERVAL 10 MINUTE AS wm1
    FROM events WHERE event_id % 2 = 0
), keep AS (
    -- the late filter is WINDOW-level (verified empirically): an odd
    -- row is dropped iff the END of its 1-hour window is at-or-under
    -- the lagged watermark — rows into the still-open partial window
    -- containing wm1 are accepted even when their own ts < wm1
    SELECT e.ts, e.event_type, e.value
    FROM events e, wm
    WHERE e.event_id % 2 = 0
       OR time_bucket(INTERVAL '1 hour', e.ts) + INTERVAL '1 hour' > wm.wm1
)
SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
       event_type,
       count(*)             AS n_events,
       round(sum(value), 2) AS sum_value
FROM keep
GROUP BY 1, 2
ORDER BY bucket_start, event_type
"""

ORACLES["f01_csv_roundtrip"] = """
SELECT n_regionkey,
       count(*) AS n_nations,
       min(n_name) AS first_name,
       CAST(sum(length(n_name)) AS BIGINT) AS name_chars
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
"""

# Shared edge construction for the dedup-clustering oracles: the
# portable-MinHash banding (one md5 per shingle split into six 5-char
# hex LANES — identical hex and lexicographic order in both engines),
# STAR-shaped candidate edges per bucket (mirrors
# operators/dedup.portable_minhash_star_edges; r10), exact-Jaccard
# verify >= 0.5, then min-label connected components as a recursive
# CTE over the full corpus.
_CLUSTER_EDGES = """
elig AS (
    -- Exact-duplicate collapse before banding (r10, mirrors
    -- operators/dedup.portable_minhash_star_edges): byte-identical
    -- texts group on md5(text); members edge to the group's min-id
    -- rep (J = 1 by construction) and only reps enter banding.  The
    -- >= 3-token eligibility filter runs FIRST so short documents
    -- stay singletons, as in the pair emitter.
    SELECT doc_id, text
    FROM documents
    WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 3
),
mapping AS (
    SELECT doc_id, text,
           min(doc_id) OVER (PARTITION BY md5(text)) AS rep
    FROM elig
),
exact_edges AS (
    SELECT rep AS id_a, doc_id AS id_b FROM mapping WHERE doc_id <> rep
),
sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ')
                          for i in range(1, len(t) - 1)]) AS s
    FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM mapping WHERE doc_id = rep)
    WHERE len(t) >= 3
),
dig AS (
    SELECT doc_id, s, list_transform(s, x -> md5(x)) AS dg FROM sh
),
bands AS (
    SELECT doc_id, b.i AS band,
           list_min(list_transform(dg, d -> substr(d, 1 + 5*(2*b.i), 5)))
           || list_min(list_transform(dg, d -> substr(d, 1 + 5*(2*b.i+1), 5)))
           AS bkey
    FROM dig, (SELECT unnest(generate_series(0, 2)) AS i) b
),
cand AS (
    -- Star-shaped candidate edges (r10): each bucket member pairs
    -- with the bucket's min-id representative only — k-1 edges span
    -- a k-member bucket exactly as well as its C(k,2) clique for the
    -- recursive closure below, mirroring
    -- operators/dedup.portable_minhash_star_edges.
    SELECT DISTINCT r.rep AS id_a, b.doc_id AS id_b
    FROM (SELECT band, bkey, min(doc_id) AS rep
          FROM bands GROUP BY band, bkey) r
    JOIN bands b ON b.band = r.band AND b.bkey = r.bkey
                AND b.doc_id > r.rep
),
pairs AS (
    SELECT id_a, id_b
    FROM cand
    JOIN sh sa ON sa.doc_id = id_a
    JOIN sh sb ON sb.doc_id = id_b
    WHERE len(list_intersect(sa.s, sb.s))::DOUBLE
          / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
    UNION
    SELECT id_a, id_b FROM exact_edges
    UNION
    SELECT id_b, id_a FROM exact_edges
),
reach(node, comp) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, r.comp
    FROM reach r JOIN edges e ON e.src = r.node
),
clusters AS (
    SELECT node AS doc_id, min(comp) AS cluster_id
    FROM reach GROUP BY node
)
"""

ORACLES["d05_dedup_clusters"] = f"""
WITH RECURSIVE {_CLUSTER_EDGES}
SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id
"""

ORACLES["d06_dedup_keep"] = f"""
WITH RECURSIVE {_CLUSTER_EDGES},
ranked AS (
    SELECT c.cluster_id, c.doc_id,
           row_number() OVER (PARTITION BY c.cluster_id
                              ORDER BY d.n_chars DESC, c.doc_id) AS rn
    FROM clusters c JOIN documents d USING (doc_id)
)
SELECT cluster_id,
       min(CASE WHEN rn = 1 THEN doc_id END) AS keeper,
       count(*) AS n_members
FROM ranked
GROUP BY cluster_id
HAVING count(*) >= 2
ORDER BY cluster_id
"""

ORACLES["t08_quality_budget"] = """
WITH scored AS (
    SELECT doc_id, lang,
           ((2*(40*least(t, 100)*c*t + 3000*(c - p)*t + 3000*sw*c) + c*t)
            // (2*nullif(c*t, 0))) / 10000.0 AS quality_score
    FROM (SELECT doc_id, lang,
                 length(text)::BIGINT AS c,
                 len(string_split_regex(trim(text), '\\s+'))::BIGINT AS t,
                 len(regexp_extract_all(text, '[.,!?;:]'))::BIGINT AS p,
                 len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x IN ('the','and','of','to','a','in','is','it','that','for')))::BIGINT AS sw
          FROM documents)
)
SELECT doc_id, lang, quality_score, lang_rank
FROM (SELECT *,
             row_number() OVER (PARTITION BY lang
                                ORDER BY quality_score DESC, doc_id) AS lang_rank
      FROM scored)
WHERE lang_rank <= 20
ORDER BY lang, lang_rank
"""

ORACLES["t09_hash_sample"] = """
SELECT doc_id, lang,
       substr(md5(lang || ':' || doc_id::VARCHAR), 1, 2) AS bucket
FROM documents
WHERE substr(md5(lang || ':' || doc_id::VARCHAR), 1, 2)
      < CASE WHEN lang = 'en' THEN '40' ELSE '80' END
ORDER BY doc_id
"""

ORACLES["s07_label_centroids"] = """
SELECT label, dim, round(avg(x), 4) + 0.0 AS mean_x, count(*) AS n_vecs
FROM (SELECT label,
             unnest(embedding) AS x,
             unnest(range(len(embedding))) AS dim
      FROM embeddings)
GROUP BY label, dim
ORDER BY label, dim
"""

ORACLES["q41_histogram"] = """
WITH binned AS (
    SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS price_bin,
           count(*) AS n_items
    FROM lineitem
    GROUP BY 1
)
SELECT price_bin, n_items,
       round(sum(n_items) OVER (ORDER BY price_bin)::DOUBLE
             / sum(n_items) OVER (), 6) AS cum_share
FROM binned
ORDER BY price_bin
"""

ORACLES["st07_stream_static_join"] = """
SELECT c.c_mktsegment AS segment,
       e.event_type,
       count(*) AS n_events,
       round(sum(e.value), 2) AS sum_value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id + 1
GROUP BY 1, 2
ORDER BY segment, event_type
"""

ORACLES["q42_upsert_merge"] = """
WITH changes AS (
    SELECT key, new_bal FROM (
        SELECT user_id + 1401 AS key, value AS new_bal,
               row_number() OVER (PARTITION BY user_id + 1401
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'
    ) WHERE rn = 1
),
merged AS (
    SELECT coalesce(c.c_custkey, ch.key) AS key,
           round(coalesce(ch.new_bal, c.c_acctbal), 2) AS bal,
           CASE WHEN c.c_custkey IS NULL THEN 'insert'
                WHEN ch.key IS NULL THEN 'keep'
                ELSE 'update' END AS action
    FROM (SELECT c_custkey, c_acctbal FROM customer) c
    FULL OUTER JOIN changes ch ON c.c_custkey = ch.key
)
SELECT key, bal, action FROM merged
WHERE action <> 'keep'
ORDER BY key
"""

ORACLES["q43_window_misc"] = """
SELECT o_custkey, o_orderkey,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6)    AS cume_dist,
       nth_value(o_totalprice, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS second_price
FROM orders
WHERE o_custkey % 10 = 0
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""

ORACLES["t10_sequence_packing"] = """
SELECT doc_id, lang, n_tokens,
       CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens) / 4096) AS BIGINT) AS seq_no
FROM (SELECT doc_id, lang,
             len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))::BIGINT AS n_tokens
      FROM documents)
ORDER BY doc_id
"""

ORACLES["q44_running_distinct"] = """
WITH marked AS (
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(row_number() OVER (PARTITION BY o_custkey, o_orderpriority
                                   ORDER BY o_orderdate, o_orderkey) = 1
                AS BIGINT) AS is_first
    FROM orders
    WHERE o_custkey % 10 = 0
)
SELECT o_custkey, o_orderkey,
       CAST(sum(is_first) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)
            AS BIGINT) AS n_distinct_priorities
FROM marked
ORDER BY o_custkey, o_orderkey
"""

ORACLES["f03_orc_roundtrip"] = """
SELECT s_nationkey,
       count(*)                  AS n_suppliers,
       round(sum(s_acctbal), 2)  AS total_bal
FROM supplier
WHERE s_acctbal > 0
GROUP BY s_nationkey
ORDER BY s_nationkey
"""

ORACLES["f04_bucketed_join"] = """
SELECT c_mktsegment,
       count(*)                     AS n_orders,
       round(sum(o_totalprice), 2)  AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

ORACLES["q45_string_agg"] = """
SELECT r_name AS region,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       CAST(count(*) FILTER (WHERE n_nationkey % 2 = 0) AS BIGINT)
           AS n_even_keys,
       count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY region
"""

ORACLES["q46_recursive_cte"] = """
WITH RECURSIVE tree(node, depth) AS (
    SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
    UNION ALL
    SELECT c.c_custkey, t.depth + 1
    FROM customer c JOIN tree t ON c.c_custkey // 2 = t.node
    WHERE c.c_custkey > 1
)
SELECT node, CAST(depth AS BIGINT) AS depth FROM tree ORDER BY node
"""

ORACLES["p01_table_profile"] = """
SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
       count(*) - count(o_custkey) AS n_nulls,
       count(DISTINCT o_custkey) AS n_distinct,
       CAST(min(o_custkey) AS VARCHAR) AS min_s,
       CAST(max(o_custkey) AS VARCHAR) AS max_s
FROM orders
UNION ALL
SELECT 'o_orderkey', count(*), count(*) - count(o_orderkey),
       count(DISTINCT o_orderkey),
       CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
       count(DISTINCT o_orderpriority),
       min(o_orderpriority), max(o_orderpriority)
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
       count(DISTINCT o_orderstatus),
       min(o_orderstatus), max(o_orderstatus)
FROM orders
ORDER BY col_name
"""

ORACLES["f05_zorder_layout"] = """
WITH binned AS (
    SELECT CAST(p_size AS BIGINT) AS xdim,
           least(CAST(63 AS BIGINT),
                 greatest(CAST(0 AS BIGINT),
                          CAST(floor((p_retailprice - 900.0) / 20.0)
                               AS BIGINT))) AS ydim
    FROM part
), zed AS (
    SELECT xdim, ydim,
           (((xdim >> 0) & 1) << 0) + (((ydim >> 0) & 1) << 1) +
           (((xdim >> 1) & 1) << 2) + (((ydim >> 1) & 1) << 3) +
           (((xdim >> 2) & 1) << 4) + (((ydim >> 2) & 1) << 5) +
           (((xdim >> 3) & 1) << 6) + (((ydim >> 3) & 1) << 7) +
           (((xdim >> 4) & 1) << 8) + (((ydim >> 4) & 1) << 9) +
           (((xdim >> 5) & 1) << 10) + (((ydim >> 5) & 1) << 11) AS zval
    FROM binned
)
SELECT zval // 64 AS file_id, count(*) AS n_rows,
       min(xdim) AS min_x, max(xdim) AS max_x,
       min(ydim) AS min_y, max(ydim) AS max_y
FROM zed
GROUP BY 1
ORDER BY file_id
"""

ORACLES["st08_foreachbatch_upsert"] = """
SELECT user_id, event_id AS last_event_id,
       round(value, 2) AS last_value
FROM (
    SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
WHERE rn = 1
ORDER BY user_id
"""

ORACLES["l07_funnel"] = """
WITH s1 AS (
    SELECT user_id, min(ts) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN s1 ON e.user_id = s1.user_id
    WHERE e.event_type = 'click' AND e.ts >= s1.t1
    GROUP BY e.user_id
), s3 AS (
    SELECT e.user_id, min(e.ts) AS t3
    FROM events e JOIN s2 ON e.user_id = s2.user_id
    WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
    GROUP BY e.user_id
)
SELECT stage, n_users FROM (
    SELECT '1_view' AS stage, count(*) AS n_users FROM s1
    UNION ALL
    SELECT '2_click', count(*) FROM s2
    UNION ALL
    SELECT '3_purchase', count(*) FROM s3
)
ORDER BY stage
"""

ORACLES["l08_cohort_retention"] = """
WITH weeks AS (
    SELECT user_id, date_trunc('week', ts) AS wk FROM events
), cohort AS (
    SELECT user_id, min(wk) AS cohort_week FROM weeks GROUP BY user_id
), active AS (
    SELECT DISTINCT user_id, wk FROM weeks
)
SELECT CAST(c.cohort_week AS DATE) AS cohort_week,
       CAST((epoch(a.wk) - epoch(c.cohort_week)) / 604800 AS BIGINT)
           AS week_offset,
       count(DISTINCT a.user_id) AS n_users
FROM active a JOIN cohort c ON a.user_id = c.user_id
GROUP BY 1, 2
ORDER BY cohort_week, week_offset
"""

ORACLES["t11_split_assignment"] = """
WITH assigned AS (
    SELECT CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cc' THEN 'train'
                WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END AS split,
           lang
    FROM documents
)
SELECT split, lang, count(*) AS n_docs
FROM assigned
GROUP BY split, lang
ORDER BY split, lang
"""

ORACLES["t12_winsorize"] = """
WITH pct AS (
    SELECT event_type,
           quantile_cont(value, 0.05) AS p05,
           quantile_cont(value, 0.95) AS p95
    FROM events GROUP BY event_type
)
SELECT e.event_type,
       count(*) AS n,
       round(avg(e.value), 4) AS avg_raw,
       round(avg(least(greatest(e.value, p.p05), p.p95)), 4)
           AS avg_clipped,
       CAST(sum(CASE WHEN e.value < p.p05 OR e.value > p.p95
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
FROM events e JOIN pct p ON e.event_type = p.event_type
GROUP BY e.event_type
ORDER BY e.event_type
"""

ORACLES["q47_market_share"] = """
WITH agg AS (
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           n_name AS supp_nation,
           -- exact decimal sum (double association order flips the
           -- .005 rounding boundary; mirrors the Spark plan)
           sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(8,4))) AS rev_exact
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN part     ON l_partkey = p_partkey AND p_type = 'PROMO'
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY 1, 2
)
SELECT o_year, supp_nation,
       round(CAST(rev_exact AS DOUBLE), 2) AS revenue,
       round(CAST(rev_exact AS DOUBLE)
             / CAST(sum(rev_exact) OVER (PARTITION BY o_year) AS DOUBLE),
             4) AS share
FROM agg
ORDER BY o_year, supp_nation
"""

ORACLES["f06_schema_evolution"] = """
SELECT count(*) AS n_rows,
       CAST(count(*) FILTER (WHERE s_suppkey % 2 = 0) AS BIGINT)
           AS n_with_name,
       CAST(count(*) FILTER (WHERE s_suppkey % 2 = 1) AS BIGINT)
           AS n_with_nation,
       round(sum(s_acctbal), 2) AS total_bal
FROM supplier
"""

ORACLES["q48_fuzzy_join"] = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev
FROM customer a
JOIN customer b
  ON substring(a.c_name, 1, 16) = substring(b.c_name, 1, 16)
 AND length(a.c_name) = length(b.c_name)
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
ORDER BY id_a, id_b
"""

ORACLES["q49_null_safe_join"] = """
WITH allc AS (
    SELECT nullif(o_orderpriority, '3-MEDIUM') AS prio,
           count(*) AS n_all
    FROM orders GROUP BY 1
), early AS (
    SELECT nullif(o_orderpriority, '3-MEDIUM') AS prio2,
           count(*) AS n_early
    FROM orders
    WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
)
SELECT prio, n_all, n_early
FROM allc JOIN early ON prio IS NOT DISTINCT FROM prio2
ORDER BY prio NULLS FIRST
"""

ORACLES["q50_median_quantiles"] = """
SELECT l_returnflag,
       round(median(l_quantity), 2)                    AS med_qty,
       round(quantile_cont(l_extendedprice, 0.25), 2)  AS p25_price,
       round(quantile_cont(l_extendedprice, 0.75), 2)  AS p75_price,
       round(quantile_disc(l_extendedprice, 0.5), 2)   AS p50_price_disc
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

ORACLES["q51_gap_fill"] = """
WITH daily AS (
    SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
           round(sum(o_totalprice), 2) AS rev
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
    GROUP BY 1, 2
), days AS (
    SELECT CAST(generate_series AS DATE) AS day
    FROM generate_series(DATE '1995-01-01', DATE '1995-03-31', INTERVAL 1 DAY)
), spine AS (
    SELECT p.o_orderpriority, d.day
    FROM (SELECT DISTINCT o_orderpriority FROM daily) p CROSS JOIN days d
), g AS (
    SELECT s.o_orderpriority, s.day, daily.rev,
           last_value(daily.rev IGNORE NULLS) OVER past  AS rev_ffill,
           first_value(daily.rev IGNORE NULLS) OVER fut  AS rev_bfill,
           last_value(CASE WHEN daily.rev IS NOT NULL THEN s.day END IGNORE NULLS)
               OVER past AS pday,
           first_value(CASE WHEN daily.rev IS NOT NULL THEN s.day END IGNORE NULLS)
               OVER fut  AS nday
    FROM spine s LEFT JOIN daily
      ON s.o_orderpriority = daily.o_orderpriority AND s.day = daily.day
    WINDOW past AS (PARTITION BY s.o_orderpriority ORDER BY s.day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           fut  AS (PARTITION BY s.o_orderpriority ORDER BY s.day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT o_orderpriority, day, rev, rev_ffill, rev_bfill,
       CASE WHEN rev IS NOT NULL THEN rev
            WHEN rev_ffill IS NULL THEN rev_bfill
            WHEN rev_bfill IS NULL THEN rev_ffill
            ELSE ((2 * (CAST(round(rev_ffill * 100) AS BIGINT) * (d2 - d1)
                        + CAST(round(rev_bfill * 100) AS BIGINT) * d1)
                   + d2) // (2 * d2)) / 100.0
       END AS rev_interp
FROM (
    SELECT g.*,
           CAST(date_diff('day', pday, day)  AS BIGINT) AS d1,
           CAST(date_diff('day', pday, nday) AS BIGINT) AS d2
    FROM g
) gd
ORDER BY o_orderpriority, day
"""

ORACLES["q52_join_hints"] = """
SELECT o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

ORACLES["q53_decimal_exact"] = """
SELECT l_returnflag,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                 AS DECIMAL(38,2)) AS VARCHAR) AS gross,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(1 - l_discount AS DECIMAL(8,4)))
                 AS DECIMAL(38,6)) AS VARCHAR) AS net,
       count(*) AS n_items
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

ORACLES["l09_rolling_anomaly"] = """
WITH scored AS (
    SELECT event_id, event_type, value,
           avg(value)         OVER hist AS mu,
           stddev_samp(value) OVER hist AS sd,
           count(value)       OVER hist AS n_hist
    FROM events
    WINDOW hist AS (PARTITION BY event_type ORDER BY ts, event_id
                    ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, event_type,
       round(value, 2) AS value,
       round((value - mu) / sd, 3) AS z
FROM scored
WHERE n_hist = 100 AND abs((value - mu) / sd) > 3
ORDER BY event_id
"""

ORACLES["f07_compaction"] = """
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
       round(sum(l_extendedprice), 2) AS price_sum
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

ORACLES["u04_grouped_map_zscore"] = """
SELECT event_id, event_type,
       round((value - avg(value) OVER grp)
             / stddev_samp(value) OVER grp, 4) AS z
FROM events
WINDOW grp AS (PARTITION BY event_type)
ORDER BY event_id
"""

ORACLES["u05_map_in_arrow"] = """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
ORDER BY doc_id
"""

ORACLES["q54_scd2_join"] = """
WITH vers AS (
    SELECT s_suppkey,
           (DATE '1995-01-01' + INTERVAL (s_suppkey % 700) DAY)::DATE AS b1
    FROM supplier
), vers2 AS (
    SELECT s_suppkey, b1,
           (b1 + INTERVAL (400 + s_suppkey % 300) DAY)::DATE AS b2
    FROM vers
), dim AS (
    SELECT s_suppkey, 'A' AS version, DATE '1900-01-01' AS valid_from, b1 AS valid_to FROM vers2
    UNION ALL
    SELECT s_suppkey, 'B', b1, b2 FROM vers2
    UNION ALL
    SELECT s_suppkey, 'C', b2, DATE '9999-12-31' FROM vers2
)
SELECT version,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN dim ON l_suppkey = s_suppkey
        AND CAST(l_shipdate AS DATE) >= valid_from
        AND CAST(l_shipdate AS DATE) <  valid_to
GROUP BY version
ORDER BY version
"""

ORACLES["p02_dq_checks"] = """
SELECT * FROM (
    SELECT 'lineitem_rows' AS metric, count(*) AS violations FROM lineitem
    UNION ALL
    SELECT 'null_orderkey', count(*) FROM lineitem WHERE l_orderkey IS NULL
    UNION ALL
    SELECT 'dup_line_key', count(*) FROM (
        SELECT l_orderkey, l_linenumber FROM lineitem
        GROUP BY 1, 2 HAVING count(*) > 1
    )
    UNION ALL
    SELECT 'orphan_lineitems', count(*) FROM lineitem
    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    UNION ALL
    SELECT 'discount_out_of_range', count(*) FROM lineitem
    WHERE l_discount < 0 OR l_discount > 1
    UNION ALL
    SELECT 'nonpositive_quantity', count(*) FROM lineitem
    WHERE l_quantity <= 0
)
ORDER BY metric
"""

ORACLES["q55_dynamic_partition_pruning"] = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
WHERE year(o_orderdate) IN (1996, 1997)
GROUP BY 1
ORDER BY o_year
"""

# q56: PageRank with a FIXED 10 iterations — unrolled as chained CTEs
# because SQL forbids aggregates in a recursive CTE's recursive term.
# Graph: events (user_id%100 → props.k%100) plus the bijective ring
# n → 31n+7 (mod 100), so all 100 nodes have out-degree ≥ 1 (no
# dangling mass) and in-degree ≥ 1 (every node appears in each step).
def _pagerank_sql(n_iter: int = 10, damping: float = 0.85, n: int = 100) -> str:
    base = (1.0 - damping) / n
    parts = [
        "WITH arcs AS (",
        "    SELECT DISTINCT u, v FROM (",
        "        SELECT user_id % 100 AS u,",
        "               CAST(props->>'k' AS BIGINT) % 100 AS v",
        "        FROM events",
        "        UNION ALL",
        "        SELECT range AS u, (range * 31 + 7) % 100 AS v",
        f"        FROM range({n})",
        "    )",
        "), outdeg AS (",
        "    SELECT u AS node, count(*) AS deg FROM arcs GROUP BY u",
        "), pr0 AS (",
        f"    SELECT range AS node, 1.0/{n} AS rank FROM range({n})",
        ")",
    ]
    for i in range(n_iter):
        parts.append(
            f", pr{i + 1} AS (\n"
            f"    SELECT a.v AS node,\n"
            f"           {base!r} + {damping!r} * sum(p.rank / od.deg) AS rank\n"
            f"    FROM pr{i} p\n"
            f"    JOIN outdeg od ON od.node = p.node\n"
            f"    JOIN arcs a   ON a.u     = p.node\n"
            f"    GROUP BY a.v\n"
            f")"
        )
    parts.append(
        f"SELECT node, round(rank, 6) AS rank FROM pr{n_iter} ORDER BY node"
    )
    return "\n".join(parts)


ORACLES["q56_pagerank"] = _pagerank_sql()

ORACLES["m04_binary_file_scan"] = """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents
WHERE doc_id < 64
ORDER BY doc_id
"""

ORACLES["q57_predicate_collect"] = """
SELECT o_orderpriority,
       count(CASE WHEN o_orderstatus IN ('F', 'P') THEN 1 END)      AS n_closed_ish,
       count(CASE WHEN o_orderpriority LIKE '%URGENT%' THEN 1 END)  AS n_urgent_like,
       count(CASE WHEN regexp_matches(o_orderpriority, '^[12]-') THEN 1 END)
           AS n_high_rx,
       count(CASE WHEN o_totalprice BETWEEN 1000 AND 100000 THEN 1 END)
           AS n_mid_price,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END)              AS n_open_case,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), '|') AS statuses
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

ORACLES["q58_not_in_null_semantics"] = """
WITH keys AS (
    SELECT CASE WHEN n_nationkey = 13 THEN NULL
                ELSE n_nationkey END AS k
    FROM nation
    WHERE n_nationkey < 15
)
SELECT
    (SELECT count(*) FROM customer
     WHERE c_nationkey NOT IN (SELECT k FROM keys)) AS n_not_in,
    (SELECT count(*) FROM customer c
     WHERE NOT EXISTS (SELECT 1 FROM keys WHERE keys.k = c.c_nationkey))
        AS n_not_exists
"""

ORACLES["st09_checkpoint_resume"] = """
SELECT CAST(ts AS DATE) AS day, event_type,
       count(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""

ORACLES["t13_contamination"] = """
WITH g AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ')
                          for i in range(1, len(t) - 1)]) AS gs
    FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM documents)
    WHERE len(t) >= 3
), bench AS (
    SELECT doc_id AS bench_id, unnest(gs) AS gram FROM g WHERE doc_id % 97 = 0
), corp AS (
    SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 97 <> 0
)
SELECT corp.doc_id, bench.bench_id, count(*) AS n_shared
FROM corp JOIN bench ON corp.gram = bench.gram
GROUP BY 1, 2
HAVING count(*) >= 2
ORDER BY doc_id, bench_id
"""

ORACLES["t14_pii_scrub"] = """
WITH t AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0
                THEN text || ' contact user' || doc_id
                     || '@example.com from 10.1.' || (doc_id % 250) || '.7'
                ELSE text END AS t
    FROM documents
    WHERE doc_id < 200
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9.]+[a-z]')) AS BIGINT)
           AS n_emails,
       CAST(len(regexp_extract_all(t, '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+')) AS BIGINT)
           AS n_ips,
       md5(regexp_replace(
               regexp_replace(t, '[a-z0-9.]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g'),
               '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+', '<IP>', 'g'))
           AS scrubbed_md5
FROM t
ORDER BY doc_id
"""

ORACLES["f08_malformed_csv"] = """
SELECT count(*) AS n_valid,
       CAST(3 AS BIGINT) AS n_corrupt,
       CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
       CAST(sum(l_linenumber) AS BIGINT) AS ln_sum,
       round(sum(l_quantity), 2) AS qty_sum
FROM lineitem
WHERE l_orderkey < 300
"""

ORACLES["t15_repetition_rules"] = """
WITH feats AS (
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_words,
           round(list_sum(list_transform(t, x -> length(x)))::DOUBLE
                 / len(t), 4) AS mean_word_len,
           CASE WHEN len(t) >= 3 THEN
               round(1.0 - len(list_distinct(
                         [array_to_string(t[i:i+2], ' ')
                          for i in range(1, len(t) - 1)]))::DOUBLE
                     / (len(t) - 2), 4)
           ELSE 0.0 END AS rep_ratio
    FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM documents)
)
SELECT doc_id, n_words, mean_word_len, rep_ratio,
       (n_words >= 10 AND mean_word_len BETWEEN 2.5 AND 12.0
        AND rep_ratio <= 0.2) AS keep
FROM feats
ORDER BY doc_id
"""

ORACLES["k01_kinesis_roundtrip"] = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT event_id) AS n_distinct,
       round(sum(value), 2) AS sum_value
FROM events
WHERE event_id % 3 = 0
GROUP BY event_type
ORDER BY event_type
"""

# m08/m09: the decoders parse real PPM/WAV bytes; the oracles recompute
# the identical stats from the pixel/sample CLOSED FORMS alone (the
# encoders' formulas), so the hash proves the parse, not the formula.
ORACLES["m08_ppm_decode_stats"] = """
WITH imgs AS (
    SELECT doc_id AS img_id,
           8 + (doc_id % 5) * 4 AS w,
           6 + (doc_id % 3) * 4 AS h
    FROM documents WHERE doc_id < 24
),
px AS (
    SELECT img_id, w, h, xs.x AS x, ys.y AS y
    FROM imgs,
         LATERAL (SELECT unnest(range(w)) AS x) xs,
         LATERAL (SELECT unnest(range(h)) AS y) ys
)
SELECT img_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(sum((img_id * 31 + 7 * x + 13 * y) % 256) AS BIGINT) AS r_sum,
       CAST(sum((img_id * 31 + 7 * x + 13 * y + 97) % 256) AS BIGINT) AS g_sum,
       CAST(sum((img_id * 31 + 7 * x + 13 * y + 194) % 256) AS BIGINT) AS b_sum
FROM px
GROUP BY img_id, w, h
ORDER BY img_id
"""

ORACLES["m09_wav_decode_stats"] = """
WITH clips AS (
    SELECT doc_id AS clip_id,
           500 + (doc_id % 7) * 250 AS n,
           8000 + (doc_id % 3) * 4000 AS sr
    FROM documents WHERE doc_id < 16
),
s AS (
    SELECT clip_id, n, sr,
           ((clip_id * 7 + 11 * t.i) % 65536) - 32768 AS v
    FROM clips, LATERAL (SELECT unnest(range(n)) AS i) t
)
SELECT clip_id,
       CAST(sr AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(n AS BIGINT) AS n_samples,
       CAST(sum(v) AS BIGINT) AS sum_samples,
       CAST(max(abs(v)) AS INT) AS peak
FROM s
GROUP BY clip_id, n, sr
ORDER BY clip_id
"""

ORACLES["m10_png_decode_stats"] = """
WITH imgs AS (
    SELECT doc_id AS img_id,
           8 + (doc_id % 6) * 3 AS w,
           6 + (doc_id % 4) * 3 AS h
    FROM documents WHERE doc_id < 20
),
px AS (
    SELECT img_id, w, h, xs.x AS x, ys.y AS y
    FROM imgs,
         LATERAL (SELECT unnest(range(w)) AS x) xs,
         LATERAL (SELECT unnest(range(h)) AS y) ys
)
SELECT img_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(sum((img_id * 31 + 7 * x + 13 * y) % 256) AS BIGINT) AS r_sum,
       CAST(sum((img_id * 31 + 7 * x + 13 * y + 97) % 256) AS BIGINT) AS g_sum,
       CAST(sum((img_id * 31 + 7 * x + 13 * y + 194) % 256) AS BIGINT) AS b_sum
FROM px
GROUP BY img_id, w, h
ORDER BY img_id
"""

ORACLES["k08_aws_transport_roundtrip"] = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT event_id) AS n_distinct,
       round(sum(value), 2) AS sum_value
FROM events
WHERE event_id % 20 = 0
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["f09_jsonlines_nested_roundtrip"] = """
SELECT c.c_nationkey,
       n.n_name,
       count(*) AS n_customers,
       round(sum(c.c_acctbal), 2) AS bal_sum,
       array_to_string(list_sort(list(DISTINCT c.c_mktsegment)), '|') AS segments
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY c.c_nationkey, n.n_name
ORDER BY c_nationkey
"""

ORACLES["q59_null_ordering"] = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 5 = 0 THEN NULL
            ELSE o_totalprice END AS nullable_price
FROM orders
WHERE o_orderkey <= 400
ORDER BY nullable_price ASC NULLS FIRST, o_orderkey ASC
LIMIT 50
"""

ORACLES["ts01_series_similarity"] = """
WITH sums AS (
    SELECT user_id, hour(ts) AS slot, round(sum(value), 2) AS v
    FROM events WHERE user_id < 200 GROUP BY 1, 2
), users AS (SELECT DISTINCT user_id FROM sums),
spine AS (SELECT user_id, range AS slot FROM users CROSS JOIN range(24)),
dense AS (
    SELECT s.user_id, s.slot, coalesce(v, 0.0) AS val
    FROM spine s LEFT JOIN sums
      ON sums.user_id = s.user_id AND sums.slot = s.slot
), q AS (
    SELECT slot, val AS qval FROM dense WHERE user_id = 0
)
SELECT d.user_id,
       round(sqrt(sum((d.val - q.qval) * (d.val - q.qval))), 4) AS dist
FROM dense d JOIN q USING (slot)
WHERE d.user_id <> 0
GROUP BY d.user_id
ORDER BY dist, user_id
LIMIT 10
"""

ORACLES["p03_observed_metrics"] = """
SELECT l_returnflag,
       count(*) AS n_rows,
       round(sum(l_quantity), 2) AS qty_sum
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

# ---------------------------------------------------------------------------
# round-3 additions
# ---------------------------------------------------------------------------

ORACLES["q60_lateral_topk"] = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c,
LATERAL (
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 2
) o
WHERE c.c_custkey % 7 = 0
ORDER BY c_custkey, o_orderkey
"""

# q61: the sketch estimates are engine-specific; the CONTRACT (rank
# error of p50/p90/p99 within tolerance) is the oracle-stated table.
ORACLES["q61_approx_quantile_gate"] = """
SELECT CAST(p_pct AS INT) AS p_pct, CAST(1 AS INT) AS rank_ok
FROM (VALUES (50), (90), (99)) t(p_pct)
ORDER BY p_pct
"""

ORACLES["d07_containment_pairs"] = """
WITH t AS (
    SELECT doc_id,
           unnest(list_distinct(
               string_split_regex(lower(trim(text)), '\\s+'))) AS w
    FROM documents
    WHERE doc_id % 10 = 0
), sizes AS (
    SELECT doc_id, count(*) AS n_a FROM t GROUP BY doc_id
), inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
    FROM t a JOIN t b USING (w)
    WHERE a.doc_id <> b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST((2000 * inter + n_a) // (2 * n_a) AS BIGINT) AS contain_pm
FROM inter JOIN sizes ON sizes.doc_id = id_a
WHERE 1000 * inter >= 900 * n_a
ORDER BY id_a, id_b
"""

# s09: iterative fp arithmetic is engine-specific; the oracle pins the
# Lloyd invariants (total assignment each round, monotone objective).
ORACLES["s09_kmeans"] = """
SELECT CAST(i AS INT) AS iter,
       (SELECT count(*) FROM embeddings) AS n_points,
       CAST(1 AS INT) AS inertia_ok
FROM range(3) t(i)
ORDER BY iter
"""

ORACLES["f10_corrupt_json_permissive"] = """
SELECT count(CASE WHEN c_custkey % 10 <> 3 THEN 1 END) AS n_valid,
       count(CASE WHEN c_custkey % 10 = 3 THEN 1 END)  AS n_corrupt,
       round(sum(CASE WHEN c_custkey % 10 <> 3
                      THEN c_acctbal END), 2)           AS bal_sum
FROM customer
"""

ORACLES["t16_unigram_entropy"] = """
WITH counts AS (
    SELECT doc_id, w, count(*) AS c
    FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents
    )
    GROUP BY doc_id, w
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 3) AS entropy
FROM counts
GROUP BY doc_id
ORDER BY doc_id
"""

ORACLES["q62_correlated_scalar_subquery"] = """
SELECT c.c_custkey,
       (SELECT max(o_totalprice)
        FROM orders o
        WHERE o.o_custkey = c.c_custkey) AS max_price
FROM customer c
WHERE c.c_custkey % 11 = 0
ORDER BY c_custkey
"""

ORACLES["q63_asof_tolerance"] = """
WITH views AS (
    SELECT user_id, ts AS vts, max(event_id) AS view_event_id
    FROM events
    WHERE event_type = 'view'
    GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
       (SELECT v.view_event_id
        FROM views v
        WHERE v.user_id = c.user_id
          AND v.vts <= c.ts
          AND epoch(c.ts) - epoch(v.vts) <= 86400
        ORDER BY v.vts DESC, v.view_event_id DESC
        LIMIT 1) AS view_event_id
FROM events c
WHERE c.event_type = 'click'
ORDER BY event_id
"""

ORACLES["l10_burst_clients"] = """
WITH per_bucket AS (
    -- floor(), not ::BIGINT: DuckDB's double->BIGINT cast ROUNDS
    -- fractional seconds while Spark's unix_timestamp() floors.
    SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(ts)) AS BIGINT) % 600 AS bucket,
           count(*) AS c
    FROM events
    GROUP BY 1, 2
)
SELECT user_id,
       CAST(max(c) AS BIGINT) AS peak_10m,
       count(CASE WHEN c >= 2 THEN 1 END) AS n_burst_buckets
FROM per_bucket
GROUP BY user_id
HAVING max(c) >= 2
ORDER BY user_id
"""

ORACLES["f11_csv_quoted_multiline"] = """
WITH t AS (
    SELECT c_custkey,
           c_mktsegment || ',"q"' || chr(10) || CAST(c_custkey AS VARCHAR)
               AS tricky,
           c_acctbal
    FROM customer
    WHERE c_custkey < 500
)
SELECT count(*) AS n_rows,
       CAST(sum(c_custkey) AS BIGINT) AS key_sum,
       CAST(sum(length(tricky)) AS BIGINT) AS tricky_len_sum,
       count(CASE WHEN contains(tricky, chr(10)) THEN 1 END)
           AS n_multiline,
       round(sum(c_acctbal), 2) AS bal_sum
FROM t
"""

# t17: the signature arithmetic is engine-specific; the oracle pins
# the pair count (exactly computable: all pairs of >=3-token subset
# docs) and the estimator-accuracy assertions.
ORACLES["t17_minhash_estimate_gate"] = """
WITH d AS (
    SELECT doc_id
    FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 100)
    WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 3
)
SELECT CAST((SELECT (count(*) * (count(*) - 1)) // 2 FROM d) AS BIGINT)
           AS n_pairs,
       CAST(1 AS INT) AS mae_ok,
       CAST(1 AS INT) AS maxerr_ok
"""

ORACLES["q64_hll_partial_union"] = """
SELECT o_orderpriority,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_buyers,
       CAST(1 AS INT) AS est_ok
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

ORACLES["f12_xml_roundtrip"] = """
SELECT s_nationkey,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(len(s_name)) AS BIGINT) AS name_chars,
       round(sum(s_acctbal), 2) AS total_bal
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""

ORACLES["f13_variant_shred"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(CAST(json_extract_string(props, '$.k') AS INTEGER))
            AS BIGINT) AS n_with_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
            AS BIGINT) AS sum_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER))
            AS INTEGER) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["q65_bloom_filter_join"] = """
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice), 2) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size >= 44
GROUP BY p_brand
ORDER BY p_brand
"""

ORACLES["u06_arrow_scalar_udf"] = """
SELECT CAST(list_sum(list_transform(
           string_split(CAST(o_orderkey AS VARCHAR), ''),
           x -> CAST(x AS INTEGER))) AS INTEGER) AS dsum,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY 1
ORDER BY 1
"""

ORACLES["g01_grid_neighbor_join"] = """
WITH pts AS (
    SELECT c_custkey AS id,
           ((c_custkey * c_custkey % 1000003) * 48271
            + c_custkey * 12345) % 1000000 AS x,
           ((c_custkey * c_custkey % 999983) * 69621
            + c_custkey * 54321) % 1000000 AS y
    FROM customer
)
SELECT a.id AS id_a,
       b.id AS id_b,
       CAST((a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
FROM pts a
JOIN pts b ON a.id < b.id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
      <= 100000000
ORDER BY id_a, id_b
"""

ORACLES["l11_ip_range_enrich"] = """
WITH bounds AS (
    SELECT CASE WHEN i = 0 THEN 0
           ELSE (i * 2654435761 + 40503) % 4294967296 END AS start
    FROM range(64) t(i)
), ranges AS (
    SELECT start,
           coalesce(lead(start) OVER (ORDER BY start), 4294967296) - 1
               AS range_end,
           printf('blk_%02d',
                  CAST(row_number() OVER (ORDER BY start) - 1 AS INT))
               AS block
    FROM bounds
), ips AS (
    SELECT event_id, user_id,
           (user_id * 2654435761 + event_id * 97) % 4294967296 AS ip
    FROM events
)
SELECT block,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(min(ip) AS BIGINT) AS min_ip,
       CAST(max(ip) AS BIGINT) AS max_ip
FROM ips
JOIN ranges ON ip >= start AND ip <= range_end
GROUP BY block
ORDER BY block
"""

ORACLES["t18_stratified_sample"] = """
WITH ranked AS (
    SELECT doc_id, lang,
           CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS INT) AS rk,
           count(*) OVER (PARTITION BY lang) AS n
    FROM documents
)
SELECT doc_id, lang, rk
FROM ranked
WHERE rk <= ceil(n / 10.0)
ORDER BY lang, rk
"""

ORACLES["q66_snapshot_diff"] = """
WITH a AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
), b AS (
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
                ELSE o_totalprice END AS o_totalprice
    FROM a WHERE o_orderkey % 13 <> 0
    UNION ALL
    SELECT o_orderkey + 10000000, 'NEW', o_totalprice
    FROM a WHERE o_orderkey % 17 = 0
)
SELECT change_type,
       CAST(count(*) AS BIGINT) AS n_keys,
       round(sum(tp), 2) AS total_price
FROM (
    SELECT CASE
               WHEN b.o_orderkey IS NULL THEN 'deleted'
               WHEN a.o_orderkey IS NULL THEN 'inserted'
               WHEN a.o_orderstatus <> b.o_orderstatus
                    OR a.o_totalprice <> b.o_totalprice THEN 'updated'
               ELSE 'unchanged'
           END AS change_type,
           coalesce(b.o_totalprice, a.o_totalprice) AS tp
    FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
)
GROUP BY change_type
ORDER BY change_type
"""

ORACLES["s10_int8_quant_gate"] = """
WITH v AS (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, e -> abs(e))) AS mx
    FROM embeddings
)
SELECT vec_id,
       CAST(list_sum(list_transform(embedding,
            e -> floor(CAST(e AS DOUBLE) * 127 / CAST(mx AS DOUBLE))))
            AS BIGINT) AS code_sum,
       CAST(1 AS INT) AS recon_ok
FROM v
WHERE mx > 0
ORDER BY vec_id
"""

ORACLES["st10_stream_left_outer_join"] = """
WITH ev AS (
    SELECT user_id, ts, event_type FROM events
), j AS (
    SELECT l.event_type AS l_type,
           coalesce(r.event_type, '(none)') AS r_type,
           l.user_id AS l_user
    FROM ev l
    LEFT JOIN ev r
      ON l.user_id = r.user_id
     AND r.ts > l.ts
     AND r.ts <= l.ts + INTERVAL 5 MINUTE
)
SELECT l_type, r_type,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT l_user) AS BIGINT) AS n_users
FROM j
GROUP BY l_type, r_type
ORDER BY l_type, r_type
"""

ORACLES["p04_stream_progress_metrics"] = """
SELECT CAST(count(*) AS BIGINT) AS rows_observed,
       CAST(count(*) AS BIGINT) AS rows_in_sink,
       CAST(1 AS INT) AS totals_match,
       CAST(1 AS INT) AS batching_ok
FROM events
"""

ORACLES["d08_token_sort_dedup"] = """
WITH docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000,
           array_to_string(
               list_reverse(
                   string_split_regex(lower(trim(text)), '\\s+')), ' ')
    FROM documents WHERE doc_id % 37 = 0
), signed AS (
    SELECT doc_id,
           md5(array_to_string(
               list_sort(string_split_regex(lower(trim(text)), '\\s+')),
               ' ')) AS sig
    FROM docs
), groups AS (
    SELECT sig,
           CAST(count(*) AS BIGINT) AS group_n,
           CAST(min(doc_id) AS BIGINT) AS keeper
    FROM signed
    GROUP BY sig
    HAVING count(*) > 1
)
SELECT s.doc_id, g.keeper, g.group_n
FROM signed s
JOIN groups g USING (sig)
ORDER BY s.doc_id
"""

ORACLES["q67_max_concurrency"] = """
WITH bounds AS (
    SELECT ts AS t, 1 AS delta FROM events
    UNION ALL
    SELECT ts + INTERVAL 5 MINUTE, -1 FROM events
), runs AS (
    SELECT date_trunc('hour', t) AS bucket_ts,
           sum(delta) OVER (
               ORDER BY t, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS run
    FROM bounds
)
SELECT bucket_ts, CAST(max(run) AS BIGINT) AS peak
FROM runs
GROUP BY bucket_ts
ORDER BY bucket_ts
"""

ORACLES["g02_triangle_count"] = """
WITH ev AS (
    SELECT user_id % 100 AS u,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 100 AS v
    FROM events
), edges AS (
    SELECT DISTINCT least(u, v) AS lo, greatest(u, v) AS hi
    FROM ev
    WHERE u IS NOT NULL AND v IS NOT NULL AND u <> v
)
SELECT (SELECT CAST(count(*) AS BIGINT)
        FROM edges e1
        JOIN edges e2 ON e1.hi = e2.lo
        JOIN edges e3 ON e3.lo = e1.lo AND e3.hi = e2.hi)
           AS n_triangles,
       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges
"""

ORACLES["f14_gzip_jsonl_scan"] = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total,
       CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

ORACLES["t19_bpe_pair_stats"] = """
WITH toks AS (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
    FROM documents
), pairs AS (
    SELECT unnest(list_transform(
        range(1, length(tok)),
        i -> substring(tok, CAST(i AS INT), 2))) AS pair
    FROM toks
    WHERE length(tok) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS cnt
FROM pairs
GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT 20
"""

ORACLES["s11_ivf_probe_sweep"] = """
SELECT CAST(nprobe AS INT) AS nprobe,
       CAST(50 AS BIGINT) AS n_results,
       CAST(1 AS INT) AS monotone_ok,
       CAST(1 AS INT) AS floor_ok
FROM (VALUES (1), (2), (4), (8)) t(nprobe)
ORDER BY nprobe
"""

ORACLES["u07_scalar_iter_udf"] = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""

ORACLES["t20_unigram_lm_score"] = """
WITH tok AS (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM documents
), dc AS (
    SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w
), corpus AS (
    SELECT w, sum(c) AS cw FROM dc GROUP BY w
), n AS (
    SELECT sum(cw) AS n FROM corpus
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       round(sum(c * -log2(CAST(cw AS DOUBLE) / n)) / sum(c), 3)
           AS mean_surprisal
FROM dc
JOIN corpus USING (w)
CROSS JOIN n
GROUP BY doc_id
ORDER BY doc_id
"""

ORACLES["f15_dynamic_partition_overwrite"] = """
SELECT CAST(ts AS DATE) AS event_date,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-10'
                      THEN value * 2 ELSE value END), 2) AS sum_value
FROM events
GROUP BY 1
ORDER BY event_date
"""

ORACLES["st11_stream_source_union"] = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
       event_type,
       count(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY hour_start, event_type
"""

ORACLES["q68_asof_forward"] = """
WITH nxt AS (
    SELECT o_custkey AS user_id, o_orderdate AS odate,
           max(o_orderkey) AS next_order_key
    FROM orders GROUP BY 1, 2
)
SELECT event_id, user_id,
       CASE WHEN odate IS NOT NULL
                 AND epoch(odate) - epoch(ts) <= 7 * 86400
            THEN next_order_key END AS next_order_key
FROM (
    SELECT e.event_id, e.user_id, e.ts, n.odate, n.next_order_key,
           row_number() OVER (PARTITION BY e.event_id
                              ORDER BY n.odate ASC) AS rn
    FROM events e
    LEFT JOIN nxt n ON n.user_id = e.user_id AND n.odate >= e.ts
)
WHERE rn = 1
ORDER BY event_id
"""

ORACLES["q69_cached_branch_reuse"] = """
WITH inter AS (
    SELECT l_returnflag, l_linestatus,
           l_extendedprice * (1 - l_discount) AS net
    FROM lineitem WHERE l_quantity > 10
)
SELECT key, n_rows, total_net, branch FROM (
    SELECT l_returnflag AS key,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(net), 2) AS total_net,
           'by_returnflag' AS branch
    FROM inter GROUP BY l_returnflag
    UNION ALL
    SELECT l_linestatus,
           CAST(count(*) AS BIGINT),
           round(sum(net), 2),
           'by_linestatus'
    FROM inter GROUP BY l_linestatus
)
ORDER BY branch, key
"""

ORACLES["s12_dim_stats"] = """
WITH dims AS (
    SELECT generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS e
    FROM embeddings
)
SELECT pos,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(e) AS DOUBLE) AS dim_min,
       CAST(max(e) AS DOUBLE) AS dim_max,
       round(sum(e) / count(*), 4) + 0 AS dim_mean,
       round(sum(e * e) / count(*)
             - (sum(e) / count(*)) * (sum(e) / count(*)), 4) + 0 AS dim_var
FROM dims
GROUP BY pos
ORDER BY pos
"""

ORACLES["q70_bitwise_aggs"] = """
SELECT o_orderpriority,
       CAST(bit_and(o_orderkey % 4096) AS BIGINT) AS and_mask,
       CAST(bit_or(o_orderkey % 4096) AS BIGINT) AS or_mask,
       CAST(bit_xor(o_orderkey % 4096) AS BIGINT) AS xor_mask,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

ORACLES["d09_lsh_band_sweep"] = """
WITH sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ')
                          for i in range(1, len(t) - 1)]) AS s
    FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM documents)
    WHERE len(t) >= 3
),
bands AS (
    SELECT doc_id, b.i AS band,
           list_min(list_transform(dg, d -> substr(d, 1 + 4*(2*b.i), 4)))
           || list_min(list_transform(dg, d -> substr(d, 1 + 4*(2*b.i+1), 4)))
           AS bkey
    FROM (SELECT doc_id, s, list_transform(s, x -> md5(x)) AS dg FROM sh) dig,
         (SELECT unnest(generate_series(0, 3)) AS i) b
),
cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, min(a.band) AS first_band
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
flagged AS (
    SELECT c.first_band,
           CASE WHEN len(list_intersect(sa.s, sb.s))::DOUBLE
                     / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5
                THEN 1 ELSE 0 END AS ok
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b
)
SELECT n_bands,
       CAST(count(CASE WHEN first_band < n_bands THEN 1 END) AS BIGINT)
           AS n_candidates,
       CAST(count(CASE WHEN first_band < n_bands AND ok = 1 THEN 1 END)
            AS BIGINT) AS n_verified
FROM flagged, (VALUES (1), (2), (4)) lv(n_bands)
GROUP BY n_bands
ORDER BY n_bands
"""

ORACLES["f16_multiline_json_array"] = """
SELECT n_regionkey,
       CAST(count(*) AS BIGINT) AS n_nations,
       min(n_name) AS first_name,
       CAST(max(n_nationkey) AS INTEGER) AS max_key
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
"""

# q129: the evolved struct's JSON constructed from scratch — field
# order (id, price, meta, tier-appended), the lowered nested leaf,
# and the dropped meta.status are all pinned byte-for-byte.
ORACLES["q129_nested_struct_update"] = """
SELECT o_orderkey,
       '{"id":"' || o_orderkey
       || '","price":"'
       || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
       || '","meta":{"prio":"' || lower(o_orderpriority)
       || '"},"tier":"' || substr(o_orderpriority, 1, 1)
       || '"}' AS shape
FROM orders
WHERE o_orderkey % 31 = 0
ORDER BY o_orderkey
"""

ORACLES["k05_python_datasource_writer"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       round(sum(value), 2) AS sum_value
FROM events
WHERE event_id % 23 = 0
GROUP BY event_type
ORDER BY event_type
"""

# k04: the at-most-once survivor set is exact — the %5 payload minus
# the deterministically throttled %10 records leaves event_id%10==5;
# equal n_events/n_distinct additionally pins zero duplication (a
# retrying sink would double-write throttled-then-accepted records).
ORACLES["k04_at_most_once_drops"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       round(sum(value), 2) AS sum_value
FROM events
WHERE event_id % 10 = 5
GROUP BY event_type
ORDER BY event_type
"""

# k09 is k04's contract at the wire (real boto3 through the throttling
# proxy): identical survivor set, identical rollup.
ORACLES["k09_aws_throttled_put"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       round(sum(value), 2) AS sum_value
FROM events
WHERE event_id % 10 = 5
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["k02_kinesis_checkpoint_resume"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
WHERE event_id % 3 IN (0, 1)
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["p05_pipeline_reconciliation"] = """
WITH nonshort AS (
    SELECT doc_id, text FROM documents WHERE length(text) >= 100
), exact_keep AS (
    SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rk
        FROM nonshort
    ) WHERE rk = 1
), multiset_keep AS (
    SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (
                   PARTITION BY md5(array_to_string(
                       list_sort(string_split_regex(
                           lower(trim(text)), '\\s+')), ' '))
                   ORDER BY doc_id) AS rk
        FROM exact_keep
    ) WHERE rk = 1
), sampled AS (
    SELECT doc_id FROM multiset_keep
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
               AS BIGINT) % 2 = 0
)
SELECT stage, n_docs FROM (
    SELECT '1_raw' AS stage,
           CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs
    UNION ALL
    SELECT '2_nonshort', CAST((SELECT count(*) FROM nonshort) AS BIGINT)
    UNION ALL
    SELECT '3_exact_unique',
           CAST((SELECT count(*) FROM exact_keep) AS BIGINT)
    UNION ALL
    SELECT '4_multiset_unique',
           CAST((SELECT count(*) FROM multiset_keep) AS BIGINT)
    UNION ALL
    SELECT '5_half_sampled',
           CAST((SELECT count(*) FROM sampled) AS BIGINT)
)
ORDER BY stage
"""

ORACLES["w01_weighted_sample"] = """
WITH keyed AS (
    SELECT doc_id, n_chars,
           ln((CAST((doc_id * 2654435761 + 40503) % 2147483647 AS DOUBLE)
               + 1.0) / 2147483648.0)
           / CAST(n_chars AS DOUBLE) AS k
    FROM documents
    WHERE n_chars > 0
)
SELECT doc_id, n_chars,
       CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS INT)
           AS draw_rank
FROM keyed
ORDER BY k DESC, doc_id
LIMIT 50
"""

ORACLES["q71_null_skew_join"] = """
WITH ev AS (
    SELECT event_id, event_type,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                     % 3 <> 0
                THEN (CAST(json_extract_string(props, '$.k') AS BIGINT)
                      % 1000) + 1
           END AS cust_key
    FROM events
)
SELECT event_type,
       coalesce(c_mktsegment, '(no-key)') AS segment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT cust_key) AS BIGINT) AS n_keys
FROM ev
LEFT JOIN customer ON ev.cust_key = customer.c_custkey
GROUP BY event_type, segment
ORDER BY event_type, segment
"""

ORACLES["q72_scd2_build"] = """
WITH changes AS (
    SELECT user_id, ts, max(event_id) AS change_id
    FROM events
    WHERE event_type = 'signup'
    GROUP BY user_id, ts
)
SELECT user_id, change_id,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS INT)
           AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts, change_id)
ORDER BY user_id, valid_from
"""

ORACLES["q73_dynamic_sessionize"] = """
WITH base AS (
    SELECT user_id, event_id,
           epoch_us(ts) AS tus,
           epoch_us(ts)
           + CASE WHEN event_type IN ('purchase', 'signup')
                  THEN 1800 ELSE 300 END * 1000000 AS end_us
    FROM events
), marked AS (
    SELECT user_id, event_id, tus,
           CASE WHEN max(end_us) OVER w_prior IS NULL
                     OR tus > max(end_us) OVER w_prior
                THEN 1 ELSE 0 END AS new_sess
    FROM base
    WINDOW w_prior AS (PARTITION BY user_id ORDER BY tus, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING)
), sess AS (
    SELECT user_id, event_id,
           CAST(sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS sess_id
    FROM marked
)
SELECT user_id, sess_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(event_id) AS BIGINT) AS first_event,
       CAST(max(event_id) AS BIGINT) AS last_event
FROM sess
GROUP BY user_id, sess_id
ORDER BY user_id, sess_id
"""

ORACLES["q74_rank_battery"] = """
SELECT o_orderkey, o_orderpriority,
       round(o_totalprice, 0) AS dollars,
       CAST(rank() OVER w AS INT) AS rnk,
       CAST(dense_rank() OVER w AS INT) AS drnk,
       round(percent_rank() OVER w, 6) AS prank,
       round(cume_dist() OVER w, 6) AS cdist
FROM orders
WHERE o_orderkey % 37 = 0
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY round(o_totalprice, 0))
ORDER BY o_orderpriority, dollars, o_orderkey
"""

ORACLES["q75_try_arithmetic"] = """
SELECT l_orderkey, l_linenumber,
       floor(l_extendedprice / nullif(l_quantity - 2, 0) * 100) / 100.0
           AS price_per_unit,
       CASE WHEN l_orderkey % 2 = 0
            THEN CAST(9223372036854775807 AS BIGINT) END AS edge_add,
       TRY_CAST('x' || l_returnflag AS INTEGER) AS bad_cast,
       TRY_CAST(CAST(l_linenumber * 10 AS VARCHAR) AS INTEGER)
           AS good_cast
FROM lineitem
WHERE l_orderkey % 101 = 0
ORDER BY l_orderkey, l_linenumber
"""

ORACLES["q76_multi_distinct_agg"] = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
       CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_statuses,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_quantity), 1) AS total_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

ORACLES["s13_truncated_dim_eval"] = """
WITH v AS (
    SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 200
), pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_reduce(list_transform(range(1, 65),
               i -> CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)),
               (x, y) -> x + y)
           / sqrt(
               list_reduce(list_transform(range(1, 65),
                   i -> CAST(a.embedding[i] AS DOUBLE)
                        * CAST(a.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)
               * list_reduce(list_transform(range(1, 65),
                   i -> CAST(b.embedding[i] AS DOUBLE)
                        * CAST(b.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)
           ) AS c_full,
           list_reduce(list_transform(range(1, 17),
               i -> CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)),
               (x, y) -> x + y)
           / sqrt(
               list_reduce(list_transform(range(1, 17),
                   i -> CAST(a.embedding[i] AS DOUBLE)
                        * CAST(a.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)
               * list_reduce(list_transform(range(1, 17),
                   i -> CAST(b.embedding[i] AS DOUBLE)
                        * CAST(b.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)
           ) AS c_trunc
    FROM v a JOIN v b ON a.vec_id < b.vec_id
), ranked AS (
    SELECT row_number() OVER (ORDER BY c_full DESC, id_a, id_b)
               AS r_full,
           row_number() OVER (ORDER BY c_trunc DESC, id_a, id_b)
               AS r_trunc
    FROM pairs
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum((r_full - r_trunc) * (r_full - r_trunc)) AS BIGINT)
           AS sum_d2,
       CAST(
           1.0 - 6.0 * CAST(sum((r_full - r_trunc) * (r_full - r_trunc))
                            AS DOUBLE)
                 / (count(*) * (count(*) * count(*) - 1)) >= 0.4
           AS INT) AS rho_ok
FROM ranked
"""

ORACLES["f17_failfast_json"] = """
SELECT s_nationkey,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       round(sum(s_acctbal), 2) AS total_bal
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""

ORACLES["g03_bfs_levels"] = """
WITH RECURSIVE ev AS (
    SELECT user_id % 100 AS src,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 100 AS dst
    FROM events
), arcs AS (
    SELECT DISTINCT src AS u, dst AS v FROM ev
    WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
    UNION
    SELECT dst, src FROM ev
    WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
), reach(node, d) AS (
    SELECT CAST(0 AS BIGINT), 0
    UNION
    SELECT a.v, r.d + 1
    FROM reach r JOIN arcs a ON a.u = r.node
    WHERE r.d < 110
)
SELECT node, CAST(min(d) AS INT) AS lvl
FROM reach
GROUP BY node
ORDER BY node
"""

ORACLES["w02_temperature_mix"] = """
WITH counts AS (
    SELECT source, CAST(count(*) AS BIGINT) AS c
    FROM documents GROUP BY source
), scaled AS (
    SELECT source, c,
           CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1000.0) AS BIGINT) AS s
    FROM counts
), tot AS (
    SELECT CAST(sum(s) AS BIGINT) AS sw FROM scaled
), quotas AS (
    SELECT source, c, CAST((400 * s) // sw AS INT) AS quota
    FROM scaled, tot
), ranked AS (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS rk
    FROM documents
), picked AS (
    SELECT r.source, r.doc_id
    FROM ranked r JOIN quotas q USING (source)
    WHERE r.rk <= q.quota
)
SELECT q.source, q.c, q.quota,
       CAST(count(p.doc_id) AS BIGINT) AS n_sampled,
       CAST(min(p.doc_id) AS BIGINT) AS first_doc
FROM quotas q JOIN picked p ON p.source = q.source
GROUP BY q.source, q.c, q.quota
ORDER BY q.source
"""

ORACLES["q77_intersect_all"] = """
SELECT o_orderpriority, o_orderstatus,
       CAST(count(*) AS BIGINT) AS multiplicity
FROM (
    SELECT o_orderpriority, o_orderstatus FROM orders
    WHERE o_orderkey % 2 = 0
    INTERSECT ALL
    SELECT o_orderpriority, o_orderstatus FROM orders
    WHERE o_orderkey % 2 = 1
)
GROUP BY o_orderpriority, o_orderstatus
ORDER BY o_orderpriority, o_orderstatus
"""

ORACLES["u08_polymorphic_udtf"] = """
SELECT c_custkey,
       string_split(c_name, '#')[1] AS name_prefix,
       string_split(c_name, '#')[2] AS name_digits
FROM customer
WHERE c_custkey % 41 = 0
ORDER BY c_custkey
"""

ORACLES["q78_json_tuple"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       CAST(count(json_extract_string(props, '$.missing')) AS BIGINT)
           AS n_missing_nonnull
FROM events
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["f18_path_glob_recursive"] = """
SELECT s_nationkey,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       round(sum(s_acctbal), 2) AS total_bal
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""

ORACLES["q79_collation_group"] = """
WITH ev AS (
    SELECT event_id,
           CASE WHEN event_id % 3 = 0 THEN upper(event_type)
                ELSE event_type END AS etype
    FROM events
)
SELECT lower(etype) AS event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT etype) AS BIGINT) AS n_variants_seen
FROM ev
GROUP BY lower(etype)
ORDER BY event_type
"""

ORACLES["q80_parameterized_sql"] = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
WHERE o_totalprice > 50000.0 AND o_orderkey % 7 = 0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

ORACLES["q81_sql_pivot_unpivot"] = """
SELECT user_id, event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""

ORACLES["q82_offset_pagination"] = """
SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20 OFFSET 40
"""

ORACLES["q83_native_dynamic_session"] = """
WITH base AS (
    SELECT user_id, event_id, ts,
           epoch_us(ts) AS tus,
           epoch_us(ts)
           + CASE WHEN event_type IN ('purchase', 'signup')
                  THEN 1800 ELSE 300 END * 1000000 AS end_us
    FROM events
), marked AS (
    SELECT user_id, event_id, ts, tus, end_us,
           CASE WHEN max(end_us) OVER w_prior IS NULL
                     OR tus >= max(end_us) OVER w_prior
                THEN 1 ELSE 0 END AS new_sess
    FROM base
    WINDOW w_prior AS (PARTITION BY user_id ORDER BY tus, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING)
), sess AS (
    SELECT user_id, ts, end_us,
           sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS sess_id
    FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       make_timestamp(max(end_us)) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, sess_id
ORDER BY user_id, session_start
"""

ORACLES["t21_langid_confusion"] = """
WITH staged AS (
    SELECT lang,
           string_split_regex(lower(trim(text)), '\\s+') AS toks,
           len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT
               AS nt
    FROM documents
), pred AS (
    SELECT lang,
           (list_max([
               struct_pack(s := ((2*10000*len(list_filter(toks, x -> x IN ('der','die','und','das','ist','von','mit','den','im','ein')))::BIGINT + nt) // (2*nullif(nt, 0))) / 10000.0, l := 'de'),
               struct_pack(s := ((2*10000*len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it','that','for')))::BIGINT + nt) // (2*nullif(nt, 0))) / 10000.0, l := 'en'),
               struct_pack(s := ((2*10000*len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','los','se','del')))::BIGINT + nt) // (2*nullif(nt, 0))) / 10000.0, l := 'es'),
               struct_pack(s := ((2*10000*len(list_filter(toks, x -> x IN ('le','la','les','de','et','un','une','du','est','dans')))::BIGINT + nt) // (2*nullif(nt, 0))) / 10000.0, l := 'fr'),
               struct_pack(s := ((2*10000*len(list_filter(toks, x -> x IN ('的','是','了','在','我','有','和','就','不','人')))::BIGINT + nt) // (2*nullif(nt, 0))) / 10000.0, l := 'zh')
           ])).l AS pred_lang
    FROM staged
)
SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred
GROUP BY lang, pred_lang
ORDER BY lang, pred_lang
"""

ORACLES["q84_approx_distinct_gate"] = """
SELECT o_orderpriority,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_buyers,
       CAST(1 AS INT) AS est_ok
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

ORACLES["t22_ngram_novelty"] = """
WITH grams AS (
    SELECT DISTINCT doc_id,
           unnest([array_to_string(t[i:i+2], ' ')
                   for i in range(1, len(t) - 1)]) AS g
    FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM documents)
    WHERE len(t) >= 3
), dfc AS (
    SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY g
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(CASE WHEN df >= 2 THEN 1 END) AS BIGINT) AS n_shared,
       CAST((2*1000*count(CASE WHEN df >= 2 THEN 1 END) + count(*))
            // (2*count(*)) AS BIGINT) AS shared_permille
FROM grams JOIN dfc USING (g)
GROUP BY doc_id
ORDER BY doc_id
"""

ORACLES["q85_map_hof_battery"] = """
SELECT user_id, event_type,
       CAST(count(*) * 2 AS BIGINT) AS doubled
FROM events
GROUP BY user_id, event_type
HAVING count(*) * 2 >= 30
ORDER BY user_id, event_type
"""

ORACLES["q86_incremental_rollup"] = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total,
       round(sum(o_totalprice) / count(*), 2) AS avg_price,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

ORACLES["l12_alert_transitions"] = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hour_ts,
           CAST(count(*) AS BIGINT) AS total,
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END)
                AS BIGINT) AS errors
    FROM events
    GROUP BY 1
), marked AS (
    SELECT hour_ts, total, errors,
           CASE WHEN errors * 100 >= total * 21 THEN 1 ELSE 0 END
               AS above,
           lag(CASE WHEN errors * 100 >= total * 21 THEN 1 ELSE 0 END)
               OVER (ORDER BY hour_ts) AS prev_above
    FROM hourly
), cand AS (
    SELECT hour_ts, total, errors,
           CASE WHEN above = 1 AND prev_above = 1 THEN 'raise'
                WHEN above = 0 AND prev_above = 0 THEN 'clear'
           END AS action
    FROM marked
    WHERE (above = 1 AND prev_above = 1)
       OR (above = 0 AND prev_above = 0)
), fired AS (
    SELECT hour_ts, action, total, errors,
           lag(action) OVER (ORDER BY hour_ts) AS prev_action
    FROM cand
)
SELECT hour_ts, action, total, errors
FROM fired
WHERE (prev_action IS NULL AND action = 'raise')
   OR (prev_action IS NOT NULL AND action <> prev_action)
ORDER BY hour_ts
"""

ORACLES["f19_parquet_codec_matrix"] = """
SELECT codec,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(s_acctbal), 2) AS total_bal,
       CAST(count(DISTINCT s_nationkey) AS BIGINT) AS n_nations
FROM supplier, (VALUES ('lz4'), ('snappy'), ('zstd')) c(codec)
GROUP BY codec
ORDER BY codec
"""

ORACLES["q87_group_by_all"] = """
SELECT o_orderpriority,
       o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ALL
ORDER BY ALL
"""

ORACLES["q88_filter_through_window"] = """
SELECT o_orderkey, o_orderpriority,
       round(o_totalprice, 2) AS price,
       CAST(rn AS INT) AS rn
FROM (
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS rn
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
)
WHERE rn <= 100
ORDER BY rn
"""

ORACLES["st12_file_sink_log"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
FROM events
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["d10_incremental_dedup"] = """
WITH base AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
), delta AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + 200000, text FROM base WHERE doc_id % 31 = 0
), base_index AS (
    SELECT DISTINCT md5(text) AS sig FROM base
), delta_deduped AS (
    SELECT doc_id, sig FROM (
        SELECT doc_id, md5(text) AS sig,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rk
        FROM delta
    ) WHERE rk = 1
)
SELECT doc_id
FROM delta_deduped d
WHERE NOT EXISTS (SELECT 1 FROM base_index b WHERE b.sig = d.sig)
ORDER BY doc_id
"""

ORACLES["t23_chunk_with_overlap"] = """
WITH d AS (
    SELECT doc_id,
           string_split_regex(lower(trim(text)), '\\s+') AS toks,
           len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT
               AS n
    FROM documents
), c AS (
    SELECT doc_id, toks, n,
           unnest(range(0,
               CASE WHEN n <= 64 THEN 1
                    ELSE 1 + CAST(ceil((n - 64) / 48.0) AS INT)
               END)) AS chunk_id
    FROM d
)
SELECT doc_id,
       CAST(chunk_id AS INT) AS chunk_id,
       CAST(least(64, n - chunk_id * 48) AS INT) AS n_tokens,
       toks[CAST(chunk_id * 48 + 1 AS INT)] AS first_token,
       toks[CAST(chunk_id * 48 + least(64, n - chunk_id * 48) AS INT)]
           AS last_token
FROM c
ORDER BY doc_id, chunk_id
"""


ORACLES["t24_quality_ensemble"] = f"""
WITH q AS ({ORACLES['t01_text_quality']}),
e AS ({ORACLES['t16_unigram_entropy']}),
s AS ({ORACLES['t20_unigram_lm_score']})
SELECT reason, CAST(count(*) AS BIGINT) AS n_docs FROM (
    SELECT CASE WHEN q.quality_score < 0.45 THEN 'low_quality'
                WHEN e.entropy < 4.0 THEN 'low_entropy'
                WHEN s.mean_surprisal > 4.92 THEN 'high_surprisal'
                ELSE 'kept' END AS reason
    FROM q JOIN e USING (doc_id) JOIN s USING (doc_id)
)
GROUP BY reason
ORDER BY reason
"""

ORACLES["f20_wholetext_scan"] = """
SELECT CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(length(text) + 13) AS BIGINT) AS total_chars,
       CAST(count(*) AS BIGINT) AS n_with_trailer
FROM documents
WHERE doc_id % 100 = 0
"""

ORACLES["m05_frame_dedup"] = """
WITH f AS (
    SELECT doc_id,
           unnest(list_transform(
               range(0, CAST(greatest(floor(strlen(text) / 64.0),
                                      1) AS BIGINT)),
               i -> substring(text, CAST(i * 64 + 1 AS INT), 1)))
               AS frame_token
    FROM documents
)
SELECT frame_token,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM f
GROUP BY frame_token
HAVING count(*) >= 2
ORDER BY frame_token
"""

ORACLES["q89_cbo_stats"] = """
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       round(sum(s_acctbal), 2) AS total_bal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""

ORACLES["l13_errorlog_rollup"] = """
SELECT 'ErrorLog' AS logfile,
       CASE WHEN event_id % 3 = 0 THEN 'error'
            WHEN event_id % 3 = 1 THEN 'warn'
            ELSE 'notice' END AS level,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_pids
FROM events
WHERE event_type = 'error'
GROUP BY level
ORDER BY logfile, level
"""

ORACLES["q90_mad"] = """
WITH med AS (
    SELECT o_orderpriority,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)
               AS med
    FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       round(any_value(m.med), 2) AS median_price,
       round(percentile_cont(0.5) WITHIN GROUP (
           ORDER BY abs(o.o_totalprice - m.med)), 2) AS mad,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders o JOIN med m USING (o_orderpriority)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""

ORACLES["s14_knn_accuracy"] = """
WITH v AS (
    SELECT vec_id, embedding, label FROM embeddings
    ORDER BY vec_id LIMIT 200
), pairs AS (
    SELECT a.vec_id AS id_a, a.label AS label_a, b.label AS label_b,
           b.vec_id AS id_b,
           list_reduce(list_transform(range(1, 65),
               i -> CAST(a.embedding[i] AS DOUBLE)
                    * CAST(b.embedding[i] AS DOUBLE)),
               (x, y) -> x + y)
           / sqrt(
               list_reduce(list_transform(range(1, 65),
                   i -> CAST(a.embedding[i] AS DOUBLE)
                        * CAST(a.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)
               * list_reduce(list_transform(range(1, 65),
                   i -> CAST(b.embedding[i] AS DOUBLE)
                        * CAST(b.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)
           ) AS cos
    FROM v a JOIN v b ON a.vec_id <> b.vec_id
), nn AS (
    SELECT label_a, label_b FROM (
        SELECT label_a, label_b,
               row_number() OVER (PARTITION BY id_a
                                  ORDER BY cos DESC, id_b) AS rn
        FROM pairs
    ) WHERE rn = 1
)
SELECT CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(count(CASE WHEN label_a = label_b THEN 1 END) AS BIGINT)
           AS correct,
       CAST((2*1000*count(CASE WHEN label_a = label_b THEN 1 END)
             + count(*)) // (2*count(*)) AS BIGINT) AS acc_permille
FROM nn
"""

ORACLES["q91_time_rollup"] = """
SELECT CAST(year(ts) AS INT) AS y,
       CAST(month(ts) AS INT) AS m,
       CAST(day(ts) AS INT) AS d,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value,
       CAST(grouping(year(ts)) * 4 + grouping(month(ts)) * 2
            + grouping(day(ts)) AS BIGINT) AS gid
FROM events
GROUP BY ROLLUP (year(ts), month(ts), day(ts))
ORDER BY gid, y, m, d
"""

ORACLES["q92_lag_defaults"] = """
SELECT o_orderkey, o_orderpriority,
       CAST(coalesce(lag(o_orderkey, 2) OVER w, -1) AS BIGINT)
           AS lag2_key,
       coalesce(lead(o_orderstatus, 1) OVER w, '(end)') AS next_status
FROM orders
WHERE o_orderkey % 53 = 0
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
ORDER BY o_orderpriority, o_orderkey
"""

ORACLES["q92b_comparator_sort"] = """
WITH t AS (
    SELECT doc_id,
           list_sort(list_transform(
               list_distinct(
                   string_split_regex(lower(trim(text)), '\\s+')),
               x -> struct_pack(n := length(x), v := x))) AS s
    FROM documents
    WHERE doc_id % 20 = 0
)
SELECT doc_id,
       CAST(len(s) AS INT) AS n_tokens,
       s[1].v AS shortest_first,
       s[-1].v AS longest_last
FROM t
ORDER BY doc_id
"""

ORACLES["q93_bool_aggregates"] = """
SELECT l_returnflag,
       CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
       bool_and(l_quantity > 0) AS all_qty_pos,
       bool_or(l_tax > 0.07) AS any_high_tax,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

ORACLES["d11_dup_span_stats"] = """
WITH toks AS (
    SELECT doc_id,
           string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM documents
), wins AS (
    SELECT doc_id, array_to_string(t[s:s+7], ' ') AS span
    FROM toks,
         LATERAL (SELECT unnest(generate_series(1, len(t) - 7, 4)) AS s) g
    WHERE len(t) >= 8
), counted AS (
    SELECT span, count(*) AS nocc FROM wins GROUP BY span
)
SELECT w.doc_id,
       CAST(count(*) AS BIGINT)                 AS n_windows,
       CAST(count_if(c.nocc >= 2) AS BIGINT)    AS n_dup_windows,
       CAST((200 * count_if(c.nocc >= 2) + count(*))
            // (2 * count(*)) AS BIGINT)        AS dup_pct
FROM wins w JOIN counted c USING (span)
GROUP BY w.doc_id
ORDER BY w.doc_id
"""

ORACLES["q94_lateral_view_outer"] = """
WITH t AS (
    SELECT p_partkey,
           list_filter(string_split(p_name, ' '),
                       x -> length(x) >= 8) AS arr
    FROM part
    WHERE p_partkey % 7 = 0
)
SELECT t.p_partkey, u.tok
FROM t LEFT JOIN LATERAL (SELECT unnest(arr) AS tok) u ON TRUE
ORDER BY p_partkey, tok
"""

ORACLES["q96_bitmap_distinct"] = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_part,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

ORACLES["q97_aes_roundtrip"] = """
SELECT p_partkey,
       p_name                                             AS p_name_rt,
       CAST(16 * (length(p_name) // 16 + 1) AS INT)       AS cipher_len,
       TRUE                                               AS ok
FROM part
WHERE p_partkey % 50 = 0
ORDER BY p_partkey
"""

ORACLES["q98_url_canonicalize"] = """
WITH ev AS (
    SELECT event_id, user_id,
           json_extract_string(props, '$.k')::BIGINT AS k
    FROM events
    WHERE user_id % 11 = 0
), built AS (
    SELECT 'https://Shop' || (user_id % 7) || '.Example.COM/p/' || k
           || CASE WHEN event_id % 5 = 0 THEN '/' ELSE '' END
           || CASE WHEN event_id % 3 = 0
                   THEN '?utm_source=x&id=' || k
                   ELSE '?id=' || k END                        AS url,
           'https://shop' || (user_id % 7) || '.example.com/p/' || k
           || '?id=' || k                                      AS canon_url
    FROM ev
)
SELECT canon_url,
       CAST(count(*) AS BIGINT)            AS n_hits,
       CAST(count(DISTINCT url) AS BIGINT) AS n_variants
FROM built
GROUP BY canon_url
ORDER BY canon_url
"""

ORACLES["q99_regexp_battery"] = """
SELECT p_partkey,
       coalesce(array_to_string(
           regexp_extract_all(p_name, '[a-z]{6,}'), '|'),
           '')                                              AS long_words,
       CAST(len(regexp_extract_all(p_name, '[a-z]{6,}'))
            AS INT)                                         AS n_long,
       coalesce(regexp_extract(p_name, '[a-z]{6,}'), '')    AS first_long,
       regexp_matches(p_name, 'red|blue')                   AS has_color
FROM part
WHERE p_partkey % 11 = 0
ORDER BY p_partkey
"""

ORACLES["q100_union_by_name"] = """
SELECT o_orderkey AS k, round(o_totalprice, 2) AS price,
       'orders' AS src
FROM orders WHERE o_orderkey % 67 = 0
UNION ALL BY NAME
SELECT c_custkey AS k, round(c_acctbal, 2) AS bal,
       'customer' AS src
FROM customer WHERE c_custkey % 13 = 0
ORDER BY src, k
"""

ORACLES["q101_datetime_battery"] = """
SELECT o_orderkey,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH
            AS DATE)                                        AS plus3m,
       last_day(CAST(o_orderdate AS DATE))                  AS month_end,
       CAST(DATE '1998-12-31' - CAST(o_orderdate AS DATE)
            AS BIGINT)                                      AS days_to_eoy98,
       CAST(o_orderdate AS DATE) - 30                       AS minus30d,
       CAST(quarter(o_orderdate) AS BIGINT)                 AS qtr,
       CAST(dayofyear(o_orderdate) AS BIGINT)               AS doy
FROM orders
WHERE o_orderkey % 83 = 0
ORDER BY o_orderkey
"""

ORACLES["d13_semdedup"] = """
WITH sub AS (
    SELECT vec_id, embedding::DOUBLE[] AS v
    FROM embeddings WHERE vec_id % 4 = 0
), cents AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
    FROM (SELECT vec_id, v FROM sub ORDER BY vec_id LIMIT 16)
), scored AS (
    SELECT s.vec_id, c.cell,
           round(list_cosine_similarity(s.v, c.v), 4) AS cos
    FROM sub s CROSS JOIN cents c
), best AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cell) AS rn
        FROM scored)
    WHERE rn = 1
), dropped AS (
    SELECT DISTINCT b.vec_id
    FROM best a
    JOIN best b ON a.cell = b.cell AND a.vec_id < b.vec_id
    JOIN sub sa ON sa.vec_id = a.vec_id
    JOIN sub sb ON sb.vec_id = b.vec_id
    WHERE round(list_cosine_similarity(sa.v, sb.v), 4) >= 0.2
)
SELECT b.vec_id, b.cell, (d.vec_id IS NULL) AS keep
FROM best b LEFT JOIN dropped d ON b.vec_id = d.vec_id
ORDER BY b.vec_id
"""

ORACLES["l15_apdex"] = """
WITH synth AS (
    SELECT event_type AS handler,
           (event_id * 101) % 500000 AS us
    FROM events
)
SELECT handler,
       CAST(count_if(us <= 100000) AS BIGINT)  AS n_satisfied,
       CAST(count_if(us > 100000 AND us <= 400000) AS BIGINT)
                                               AS n_tolerating,
       CAST(count(*) AS BIGINT)                AS n,
       CAST((2000 * (2 * count_if(us <= 100000)
                     + count_if(us > 100000 AND us <= 400000))
             + 2 * count(*)) // (4 * count(*)) AS BIGINT) AS apdex_pm
FROM synth
GROUP BY handler
ORDER BY handler
"""

ORACLES["q102_string_pad_battery"] = """
SELECT p_partkey,
       lpad(p_brand, 12, '*')                    AS brand_lpad,
       rpad(p_brand, 12, '.')                    AS brand_rpad,
       repeat('-', CAST(p_size % 5 AS INT))      AS dashes,
       reverse(p_name)                           AS name_rev,
       left(p_name, 3)                           AS name_l3,
       right(p_name, 3)                          AS name_r3,
       translate(p_name, 'aeiou', '01234')       AS name_masked,
       CAST(strpos(p_name, 'e') AS BIGINT)       AS first_e
FROM part
WHERE p_partkey % 13 = 0
ORDER BY p_partkey
"""

ORACLES["f21_nested_schema_pruning"] = """
SELECT c_custkey, c_nationkey AS nat
FROM customer
WHERE c_custkey % 9 = 0
ORDER BY c_custkey
"""

ORACLES["q103_try_cast"] = """
SELECT o_orderkey,
       TRY_CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_orderpriority
                     ELSE CAST(round(o_totalprice, 2) AS VARCHAR)
                END AS DOUBLE)                       AS num_or_null,
       TRY_CAST(CASE WHEN o_orderkey % 2 = 0 THEN 'not-a-date'
                     ELSE strftime(o_orderdate, '%Y-%m-%d')
                END AS DATE)                         AS date_or_null,
       TRY_CAST(o_orderkey * 10000000000 AS INTEGER) AS int_or_null
FROM orders
WHERE o_orderkey % 59 = 0
ORDER BY o_orderkey
"""

ORACLES["q104_ignore_nulls_window"] = """
WITH t AS (
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           CASE WHEN l_linenumber % 2 = 0 THEN NULL
                ELSE round(l_quantity, 2) END AS val
    FROM lineitem
    WHERE l_orderkey % 31 = 0 AND l_linenumber <= 6
)
SELECT l_orderkey, l_linenumber, l_partkey, val,
       lead(val IGNORE NULLS) OVER w AS next_val,
       lag(val IGNORE NULLS)  OVER w AS prev_val,
       first_value(val IGNORE NULLS) OVER
           (w ROWS BETWEEN UNBOUNDED PRECEDING
              AND UNBOUNDED FOLLOWING) AS first_val,
       last_value(val IGNORE NULLS) OVER
           (w ROWS BETWEEN UNBOUNDED PRECEDING
              AND UNBOUNDED FOLLOWING) AS last_val
FROM t
WINDOW w AS (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_partkey, l_suppkey)
ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey
"""

ORACLES["q105_timestamp_arith"] = """
SELECT event_id,
       ts + INTERVAL 6 HOUR                                AS plus6h,
       -- Spark's timestampdiff counts COMPLETE minutes (truncation);
       -- DuckDB's date_diff counts minute-boundary crossings — use
       -- epoch arithmetic to reproduce the truncation semantics.
       CAST(floor((epoch(TIMESTAMP '2024-02-01 00:00:00')
                   - epoch(ts)) / 60.0) AS BIGINT)         AS min_to_feb,
       make_timestamp(year(ts), month(ts), day(ts),
                      hour(ts), 0, 0)                      AS hour_floor
FROM events
WHERE user_id % 37 = 0
ORDER BY event_id
"""

ORACLES["q106_lateral_alias"] = """
WITH t AS (
    SELECT o_orderkey,
           CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
                      * CAST(0.90 AS DECIMAL(3,2)), 2)
                AS DECIMAL(18,2)) AS disc
    FROM orders
    WHERE o_orderkey % 71 = 0
), t2 AS (
    SELECT o_orderkey, disc,
           CAST(round(disc * CAST(0.07 AS DECIMAL(3,2)), 2)
                AS DECIMAL(18,2)) AS tax
    FROM t
)
SELECT o_orderkey,
       CAST(disc AS DOUBLE) AS disc,
       CAST(tax AS DOUBLE) AS tax,
       CAST(disc + tax AS DOUBLE) AS net
FROM t2
ORDER BY o_orderkey
"""

ORACLES["q107_crosstab"] = """
SELECT l_returnflag                        AS l_returnflag_l_linestatus,
       CAST(count_if(l_linestatus = 'F') AS BIGINT) AS F,
       CAST(count_if(l_linestatus = 'O') AS BIGINT) AS O
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

ORACLES["d14_hash_prefilter_dedup"] = """
WITH base AS (
    SELECT ('0x' || substr(md5(text), 1, 4))::BIGINT AS bkt, text
    FROM documents WHERE doc_id % 2 = 0
), delta AS (
    SELECT doc_id,
           ('0x' || substr(md5(text), 1, 4))::BIGINT AS bkt, text
    FROM documents WHERE doc_id % 3 = 0
), flagged AS (
    SELECT d.doc_id FROM delta d
    WHERE EXISTS (SELECT 1 FROM base b WHERE b.bkt = d.bkt)
), true_dups AS (
    SELECT d.doc_id FROM delta d
    WHERE EXISTS (SELECT 1 FROM base b WHERE b.text = d.text)
)
SELECT CAST((SELECT count(*) FROM delta) AS BIGINT)     AS n_delta,
       CAST((SELECT count(*) FROM flagged) AS BIGINT)   AS n_flagged,
       CAST((SELECT count(*) FROM true_dups) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM true_dups t
             WHERE t.doc_id NOT IN (SELECT doc_id FROM flagged))
            AS BIGINT)                                  AS fn_count
"""

ORACLES["w03_epoch_shuffle"] = """
WITH ranked AS (
    SELECT e.epoch, d.doc_id,
           md5(e.epoch || ':' || d.doc_id) AS pos,
           row_number() OVER (PARTITION BY e.epoch
                              ORDER BY md5(e.epoch || ':' || d.doc_id))
               AS rank
    FROM documents d
    CROSS JOIN (SELECT unnest([0, 1, 2]) AS epoch) e
)
SELECT CAST(epoch AS INT) AS epoch,
       CAST(rank AS BIGINT) AS rank,
       doc_id, pos
FROM ranked
WHERE rank <= 10
ORDER BY epoch, rank
"""

ORACLES["t25_oov_rate"] = """
WITH toks AS (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
    FROM documents
), dfs AS (
    SELECT term, count(*) AS df
    FROM (SELECT DISTINCT doc_id, term FROM toks)
    GROUP BY term
), vocab AS (
    SELECT term FROM dfs ORDER BY df DESC, term LIMIT 100
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT)  AS n_tokens,
       CAST(count_if(v.term IS NULL) AS BIGINT) AS n_oov,
       CAST((2000 * count_if(v.term IS NULL) + count(*))
            // (2 * count(*)) AS BIGINT)        AS oov_pm
FROM toks t LEFT JOIN vocab v ON t.term = v.term
GROUP BY t.doc_id
ORDER BY t.doc_id
"""

ORACLES["q108_equiheight_histogram"] = """
WITH t AS (
    SELECT round(l_extendedprice, 2) AS price,
           ntile(8) OVER (ORDER BY l_extendedprice, l_orderkey,
                          l_linenumber, l_partkey, l_suppkey)
               AS bucket
    FROM lineitem
    WHERE l_orderkey % 7 = 0
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       min(price) AS lo,
       max(price) AS hi
FROM t
GROUP BY bucket
ORDER BY bucket
"""

ORACLES["q109_asof_nearest"] = """
WITH near AS (
    SELECT o_custkey AS user_id, o_orderdate AS odate,
           max(o_orderkey) AS k
    FROM orders
    GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id,
       (SELECT r.k FROM near r
        WHERE r.user_id = e.user_id
          AND abs(epoch(e.ts) - epoch(r.odate)) <= 3 * 86400
        ORDER BY abs(epoch(e.ts) - epoch(r.odate)), r.odate
        LIMIT 1) AS nearest_order_key
FROM events e
ORDER BY e.event_id
"""

ORACLES["st13_update_mode_counts"] = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
       event_type,
       count(*)             AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY bucket_start, event_type
"""

ORACLES["q110_pivot_multi_agg"] = """
SELECT l_returnflag,
       CAST(count_if(l_linestatus = 'F') AS BIGINT)           AS F_cnt,
       round(sum(CASE WHEN l_linestatus = 'F'
                      THEN l_quantity END), 2)                 AS F_qty,
       CAST(count_if(l_linestatus = 'O') AS BIGINT)           AS O_cnt,
       round(sum(CASE WHEN l_linestatus = 'O'
                      THEN l_quantity END), 2)                 AS O_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

ORACLES["l16_slo_burn_rate"] = """
WITH synth AS (
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_idx,
           CASE WHEN (event_id % 10) IN (8, 9) THEN 1 ELSE 0 END
               AS is_err
    FROM events
), hourly AS (
    SELECT hour_idx,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(is_err) AS BIGINT) AS n_err
    FROM synth GROUP BY hour_idx
)
SELECT hour_idx, n, n_err,
       (n_err * 1000 >= n * 144) AS fast_burn,
       (sum(n_err) OVER w6 * 1000 >= sum(n) OVER w6 * 60) AS slow_burn
FROM hourly
WINDOW w6 AS (ORDER BY hour_idx RANGE BETWEEN 5 PRECEDING
              AND CURRENT ROW)
ORDER BY hour_idx
"""

ORACLES["g04_weighted_sssp"] = """
WITH RECURSIVE ev AS (
    SELECT user_id % 100 AS src,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 100 AS dst
    FROM events
), base AS (
    SELECT src, dst, 1 + (src + dst) % 5 AS w FROM ev
    WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
), arcs AS (
    SELECT u, v, min(w) AS w FROM (
        SELECT src AS u, dst AS v, w FROM base
        UNION ALL
        SELECT dst, src, w FROM base
    ) GROUP BY u, v
), reach(node, d) AS (
    SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    UNION
    SELECT a.v, r.d + a.w
    FROM reach r JOIN arcs a ON a.u = r.node
    WHERE r.d + a.w < 600
)
SELECT node, CAST(min(d) AS BIGINT) AS dist
FROM reach
GROUP BY node
ORDER BY node
"""

ORACLES["k03_kinesis_reshard_discovery"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
WHERE event_id % 3 IN (0, 1)
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["s15_ivf_index_persist"] = """
WITH corpus AS (
    SELECT vec_id, embedding::DOUBLE[] AS v
    FROM embeddings WHERE vec_id % 2 = 0
), cents AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
    FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT 16)
), idx AS (
    SELECT vec_id, cell FROM (
        SELECT c.vec_id, ce.cell,
               row_number() OVER (
                   PARTITION BY c.vec_id
                   ORDER BY round(list_cosine_similarity(c.v, ce.v), 4)
                       DESC, ce.cell) AS rn
        FROM corpus c CROSS JOIN cents ce)
    WHERE rn = 1
), q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id IN (1, 3, 5)
), qcell AS (
    SELECT query_id, cell FROM (
        SELECT q.query_id, ce.cell,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(q.qv, ce.v), 4)
                       DESC, ce.cell) AS rn
        FROM q CROSS JOIN cents ce)
    WHERE rn = 1
), cand AS (
    SELECT q.query_id, i.vec_id,
           round(list_cosine_similarity(q.qv, c.v), 4) AS cos
    FROM q
    JOIN qcell qc ON qc.query_id = q.query_id
    JOIN idx i ON i.cell = qc.cell
    JOIN corpus c ON c.vec_id = i.vec_id
)
SELECT query_id,
       CAST(rank AS INT) AS rank,
       vec_id, cos
FROM (
    SELECT query_id, vec_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, vec_id) AS rank
    FROM cand)
WHERE rank <= 5
ORDER BY query_id, rank
"""

ORACLES["q111_interval_overlap_join"] = """
WITH iv AS (
    SELECT user_id, event_id,
           ts AS ivs, ts + INTERVAL 2 HOUR AS ive
    FROM events
    WHERE user_id % 13 = 0
)
SELECT a.user_id,
       CAST(count(*) AS BIGINT) AS n_overlapping_pairs
FROM iv a JOIN iv b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND a.ivs < b.ive AND b.ivs < a.ive
GROUP BY a.user_id
ORDER BY a.user_id
"""

ORACLES["f22_ignore_corrupt_files"] = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(c_acctbal), 2) AS bal
FROM customer
WHERE c_mktsegment <> 'BUILDING'
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

ORACLES["u09_pandas_udaf_window"] = """
WITH means AS (
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity)
                 / sum(l_quantity), 2) AS flag_wavg
    FROM lineitem
    WHERE l_orderkey % 41 = 0
    GROUP BY l_returnflag
)
SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey,
       l.l_returnflag, m.flag_wavg
FROM lineitem l JOIN means m ON l.l_returnflag = m.l_returnflag
WHERE l.l_orderkey % 41 = 0
ORDER BY l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey
"""

ORACLES["q112_values_inline_join"] = """
SELECT w.weight,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN (VALUES ('1-URGENT', 5), ('2-HIGH', 4), ('3-MEDIUM', 3),
             ('4-NOT SPECIFIED', 2), ('5-LOW', 1))
     AS w(priority, weight)
  ON o.o_orderpriority = w.priority
WHERE o.o_orderkey % 43 = 0
GROUP BY w.weight
ORDER BY w.weight
"""

ORACLES["q113_sql_udf"] = """
SELECT o_orderkey,
       CAST(CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
                       * CAST(0.07 AS DECIMAL(3,2)), 2)
                 AS DECIMAL(18,2)) AS DOUBLE) AS tax,
       o_orderpriority
FROM orders
WHERE o_orderkey % 89 = 0
ORDER BY o_orderkey
"""

ORACLES["q114_column_defaults"] = """
WITH ins AS (
    SELECT c_custkey AS k, 'unknown' AS seg, 50 AS score
    FROM customer WHERE c_custkey % 31 = 0
    UNION ALL
    SELECT c_custkey, c_mktsegment, 50
    FROM customer WHERE c_custkey % 37 = 0
)
SELECT seg, CAST(score AS BIGINT) AS score,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM ins
GROUP BY seg, score
ORDER BY seg, score
"""

ORACLES["q115_window_group_limit"] = """
SELECT o_orderpriority,
       CAST(rn AS INT) AS rn,
       o_orderkey,
       round(o_totalprice, 2) AS price
FROM (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey)
               AS rn
    FROM orders)
WHERE rn <= 3
ORDER BY o_orderpriority, rn
"""

ORACLES["q116_safe_array_access"] = """
WITH t AS (
    SELECT p_partkey, string_split(p_name, ' ') AS arr
    FROM part WHERE p_partkey % 17 = 0
)
SELECT p_partkey,
       arr[1]                       AS first_word,
       arr[-1]                      AS last_word,
       arr[99]                      AS oob_null,
       arr[1]                       AS get0,
       arr[100]                     AS get_oob,
       CAST(len(arr) AS INT)        AS n_words
FROM t
ORDER BY p_partkey
"""

ORACLES["w04_largest_remainder_quota"] = """
WITH counts AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS c
    FROM documents GROUP BY lang
), tot AS (
    SELECT sum(c) AS t FROM counts
), quoted AS (
    SELECT lang, c,
           (c * 1000) // t            AS floor_q,
           (c * 1000) % t             AS rem
    FROM counts, tot
), ranked AS (
    SELECT lang, c, floor_q,
           row_number() OVER (ORDER BY rem DESC, lang) AS rk,
           1000 - sum(floor_q) OVER () AS leftover
    FROM quoted
)
SELECT lang, c,
       CAST(floor_q AS BIGINT) AS floor_q,
       CAST(floor_q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS quota
FROM ranked
ORDER BY lang
"""

ORACLES["d15_tfidf_cosine_pairs"] = """
WITH sub AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
), toks AS (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
    FROM sub
), tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM toks GROUP BY doc_id, term
), dfreq AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
), nd AS (
    SELECT count(*) AS n_docs FROM sub
), w AS (
    SELECT t.doc_id, t.term,
           CAST(floor(t.tf * (ln((nd.n_docs + 1.0) / (d.df + 1.0)) + 1.0)
                      * 10000) AS BIGINT) AS wi,
           d.df, nd.n_docs
    FROM tf t JOIN dfreq d ON t.term = d.term, nd
), kept AS (
    SELECT doc_id, term, wi FROM w WHERE df * 10 <= 4 * n_docs
), norms AS (
    SELECT doc_id, sum(wi * wi) AS n2 FROM kept GROUP BY doc_id
), dots AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           sum(a.wi * b.wi) AS dot
    FROM kept a JOIN kept b
      ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT d.id_a, d.id_b,
       round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)), 4) AS cos
FROM dots d
JOIN norms na ON na.doc_id = d.id_a
JOIN norms nb ON nb.doc_id = d.id_b
WHERE round(d.dot / (sqrt(na.n2) * sqrt(nb.n2)), 4) >= 0.35
ORDER BY id_a, id_b
"""

ORACLES["l17_json_key_profile"] = """
WITH shaped AS (
    SELECT 'event_id|event_type'
           || CASE WHEN event_id % 3 = 0 THEN '|user_id' ELSE '' END
           || CASE WHEN event_id % 2 = 0 THEN '|value' ELSE '' END
               AS key_set
    FROM events
    WHERE user_id % 7 = 0
)
SELECT key_set, CAST(count(*) AS BIGINT) AS n_records
FROM shaped
GROUP BY key_set
ORDER BY key_set
"""

ORACLES["q117_take_ordered_gate"] = """
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       round(l_extendedprice, 2) AS price
FROM lineitem
ORDER BY price DESC, l_orderkey, l_linenumber, l_partkey, l_suppkey
LIMIT 25
"""

ORACLES["p06_benford_profile"] = """
WITH d AS (
    SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                            AS VARCHAR), 1, 1) AS BIGINT) AS d
    FROM orders WHERE o_totalprice > 0
), counts AS (
    SELECT d, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY d
)
SELECT d, n,
       CAST((2000 * n + sum(n) OVER ())
            // (2 * sum(n) OVER ()) AS BIGINT) AS share_pm
FROM counts
ORDER BY d
"""

ORACLES["q118_complex_type_ordering"] = """
WITH t AS (
    SELECT p_partkey,
           list_slice(string_split(p_name, ' '), 1, 2) AS akey,
           struct_pack(t := p_type, s := p_size) AS skey
    FROM part WHERE p_partkey % 23 = 0
)
SELECT p_partkey,
       array_to_string(akey, '|') AS akey,
       CAST(row_number() OVER (ORDER BY akey, skey, p_partkey)
            AS INT) AS rk
FROM t
ORDER BY rk
"""

# q125: initcap and format_number rebuilt from primitives (DuckDB has
# neither) — consecutive spaces survive the split/rejoin because empty
# tokens round-trip, and the money format works in exact integer cents.
ORACLES["q125_null_format_battery"] = """
SELECT o_orderkey,
       CASE WHEN nullif(o_orderstatus, 'O') IS NOT NULL
            THEN 'closed' ELSE 'open' END AS state,
       nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM NULL AS is_open,
       array_to_string(
           list_transform(
               string_split(lower(o_orderpriority || ' ' || o_orderstatus
                                  || ' of order'), ' '),
               x -> upper(x[1:1]) || x[2:]
           ), ' ') AS comment_title,
       format('{:,}', CAST(round(o_totalprice * 100) AS BIGINT) // 100)
           || '.' ||
           lpad(CAST(CAST(round(o_totalprice * 100) AS BIGINT) % 100
                     AS VARCHAR), 2, '0') AS price_fmt
FROM orders
WHERE o_orderkey % 101 = 0
ORDER BY o_orderkey
"""

ORACLES["d18_normalized_dedup"] = """
WITH docs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000000,
           regexp_replace(upper(text), ' ', '  ', 'g') || ' .'
    FROM documents WHERE doc_id % 10 = 0
),
n AS (
    SELECT doc_id,
           md5(trim(regexp_replace(
               regexp_replace(lower(text), '[.,!?;:''\"]', '', 'g'),
               '\\s+', ' ', 'g'))) AS fp,
           md5(text) AS raw_fp
    FROM docs
)
SELECT fp,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT raw_fp) AS BIGINT) AS raw_variants,
       min(doc_id) AS keeper
FROM n
GROUP BY fp
HAVING count(*) >= 2
ORDER BY fp
"""

# f23: the layout contract in closed form — one write task under
# maxRecordsPerFile=400 yields ceil(n/400) files, each <= 400 rows.
ORACLES["f23_max_records_per_file"] = """
WITH c AS (
    SELECT CAST(count(*) AS BIGINT) AS n
    FROM orders WHERE o_orderkey % 7 = 0
)
SELECT n AS n_rows,
       CAST((n + 399) // 400 AS BIGINT) AS n_files,
       1 AS size_ok
FROM c
"""

ORACLES["i06_json_seq_roundtrip"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       round(sum(value), 2) AS sum_value
FROM events
WHERE event_id % 97 = 0
GROUP BY event_type
ORDER BY event_type
"""

# w07: the frequency form replayed as its multiset definition — each
# row expanded w times, then plain continuous quantiles.
ORACLES["w07_weighted_percentile"] = """
WITH e AS (
    SELECT event_type, value, CAST(event_id % 3 + 1 AS INT) AS w
    FROM events
),
x AS (
    SELECT event_type, value, w FROM e, unnest(range(e.w)) AS t(i)
)
SELECT event_type,
       round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS p50,
       round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4) AS p90,
       round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 4) AS p99,
       CAST(count(*) AS BIGINT) AS total_weight
FROM x
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["q128_try_parse_battery"] = """
WITH src AS (
    SELECT o_orderkey, o_orderdate, o_totalprice,
           CASE WHEN o_orderkey % 3 = 0
                THEN '99/99/' || strftime(o_orderdate, '%Y')
                ELSE strftime(o_orderdate, '%d/%m/%Y') END AS s_date,
           CASE WHEN o_orderkey % 5 = 0 THEN 'x' ELSE '' END
           || format('{:,}',
                     CAST(round(o_totalprice * 100) AS BIGINT) // 100)
           || '.'
           || lpad(CAST(CAST(round(o_totalprice * 100) AS BIGINT) % 100
                        AS VARCHAR), 2, '0') AS s_num
    FROM orders WHERE o_orderkey % 17 = 0
)
SELECT o_orderkey,
       try_strptime(s_date, '%d/%m/%Y') AS parsed_date,
       TRY_CAST(replace(s_num, ',', '') AS DOUBLE) AS amount,
       CAST(try_strptime(s_date, '%d/%m/%Y') IS NOT NULL AS INT) AS ok_date,
       CAST(TRY_CAST(replace(s_num, ',', '') AS DOUBLE) IS NOT NULL AS INT)
           AS ok_num
FROM src
ORDER BY o_orderkey
"""

ORACLES["g05_degree_stats"] = """
WITH raw AS (
    SELECT user_id % 100 AS src,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 100 AS dst
    FROM events
),
edges AS (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM raw
    WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
),
endpoints AS (
    SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
),
degrees AS (
    SELECT node, CAST(count(*) AS BIGINT) AS degree
    FROM endpoints GROUP BY node
)
SELECT degree,
       CAST(count(*) AS BIGINT) AS n_nodes,
       min(node) AS min_node,
       max(node) AS max_node
FROM degrees
GROUP BY degree
ORDER BY degree
"""

ORACLES["t26_zipf_fit"] = """
WITH terms AS (
    SELECT source, t.term
    FROM (SELECT source,
                 unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
          FROM documents) t
    WHERE t.term <> ''
),
freqs AS (
    SELECT source, term, CAST(count(*) AS BIGINT) AS freq
    FROM terms GROUP BY source, term
),
head AS (
    SELECT source, freq,
           row_number() OVER (PARTITION BY source
                              ORDER BY freq DESC, term) AS rk
    FROM freqs
    QUALIFY rk <= 100
)
SELECT source,
       round(regr_slope(ln(CAST(freq AS DOUBLE)),
                        ln(CAST(rk AS DOUBLE))), 3) AS zipf_slope,
       round(regr_r2(ln(CAST(freq AS DOUBLE)),
                     ln(CAST(rk AS DOUBLE))), 3) AS fit_r2,
       CAST(count(*) AS BIGINT) AS n_terms
FROM head
GROUP BY source
ORDER BY source
"""

ORACLES["w06_decay_weighted"] = """
WITH anchor AS (SELECT max(epoch_us(ts)) AS amax FROM events),
aged AS (
    SELECT event_type, value,
           (a.amax - epoch_us(ts)) // 86400000000 AS age_d
    FROM events, anchor a
)
SELECT event_type,
       round(sum(value * power(2.0, -CAST(age_d AS DOUBLE) / 30.0)), 2)
           AS weighted_sum,
       round(sum(power(2.0, -CAST(age_d AS DOUBLE) / 30.0)), 2)
           AS effective_n,
       CAST(count(*) AS BIGINT) AS n_events
FROM aged
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["s18_mips_topk"] = """
WITH q AS (
    SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 5
),
scored AS (
    SELECT q.qid, e.vec_id,
           round(list_dot_product(e.embedding::DOUBLE[], q.qv), 4) AS ip
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.qid
),
ranked AS (
    SELECT qid, vec_id, ip,
           row_number() OVER (PARTITION BY qid
                              ORDER BY ip DESC, vec_id) AS rnk
    FROM scored
)
SELECT qid, vec_id, ip, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 5
ORDER BY qid, rnk
"""

# q127: the outer explode rebuilt as a ranked left join — childless
# orders keep their single all-null row, pos = 0-based rank within
# the (linenumber, quantity) sort the Spark side applies pre-explode.
ORACLES["q127_generator_outer"] = """
WITH sel AS (
    SELECT o_orderkey FROM orders WHERE o_orderkey % 89 = 0
),
heavy AS (
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity >= 48
)
SELECT s.o_orderkey,
       CASE WHEN h.l_linenumber IS NULL THEN NULL
            ELSE CAST(row_number() OVER (
                     PARTITION BY s.o_orderkey
                     ORDER BY h.l_linenumber, h.l_quantity) - 1 AS INT)
       END AS pos,
       h.l_linenumber,
       round(h.l_quantity, 2) AS qty
FROM sel s LEFT JOIN heavy h ON h.l_orderkey = s.o_orderkey
ORDER BY o_orderkey, pos
"""

# p07: PSI over the observed (event_type, bin) set with Laplace
# smoothing (cnt+1)/(n+10); both engines group over the same observed
# bins so the sums align term-for-term.
ORACLES["p07_psi_drift"] = """
WITH binned AS (
    SELECT event_type,
           event_id % 2 = 0 AS is_base,
           least(CAST(floor(value / 50) AS INT), 9) AS bin
    FROM events
),
cnts AS (
    SELECT event_type, bin,
           CAST(count(*) FILTER (WHERE is_base) AS BIGINT) AS nb,
           CAST(count(*) FILTER (WHERE NOT is_base) AS BIGINT) AS nc
    FROM binned GROUP BY event_type, bin
),
tots AS (
    SELECT event_type,
           CAST(sum(nb) AS BIGINT) AS tb,
           CAST(sum(nc) AS BIGINT) AS tc
    FROM cnts GROUP BY event_type
)
SELECT c.event_type,
       round(sum( ((c.nb + 1.0) / (t.tb + 10) - (c.nc + 1.0) / (t.tc + 10))
                  * ln( ((c.nb + 1.0) / (t.tb + 10))
                        / ((c.nc + 1.0) / (t.tc + 10)) ) ), 4) AS psi,
       CAST(sum(c.nb) AS BIGINT) AS n_base,
       CAST(sum(c.nc) AS BIGINT) AS n_cur
FROM cnts c JOIN tots t USING (event_type)
GROUP BY c.event_type
ORDER BY c.event_type
"""

# d17: full replay of the portable 32-bit SimHash pipeline
# (operators/dedup.py:portable_simhash_pairs) — signature bit i is the
# majority vote of hex-char-i parity over one md5 per distinct token,
# banding is integer shift/mask, verification bit_count(xor) <= 3.
def _d17_oracle() -> str:
    odd = "('1','3','5','7','9','b','d','f')"
    bit_terms = "\n         + ".join(
        f"CASE WHEN 2 * len(list_filter(dg, d -> substr(d, {i + 1}, 1) "
        f"IN {odd})) >= n THEN (1::BIGINT << {i}) ELSE 0 END"
        for i in range(32)
    )
    return f"""
WITH base AS (
    SELECT doc_id,
           list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS t
    FROM documents
),
dig AS (
    SELECT doc_id, list_transform(t, x -> md5(x)) AS dg,
           CAST(len(t) AS BIGINT) AS n
    FROM base WHERE len(t) >= 1
),
sigs AS (
    SELECT doc_id,
           ({bit_terms}) AS sig
    FROM dig
),
chunks AS (
    SELECT doc_id, sig, b.i AS band, (sig >> (8 * b.i)) & 255 AS key
    FROM sigs, (SELECT unnest(range(0, 4)) AS i) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.sig AS sig_a, b.sig AS sig_b
    FROM chunks a
    JOIN chunks b ON a.band = b.band AND a.key = b.key
                 AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= 3
ORDER BY id_a, id_b
"""


ORACLES["d17_portable_simhash_pairs"] = _d17_oracle()


def _d24_oracle() -> str:
    # Verbatim replay of operators/dedup.portable_simhash_star_edges
    # over the query's replica-augmented corpus: the d17 signature CTEs,
    # then (1) sig-collapse via window-min (hamming-0 star edges),
    # (2) per-(band,key) min-id bucket reps over the sig
    # representatives only, (3) map-side hamming<=3 verify.
    odd = "('1','3','5','7','9','b','d','f')"
    bit_terms = "\n         + ".join(
        f"CASE WHEN 2 * len(list_filter(dg, d -> substr(d, {i + 1}, 1) "
        f"IN {odd})) >= n THEN (1::BIGINT << {i}) ELSE 0 END"
        for i in range(32)
    )
    return f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 0
),
base AS (
    SELECT doc_id,
           list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS t
    FROM corpus
),
dig AS (
    SELECT doc_id, list_transform(t, x -> md5(x)) AS dg,
           CAST(len(t) AS BIGINT) AS n
    FROM base WHERE len(t) >= 1
),
sigs AS (
    SELECT doc_id,
           ({bit_terms}) AS sig
    FROM dig
),
mapping AS (
    SELECT doc_id, sig,
           min(doc_id) OVER (PARTITION BY sig) AS rep
    FROM sigs
),
exact_edges AS (
    SELECT rep AS id_a, doc_id AS id_b, CAST(0 AS INT) AS hamming
    FROM mapping WHERE doc_id <> rep
),
rep_sigs AS (
    SELECT doc_id, sig FROM mapping WHERE doc_id = rep
),
chunks AS (
    SELECT doc_id, sig, b.i AS band, (sig >> (8 * b.i)) & 255 AS key
    FROM rep_sigs, (SELECT unnest(range(0, 4)) AS i) b
),
breps AS (
    SELECT band, key,
           min(doc_id) AS rep_id,
           arg_min(sig, doc_id) AS rep_sig
    FROM chunks GROUP BY band, key
),
near_edges AS (
    SELECT DISTINCT r.rep_id AS id_a, c.doc_id AS id_b,
           CAST(bit_count(xor(r.rep_sig, c.sig)) AS INT) AS hamming
    FROM chunks c
    JOIN breps r ON c.band = r.band AND c.key = r.key
    WHERE c.doc_id > r.rep_id
      AND bit_count(xor(r.rep_sig, c.sig)) <= 3
)
SELECT id_a, id_b, hamming FROM exact_edges
UNION ALL
SELECT id_a, id_b, hamming FROM near_edges
ORDER BY id_a, id_b
"""


ORACLES["d24_simhash_star_edges"] = _d24_oracle()

# q126: closed form of the doubling loop — smallest k in
# thr = 1000*2^k with exceed-count under 100 (k=0 when already under,
# matching the script's no-iteration path).
ORACLES["q126_sql_scripting"] = """
WITH ks AS (SELECT unnest(range(0, 40)) AS k),
counts AS (
    SELECT k,
           CAST(count(*) FILTER (WHERE o_totalprice > 1000.0 * power(2, k))
                AS BIGINT) AS n_above
    FROM orders CROSS JOIN ks
    GROUP BY k
)
SELECT 1000.0 * power(2, k) AS threshold, n_above
FROM counts
WHERE n_above < 100
ORDER BY k
LIMIT 1
"""

# m07: the 32-byte md5-hex payload block-averaged to 8 cells of 4
# bytes — integer floor means, recomputable from ascii() exactly.
ORACLES["m07_image_resize"] = """
WITH m AS (SELECT doc_id, md5(text) AS h FROM documents),
cells AS (SELECT unnest(range(0, 8)) AS j)
SELECT doc_id,
       CAST(j AS INT) AS cell_no,
       CAST((ascii(substr(h, 4*j + 1, 1)) + ascii(substr(h, 4*j + 2, 1))
             + ascii(substr(h, 4*j + 3, 1)) + ascii(substr(h, 4*j + 4, 1)))
            // 4 AS BIGINT) AS px
FROM m, cells
ORDER BY doc_id, cell_no
"""

ORACLES["q124_argminmax_battery"] = """
SELECT o_orderpriority,
       arg_max(o_orderkey,
               CAST(round(o_totalprice * 100) AS DECIMAL(38,0))
               * 1000000000000000000 + o_orderkey) AS priciest_order,
       arg_min(o_orderkey,
               CAST(round(o_totalprice * 100) AS DECIMAL(38,0))
               * 1000000000000000000 + o_orderkey) AS cheapest_order,
       mode(o_orderstatus) AS modal_status,
       any_value(substr(o_orderpriority, 1, 1)) AS prio_digit,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# st15: each drain feeds exactly one phase, so the union of per-batch
# emissions equals the per-(key, phase) PREFIX aggregates — only true
# if ValueState survived the two query restarts from the checkpoint.
ORACLES["st15_state_across_restarts"] = """
WITH e AS (
    SELECT CAST(user_id % 50 AS INT) AS key,
           CAST(event_id % 3 AS INT) AS phase,
           value
    FROM events WHERE event_id % 7 = 0
),
per AS (
    SELECT key, phase, CAST(count(*) AS BIGINT) AS n_p, sum(value) AS s_p
    FROM e GROUP BY key, phase
)
SELECT key, phase,
       CAST(sum(n_p) OVER w AS BIGINT) AS running_n,
       round(sum(s_p) OVER w, 2) AS running_sum
FROM per
WINDOW w AS (PARTITION BY key ORDER BY phase)
ORDER BY key, phase
"""

# st16: st15's prefix-aggregate shape on a second slice
# (event_id % 11, 2 phases, key = user_id % 40) — only true if the
# running-totals state survived the restart between the two drains.
ORACLES["st16_transform_with_state"] = """
WITH e AS (
    SELECT CAST(user_id % 40 AS INT) AS key,
           CAST(event_id % 2 AS INT) AS phase,
           value
    FROM events WHERE event_id % 11 = 0
),
per AS (
    SELECT key, phase, CAST(count(*) AS BIGINT) AS n_p, sum(value) AS s_p
    FROM e GROUP BY key, phase
)
SELECT key, phase,
       CAST(sum(n_p) OVER w AS BIGINT) AS running_n,
       round(sum(s_p) OVER w, 2) AS running_sum
FROM per
WINDOW w AS (PARTITION BY key ORDER BY phase)
ORDER BY key, phase
"""

# l18: the identical (handler, status) rollup computed DIRECTLY from
# events — the Spark side must survive its CLF build->regexp-parse
# round trip to match.
ORACLES["l18_clf_parse_roundtrip"] = """
WITH e AS (
    SELECT event_type AS handler,
           CAST(CASE WHEN event_type = 'error' THEN 500 + event_id % 3
                     WHEN event_id % 7 = 0 THEN 404
                     ELSE 200 END AS INT) AS status,
           CAST(round(value * 100) AS BIGINT) AS bytes,
           '10.0.' || (user_id % 256) || '.' || (event_id % 256) AS ip,
           'agent/' || (user_id % 7) AS agent
    FROM events
)
SELECT handler, status,
       CAST(count(*) AS BIGINT) AS n_requests,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       CAST(count(DISTINCT ip) AS BIGINT) AS n_ips,
       CAST(count(DISTINCT agent) AS BIGINT) AS n_agents
FROM e
GROUP BY handler, status
ORDER BY handler, status
"""

# d20: brute-force exact truth over the same cohort — the prefix
# lemma's completeness means the Spark side must find EVERY pair the
# all-pairs scan finds, at the identical exact Jaccard.
ORACLES["d20_prefix_filter_jaccard"] = """
WITH sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ')
                          for i in range(1, len(t) - 1)]) AS s
    FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM documents WHERE doc_id % 13 = 0)
    WHERE len(t) >= 3
)
SELECT id_a, id_b, round(j, 4) AS jaccard
FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.s, b.s))::DOUBLE
           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
WHERE j >= 0.6
ORDER BY id_a, id_b
"""

# q132: exact cohort cardinalities + the gate contract (all five
# theta estimates within max(5, 5%) of exact — the oracle asserts the
# gates hold, the repo's sketch-gate pattern since q61/q64).
ORACLES["q132_theta_sketch_setops"] = """
WITH a AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderpriority = '1-URGENT'),
     b AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_totalprice > 150000),
     x AS (SELECT (SELECT count(*) FROM a) AS na,
                  (SELECT count(*) FROM b) AS nb,
                  (SELECT count(*) FROM
                     (SELECT o_custkey FROM a
                      INTERSECT SELECT o_custkey FROM b)) AS ni)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(na + nb - ni AS BIGINT) AS n_union,
       CAST(ni AS BIGINT) AS n_inter,
       CAST(na - ni AS BIGINT) AS n_diff,
       1 AS ok_a, 1 AS ok_b, 1 AS ok_union, 1 AS ok_inter, 1 AS ok_diff
FROM x
"""

# q133: the per-date physical-layout audit recomputed logically —
# exactly one file per date by construction (hash repartition on the
# partition key routes each date to one task).
ORACLES["q133_file_metadata_scan"] = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
       CAST(1 AS BIGINT) AS n_files,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(event_id) AS BIGINT) AS min_event,
       CAST(max(event_id) AS BIGINT) AS max_event
FROM events
GROUP BY 1
ORDER BY 1
"""

# q134: the scalar subquery stated in SQL.
ORACLES["q134_scalar_subquery_api"] = """
WITH s AS (SELECT avg(o_totalprice) AS ap FROM orders)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(avg(o_totalprice / (SELECT ap FROM s)), 4) AS avg_lift
FROM orders
WHERE o_totalprice > 1.5 * (SELECT ap FROM s)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# q121: the transposed metrics table built by hand — one row per
# original metric column, one column per returnflag, cells coerced to
# DOUBLE exactly as DataFrame.transpose coerces them.
ORACLES["q121_transpose"] = """
WITH s AS (
    SELECT l_returnflag AS f,
           CAST(count(*) AS DOUBLE) AS n_items,
           round(avg(l_quantity), 2) AS avg_qty,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem GROUP BY l_returnflag
)
SELECT 'avg_qty' AS key,
       max(CASE WHEN f = 'A' THEN avg_qty END) AS "A",
       max(CASE WHEN f = 'N' THEN avg_qty END) AS "N",
       max(CASE WHEN f = 'R' THEN avg_qty END) AS "R"
FROM s
UNION ALL
SELECT 'n_items',
       max(CASE WHEN f = 'A' THEN n_items END),
       max(CASE WHEN f = 'N' THEN n_items END),
       max(CASE WHEN f = 'R' THEN n_items END)
FROM s
UNION ALL
SELECT 'sum_price',
       max(CASE WHEN f = 'A' THEN sum_price END),
       max(CASE WHEN f = 'N' THEN sum_price END),
       max(CASE WHEN f = 'R' THEN sum_price END)
FROM s
ORDER BY key
"""

ORACLES["q123_lateral_join_api"] = """
WITH ranked AS (
    SELECT o_orderkey, o_orderpriority, l_linenumber,
           round(l_extendedprice, 2) AS price,
           row_number() OVER (
               PARTITION BY o_orderkey
               ORDER BY l_extendedprice DESC, l_linenumber
           ) AS rk
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey % 97 = 0
)
SELECT o_orderkey, o_orderpriority, l_linenumber, price
FROM ranked
WHERE rk <= 2
ORDER BY o_orderkey, price DESC, l_linenumber
"""

ORACLES["st14_chained_window_rollup"] = """
SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2)     AS sum_value
FROM events
GROUP BY 1
ORDER BY bucket_start
"""

ORACLES["u10_table_arg_udtf"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT)
           AS sum_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["m06_audio_frame_energy"] = """
WITH src AS (
    SELECT doc_id, md5(text) AS h
    FROM documents WHERE doc_id % 5 = 0
)
SELECT doc_id,
       CAST(fno AS INT) AS frame_no,
       CAST(8 AS INT)   AS n_samples,
       CAST(sum(ascii(substr(h, fno * 8 + i, 1))
                * ascii(substr(h, fno * 8 + i, 1))) AS BIGINT)
           AS energy
FROM src,
     LATERAL (SELECT unnest(generate_series(0, 3)) AS fno) f,
     LATERAL (SELECT unnest(generate_series(1, 8)) AS i) g
GROUP BY doc_id, fno
ORDER BY doc_id, frame_no
"""

ORACLES["s17_random_projection_gate"] = """
WITH vq AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(floor(x * 1000) AS BIGINT)) AS v
    FROM (SELECT vec_id, embedding FROM embeddings
          ORDER BY vec_id LIMIT 50)
), signs AS (
    SELECT j, k,
           1 - 2 * (('0x' || substr(md5(j || ':' || k), 32, 1))::BIGINT
                    % 2) AS s
    FROM (SELECT unnest(generate_series(0, 63)) AS j),
         (SELECT unnest(generate_series(0, 15)) AS k)
), longv AS (
    SELECT vec_id, j, v[j + 1] AS x
    FROM vq, (SELECT unnest(generate_series(0, 63)) AS j)
), proj AS (
    SELECT vec_id, k, sum(x * s) AS y
    FROM longv JOIN signs USING (j)
    GROUP BY vec_id, k
), dproj AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           sum((a.y - b.y) * (a.y - b.y)) AS dproj2
    FROM proj a JOIN proj b ON a.k = b.k AND a.vec_id < b.vec_id
    GROUP BY 1, 2
), dorig AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_sum(list_transform(generate_series(1, 64),
                    i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])))
               AS dorig2
    FROM vq a JOIN vq b ON a.vec_id < b.vec_id
)
SELECT p.id_a, p.id_b,
       CAST(o.dorig2 AS BIGINT) AS dorig2,
       CAST(p.dproj2 AS BIGINT) AS dproj2,
       CAST((2000 * p.dproj2 + 16 * o.dorig2)
            // (32 * o.dorig2) AS BIGINT) AS ratio_pm
FROM dproj p JOIN dorig o
  ON p.id_a = o.id_a AND p.id_b = o.id_b
ORDER BY p.id_a, p.id_b
"""

ORACLES["d16_cluster_size_histogram"] = f"""
WITH RECURSIVE {_CLUSTER_EDGES},
sizes AS (
    SELECT cluster_id, count(*) AS cluster_size
    FROM clusters GROUP BY cluster_id
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT)     AS n_clusters
FROM sizes
GROUP BY cluster_size
ORDER BY cluster_size
"""

ORACLES["q119_regression_aggregates"] = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT)
           AS n_pairs
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

ORACLES["q120_sql_pipe_syntax"] = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT)      AS n,
       round(sum(l_extendedprice), 2) AS revenue
FROM lineitem
WHERE l_quantity >= 30
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

# i07: the spool stage must neither tear, drop, nor duplicate a
# record, so the landing-dir rollup equals the direct aggregate.
ORACLES["i07_stdin_spool_pipeline"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT)                 AS n_records,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       round(sum(value), 2)                     AS sum_value
FROM events
WHERE event_id % 7 = 0
GROUP BY event_type
ORDER BY event_type
"""

ORACLES["p08_dq_rules"] = """
WITH li AS (
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50)
                    THEN 1 ELSE 0 END) AS BIGINT) AS qty_in_range,
           CAST(sum(CASE WHEN NOT (l_shipdate BETWEEN DATE '1992-01-01'
                                     AND DATE '1998-12-31')
                    THEN 1 ELSE 0 END) AS BIGINT) AS shipdate_in_range,
           CAST(sum(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS discount_in_range,
           CAST(sum(CASE WHEN NOT (l_extendedprice > 0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS price_positive,
           CAST(sum(CASE WHEN NOT (l_tax < 1.0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS tax_lt_discounted
    FROM lineitem
), o AS (
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN NOT (o_totalprice > 0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS total_positive,
           CAST(sum(CASE WHEN NOT (o_orderstatus IN ('O','F','P'))
                    THEN 1 ELSE 0 END) AS BIGINT) AS status_known,
           CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
                    THEN 1 ELSE 0 END) AS BIGINT) AS priority_wellformed
    FROM orders
)
SELECT * FROM (
    SELECT 'lineitem' AS table_name, 'qty_in_range' AS rule, n_rows,
           qty_in_range AS violations,
           CASE WHEN qty_in_range = 0 THEN 1 ELSE 0 END AS passed FROM li
    UNION ALL
    SELECT 'lineitem', 'shipdate_in_range', n_rows, shipdate_in_range,
           CASE WHEN shipdate_in_range = 0 THEN 1 ELSE 0 END FROM li
    UNION ALL
    SELECT 'lineitem', 'discount_in_range', n_rows, discount_in_range,
           CASE WHEN discount_in_range = 0 THEN 1 ELSE 0 END FROM li
    UNION ALL
    SELECT 'lineitem', 'price_positive', n_rows, price_positive,
           CASE WHEN price_positive = 0 THEN 1 ELSE 0 END FROM li
    UNION ALL
    SELECT 'lineitem', 'tax_lt_discounted', n_rows, tax_lt_discounted,
           CASE WHEN tax_lt_discounted = 0 THEN 1 ELSE 0 END FROM li
    UNION ALL
    SELECT 'orders', 'total_positive', n_rows, total_positive,
           CASE WHEN total_positive = 0 THEN 1 ELSE 0 END FROM o
    UNION ALL
    SELECT 'orders', 'status_known', n_rows, status_known,
           CASE WHEN status_known = 0 THEN 1 ELSE 0 END FROM o
    UNION ALL
    SELECT 'orders', 'priority_wellformed', n_rows, priority_wellformed,
           CASE WHEN priority_wellformed = 0 THEN 1 ELSE 0 END FROM o
)
ORDER BY table_name, rule
"""

ORACLES["q130_listagg"] = """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name)  AS nations,
       string_agg(lower(n_name), '|' ORDER BY n_nationkey DESC)
           AS nations_by_key_desc,
       CAST(count(*) AS BIGINT) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""

ORACLES["q131_time_grid_fill"] = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           count(*) AS n, round(sum(value), 2) AS day_value
    FROM events GROUP BY 1, 2
), span AS (
    SELECT event_type, min(day) AS d0, max(day) AS d1
    FROM daily GROUP BY 1
), grid AS (
    SELECT event_type,
           CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                       CAST(d1 AS TIMESTAMP),
                                       INTERVAL 1 DAY)) AS DATE) AS day
    FROM span
)
SELECT g.event_type, g.day,
       CAST(coalesce(d.n, 0) AS BIGINT) AS n_events,
       CASE WHEN d.n IS NULL THEN 1 ELSE 0 END AS gap_filled,
       last_value(d.day_value IGNORE NULLS) OVER (
           PARTITION BY g.event_type ORDER BY g.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS locf_value
FROM grid g
LEFT JOIN daily d ON g.event_type = d.event_type AND g.day = d.day
ORDER BY g.event_type, g.day
"""

# d19: DuckDB replays the identical portable banding (one md5 per
# shingle, 5-hex-char lanes — the d05 _CLUSTER_EDGES machinery) over
# the fixed-k cohort plus the exact-truth pair set, so both counts and
# the per-mille recall hash-match.
ORACLES["d19_lsh_recall_gate"] = """
WITH base AS (
    SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 500
),
sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ')
                          for i in range(1, len(t) - 1)]) AS s
    FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM base)
    WHERE len(t) >= 3
),
dig AS (
    SELECT doc_id, s, list_transform(s, x -> md5(x)) AS dg FROM sh
),
bands AS (
    SELECT doc_id, b.i AS band,
           list_min(list_transform(dg, d -> substr(d, 1 + 5*(2*b.i), 5)))
           || list_min(list_transform(dg, d -> substr(d, 1 + 5*(2*b.i+1), 5)))
           AS bkey
    FROM dig, (SELECT unnest(generate_series(0, 2)) AS i) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                AND a.doc_id < b.doc_id
),
truth AS (
    SELECT sa.doc_id AS id_a, sb.doc_id AS id_b
    FROM sh sa JOIN sh sb ON sa.doc_id < sb.doc_id
    WHERE len(list_intersect(sa.s, sb.s))::DOUBLE
          / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.5
),
caught AS (
    SELECT t.id_a, t.id_b
    FROM truth t JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
),
counts AS (
    SELECT (SELECT count(*) FROM truth)  AS n_true,
           (SELECT count(*) FROM caught) AS n_caught
)
SELECT CAST(n_true AS BIGINT)   AS n_true,
       CAST(n_caught AS BIGINT) AS n_caught,
       CAST((2*1000*n_caught + n_true) // (2*greatest(n_true, 1))
            AS BIGINT) AS recall_pm,
       CAST(CASE WHEN n_true = 0
                   OR (2*1000*n_caught + n_true)
                      // (2*greatest(n_true, 1)) >= 578
                 THEN 1 ELSE 0 END AS INT) AS recall_ok
FROM counts
"""

# g06: three synchronous LPA rounds unrolled as plain SQL (fixed
# horizon + (count desc, label asc) tie-break = deterministic).
ORACLES["g06_label_propagation"] = """
WITH ev AS (
    SELECT user_id % 100 AS src,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 100 AS dst
    FROM events
),
sym AS (
    SELECT DISTINCT src AS v, dst AS nbr FROM ev
    WHERE dst IS NOT NULL AND src <> dst
    UNION
    SELECT DISTINCT dst AS v, src AS nbr FROM ev
    WHERE dst IS NOT NULL AND src <> dst
),
l0 AS (SELECT DISTINCT v AS node, v AS label FROM sym),
l1 AS (
    SELECT node, label FROM (
        SELECT s.v AS node, l.label, count(*) AS cnt,
               row_number() OVER (PARTITION BY s.v
                                  ORDER BY count(*) DESC, l.label) AS rn
        FROM sym s JOIN l0 l ON l.node = s.nbr
        GROUP BY s.v, l.label
    ) WHERE rn = 1
),
l2 AS (
    SELECT node, label FROM (
        SELECT s.v AS node, l.label, count(*) AS cnt,
               row_number() OVER (PARTITION BY s.v
                                  ORDER BY count(*) DESC, l.label) AS rn
        FROM sym s JOIN l1 l ON l.node = s.nbr
        GROUP BY s.v, l.label
    ) WHERE rn = 1
),
l3 AS (
    SELECT node, label FROM (
        SELECT s.v AS node, l.label, count(*) AS cnt,
               row_number() OVER (PARTITION BY s.v
                                  ORDER BY count(*) DESC, l.label) AS rn
        FROM sym s JOIN l2 l ON l.node = s.nbr
        GROUP BY s.v, l.label
    ) WHERE rn = 1
)
SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
FROM l3 ORDER BY node
"""

# ---------------------------------------------------------------------------
# Round-7 gate oracles (VERDICT r06 #2): the four queries whose latest
# driver record was a stale r1 `err: no_oracle`, re-shaped in
# plans/queries.py to the q61/q84/d19 gate pattern.  Exact sides are
# recomputed here; sketch/hash-family-specific sides appear only inside
# gate booleans the Spark query must satisfy.
# ---------------------------------------------------------------------------

ORACLES["q28_approx_stats"] = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       CAST(count(DISTINCT l_partkey) AS BIGINT)  AS exact_parts,
       CAST(1 AS INT) AS orders_ok,
       CAST(1 AS INT) AS parts_ok,
       CAST(1 AS INT) AS median_rank_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""

# d02/d03: truth = exact string-shingle 3-gram Jaccard over the fixed
# 500-smallest-doc cohort (d19's cohort CTE), thresholds 0.8 / 0.9.
# The caught pair sets are xxhash64-specific, so they surface only in
# the recall/precision gate booleans, stated here as their contract
# values.
ORACLES["d02_minhash_pairs"] = """
WITH base AS (
    SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 500
),
sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ')
                          for i in range(1, len(t) - 1)]) AS s
    FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM base)
    WHERE len(t) >= 3
),
truth AS (
    SELECT sa.doc_id AS id_a, sb.doc_id AS id_b
    FROM sh sa JOIN sh sb ON sa.doc_id < sb.doc_id
    WHERE len(list_intersect(sa.s, sb.s))::DOUBLE
          / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.8
)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST(0 AS BIGINT) AS precision_viol,
       CAST(1 AS INT) AS recall_ok
"""

ORACLES["d03_simhash_pairs"] = """
WITH base AS (
    SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 500
),
sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ')
                          for i in range(1, len(t) - 1)]) AS s
    FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM base)
    WHERE len(t) >= 3
),
truth AS (
    SELECT sa.doc_id AS id_a, sb.doc_id AS id_b
    FROM sh sa JOIN sh sb ON sa.doc_id < sb.doc_id
    WHERE len(list_intersect(sa.s, sb.s))::DOUBLE
          / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.9
)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST(0 AS BIGINT) AS order_viol,
       CAST(1 AS INT) AS recall_ok
"""

# t03: full langid replay (t21's pred CTE), rolled up to per-language
# accuracy with the repo's half-up integer per-mille rounding.
ORACLES["t03_langid_pred"] = """
WITH staged AS (
    SELECT lang,
           string_split_regex(lower(trim(text)), '\\s+') AS toks,
           len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT
               AS nt
    FROM documents
), pred AS (
    SELECT lang,
           (list_max([
               struct_pack(s := ((2*10000*len(list_filter(toks, x -> x IN ('der','die','und','das','ist','von','mit','den','im','ein')))::BIGINT + nt) // (2*nullif(nt, 0))) / 10000.0, l := 'de'),
               struct_pack(s := ((2*10000*len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it','that','for')))::BIGINT + nt) // (2*nullif(nt, 0))) / 10000.0, l := 'en'),
               struct_pack(s := ((2*10000*len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','los','se','del')))::BIGINT + nt) // (2*nullif(nt, 0))) / 10000.0, l := 'es'),
               struct_pack(s := ((2*10000*len(list_filter(toks, x -> x IN ('le','la','les','de','et','un','une','du','est','dans')))::BIGINT + nt) // (2*nullif(nt, 0))) / 10000.0, l := 'fr'),
               struct_pack(s := ((2*10000*len(list_filter(toks, x -> x IN ('的','是','了','在','我','有','和','就','不','人')))::BIGINT + nt) // (2*nullif(nt, 0))) / 10000.0, l := 'zh')
           ])).l AS pred_lang
    FROM staged
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN pred_lang = lang THEN 1 END) AS BIGINT)
           AS n_correct,
       CAST((2*1000*count(CASE WHEN pred_lang = lang THEN 1 END)
             + count(*)) // (2*count(*)) AS BIGINT) AS acc_permille
FROM pred
GROUP BY lang
ORDER BY lang
"""

# Round-7 additions.
ORACLES["f24_avro_roundtrip"] = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

ORACLES["st17_statestore_reader"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(1 AS INT) AS state_ok
FROM events
GROUP BY event_type
ORDER BY event_type
"""

# q135: the exact top-10 twin of the frequent-items sketch —
# capacity-exactness (<=100 distinct keys vs maxItemsTracked 10000)
# plus the k=25-padded (count desc, item asc) cut make the sketch
# output hash-equal to this exact ranking (see the query docstring).
ORACLES["q135_approx_top_k"] = """
WITH c AS (
    SELECT event_type || '/' || CAST(user_id % 20 AS VARCHAR) AS item,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY 1
), r AS (
    SELECT item, cnt,
           row_number() OVER (ORDER BY cnt DESC, item ASC) AS rnk
    FROM c
)
SELECT CAST(rnk AS INT) AS rnk, item, cnt
FROM r WHERE rnk <= 10 ORDER BY rnk
"""

# t27: BM25 (Okapi/Lucene idf) with the position-pivoted deterministic
# sum described in the query docstring — every per-position sum has at
# most one input row, so s1+s2+s3 adds in a fixed order on both engines.
ORACLES["t27_bm25_topk"] = """
WITH probe(qid, pos, term) AS (
    VALUES ('q1', 1, 'spark'),  ('q1', 2, 'join'),  ('q1', 3, 'table'),
           ('q2', 1, 'window'), ('q2', 2, 'agg'),   ('q2', 3, 'scan'),
           ('q3', 1, 'customer'), ('q3', 2, 'order'), ('q3', 3, 'value'),
           ('q4', 1, 'hash'),   ('q4', 2, 'merge'), ('q4', 3, 'sort')
), toks AS (
    SELECT doc_id,
           len(string_split_regex(lower(trim(text)), '\\s+')) AS dl,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
    FROM documents
), tf AS (
    SELECT doc_id, dl, term, count(*) AS tf
    FROM toks
    WHERE term IN (SELECT term FROM probe)
    GROUP BY doc_id, dl, term
), dfreq AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
), stats AS (
    SELECT count(*) AS n_docs,
           avg(len(string_split_regex(lower(trim(text)), '\\s+')))
               AS avgdl
    FROM documents
), contribs AS (
    SELECT probe.qid, tf.doc_id, probe.pos,
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1.0 - 0.75
                                 + 0.75 * tf.dl / stats.avgdl))
               AS contrib
    FROM tf
    JOIN dfreq USING (term)
    JOIN probe USING (term)
    CROSS JOIN stats
), per_doc AS (
    SELECT qid, doc_id,
           sum(CASE WHEN pos = 1 THEN contrib END) AS s1,
           sum(CASE WHEN pos = 2 THEN contrib END) AS s2,
           sum(CASE WHEN pos = 3 THEN contrib END) AS s3,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM contribs
    GROUP BY qid, doc_id
), ranked AS (
    SELECT qid, doc_id, n_terms,
           round(coalesce(s1, 0.0) + coalesce(s2, 0.0)
                 + coalesce(s3, 0.0), 4) AS score
    FROM per_doc
)
SELECT qid, CAST(rnk AS INT) AS rnk, doc_id, n_terms, score
FROM (
    SELECT qid, doc_id, n_terms, score,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, doc_id ASC) AS rnk
    FROM ranked
)
WHERE rnk <= 5
ORDER BY qid, rnk
"""

# s19: the 5 greedy MMR steps unrolled as CTEs.  rel is round(cos, 6)
# (s01's driver-proven rounding parity); selection keys are RAW
# doubles with vec_id tiebreak, mirroring the query's sequential-fold
# float64 arithmetic; only the output is rounded to 4.
ORACLES["s19_mmr_rerank"] = """
WITH q AS (
    SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
), cand AS (
    SELECT vec_id, v, rel FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
               round(list_cosine_similarity(e.embedding::DOUBLE[],
                                            q.qv), 6) AS rel,
               row_number() OVER (
                   ORDER BY round(list_cosine_similarity(
                       e.embedding::DOUBLE[], q.qv), 6) DESC,
                   e.vec_id ASC) AS crnk
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != 0
    ) WHERE crnk <= 12
), p1 AS (
    SELECT vec_id, v, rel, 0.7 * rel AS mmr
    FROM cand ORDER BY 0.7 * rel DESC, vec_id ASC LIMIT 1
), c2 AS (
    SELECT c.vec_id, c.v, c.rel,
           0.7 * c.rel - 0.3 * (
               SELECT round(max(list_cosine_similarity(c.v, s.v)), 6)
               FROM p1 s
           ) AS mmr
    FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM p1)
), p2 AS (
    SELECT vec_id, v, rel, mmr FROM c2
    ORDER BY mmr DESC, vec_id ASC LIMIT 1
), c3 AS (
    SELECT c.vec_id, c.v, c.rel,
           0.7 * c.rel - 0.3 * (
               SELECT round(max(list_cosine_similarity(c.v, s.v)), 6) FROM (
                   SELECT v FROM p1 UNION ALL SELECT v FROM p2
               ) s
           ) AS mmr
    FROM cand c
    WHERE c.vec_id NOT IN (SELECT vec_id FROM p1
                           UNION ALL SELECT vec_id FROM p2)
), p3 AS (
    SELECT vec_id, v, rel, mmr FROM c3
    ORDER BY mmr DESC, vec_id ASC LIMIT 1
), c4 AS (
    SELECT c.vec_id, c.v, c.rel,
           0.7 * c.rel - 0.3 * (
               SELECT round(max(list_cosine_similarity(c.v, s.v)), 6) FROM (
                   SELECT v FROM p1 UNION ALL SELECT v FROM p2
                   UNION ALL SELECT v FROM p3
               ) s
           ) AS mmr
    FROM cand c
    WHERE c.vec_id NOT IN (SELECT vec_id FROM p1
                           UNION ALL SELECT vec_id FROM p2
                           UNION ALL SELECT vec_id FROM p3)
), p4 AS (
    SELECT vec_id, v, rel, mmr FROM c4
    ORDER BY mmr DESC, vec_id ASC LIMIT 1
), c5 AS (
    SELECT c.vec_id, c.v, c.rel,
           0.7 * c.rel - 0.3 * (
               SELECT round(max(list_cosine_similarity(c.v, s.v)), 6) FROM (
                   SELECT v FROM p1 UNION ALL SELECT v FROM p2
                   UNION ALL SELECT v FROM p3 UNION ALL SELECT v FROM p4
               ) s
           ) AS mmr
    FROM cand c
    WHERE c.vec_id NOT IN (SELECT vec_id FROM p1
                           UNION ALL SELECT vec_id FROM p2
                           UNION ALL SELECT vec_id FROM p3
                           UNION ALL SELECT vec_id FROM p4)
), p5 AS (
    SELECT vec_id, v, rel, mmr FROM c5
    ORDER BY mmr DESC, vec_id ASC LIMIT 1
), sel AS (
    SELECT 1 AS rnk, vec_id, rel, mmr FROM p1
    UNION ALL SELECT 2, vec_id, rel, mmr FROM p2
    UNION ALL SELECT 3, vec_id, rel, mmr FROM p3
    UNION ALL SELECT 4, vec_id, rel, mmr FROM p4
    UNION ALL SELECT 5, vec_id, rel, mmr FROM p5
)
SELECT CAST(rnk AS INT) AS rnk, vec_id,
       round(rel, 4) AS rel, round(mmr, 4) AS mmr
FROM sel ORDER BY rnk
"""

# st18: st17's reconciliation contract on the RocksDB provider —
# per-event_type counts over the event_id % 3 == 0 slice; state_ok is
# 1 for every key iff the state rows the provider persisted equal the
# batch aggregate.
ORACLES["st18_rocksdb_statestore"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(1 AS INT) AS state_ok
FROM events
WHERE event_id % 3 = 0
GROUP BY event_type
ORDER BY event_type
"""

# st19: st15/st16's prefix-aggregate shape on the TTL slice
# (event_id % 13, key = user_id % 30, 2 phases) — TTL is 1 h, so
# nothing expires within the drains and the union of per-drain
# emissions equals the per-(key, phase) prefix totals.
ORACLES["st19_state_ttl_totals"] = """
WITH e AS (
    SELECT CAST(user_id % 30 AS INT) AS key,
           CAST(event_id % 2 AS INT) AS phase,
           value
    FROM events WHERE event_id % 13 = 0
),
per AS (
    SELECT key, phase, CAST(count(*) AS BIGINT) AS n_p, sum(value) AS s_p
    FROM e GROUP BY key, phase
)
SELECT key, phase,
       CAST(sum(n_p) OVER w AS BIGINT) AS running_n,
       round(sum(s_p) OVER w, 2) AS running_sum
FROM per
WINDOW w AS (PARTITION BY key ORDER BY phase)
ORDER BY key, phase
"""

# d21: winnowing fingerprint selection (Schleimer et al. 2003) — the
# md5-prefix hash family makes the selected set itself (not just the
# counts) engine-reproducible; window min over 5 consecutive 4-gram
# hashes, exactly the Spark sliding-window plan.
ORACLES["d21_winnowing_fingerprints"] = """
WITH toks AS (
    SELECT doc_id,
           string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM documents
), grams AS (
    SELECT doc_id,
           len(t) - 3 AS n_grams,
           s AS pos,
           substr(md5(array_to_string(t[s:s+3], ' ')), 1, 12) AS h
    FROM toks,
         LATERAL (SELECT unnest(generate_series(1, len(t) - 3)) AS s) g
    WHERE len(t) >= 8
), wmin AS (
    SELECT doc_id, n_grams, pos,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
    FROM grams
)
SELECT doc_id,
       CAST(max(n_grams) AS BIGINT)       AS n_grams,
       CAST(count(*) AS BIGINT)           AS n_windows,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_fp,
       min(fp)                            AS min_fp
FROM wmin
WHERE pos <= n_grams - 4
GROUP BY doc_id
ORDER BY doc_id
"""

# d22: shared winnowing fingerprints per doc pair — identical md5
# prefix hash family as d21's oracle, inverted-index self-join with
# the df<=50 stop-fingerprint guard, deterministic top-20.
ORACLES["d22_winnowing_shared_pairs"] = """
WITH toks AS (
    SELECT doc_id,
           string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM documents
), grams AS (
    SELECT doc_id,
           len(t) - 3 AS n_grams,
           s AS pos,
           substr(md5(array_to_string(t[s:s+3], ' ')), 1, 12) AS h
    FROM toks,
         LATERAL (SELECT unnest(generate_series(1, len(t) - 3)) AS s) g
    WHERE len(t) >= 8
), wmin AS (
    SELECT doc_id, n_grams, pos,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
    FROM grams
), fps AS (
    SELECT DISTINCT doc_id, fp
    FROM wmin
    WHERE pos <= n_grams - 4
), kept AS (
    SELECT doc_id, fp FROM fps
    WHERE fp IN (
        SELECT fp FROM fps GROUP BY fp
        HAVING count(DISTINCT doc_id) <= 50
    )
)
SELECT a.doc_id AS id_a,
       b.doc_id AS id_b,
       CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(DISTINCT a.fp) >= 2
ORDER BY n_shared DESC, id_a, id_b
LIMIT 20
"""

# s20: the 4x4 MaxSim lattice unrolled relationally — query/doc token
# subvectors exploded, per-token dots integer-quantized exactly like
# the Spark side (round(dot * 1e4) as BIGINT) so max/sum ranking is
# exact integer arithmetic on both engines.
ORACLES["s20_maxsim_topk"] = """
WITH q AS (
    SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 5
), qt AS (
    SELECT qid, i, qv[(i*16+1):(i*16+16)] AS qsub
    FROM q, (SELECT unnest([0, 1, 2, 3]) AS i) t
), dt AS (
    SELECT vec_id, j, (embedding::DOUBLE[])[(j*16+1):(j*16+16)] AS dsub
    FROM embeddings, (SELECT unnest([0, 1, 2, 3]) AS j) t
), mx AS (
    SELECT qt.qid, dt.vec_id, qt.i,
           max(CAST(round(list_dot_product(dt.dsub, qt.qsub) * 10000)
                    AS BIGINT)) AS m
    FROM dt JOIN qt ON dt.vec_id <> qt.qid
    GROUP BY qt.qid, dt.vec_id, qt.i
), sc AS (
    SELECT qid, vec_id, CAST(sum(m) AS BIGINT) AS score
    FROM mx GROUP BY qid, vec_id
), ranked AS (
    SELECT qid, vec_id, score,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, vec_id) AS rnk
    FROM sc
)
SELECT qid, vec_id, score, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 5
ORDER BY qid, rnk
"""

# d23: stride-1 8-token windows, corpus-wide occurrence counts, covered
# positions via generate_series, maximal runs via gaps-and-islands.
ORACLES["d23_dup_span_removal"] = """
WITH toks AS (
    SELECT doc_id,
           string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM documents
), base AS (
    SELECT doc_id, len(t) AS n_toks, t FROM toks WHERE len(t) >= 8
), wins AS (
    SELECT doc_id, s, array_to_string(t[s:s+7], ' ') AS span
    FROM base,
         LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS s) g
), counted AS (
    SELECT span, count(*) AS nocc FROM wins GROUP BY span
), dup AS (
    SELECT w.doc_id, w.s
    FROM wins w JOIN counted c USING (span)
    WHERE c.nocc >= 2
), cov AS (
    SELECT DISTINCT doc_id, p
    FROM dup, LATERAL (SELECT unnest(generate_series(s, s + 7)) AS p) g
), isl AS (
    SELECT doc_id, p,
           CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) = 1
                THEN 0 ELSE 1 END AS strt
    FROM cov
), agg AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_removed,
           CAST(sum(strt) AS BIGINT) AS n_spans
    FROM isl GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_toks AS BIGINT)                         AS n_toks,
       coalesce(a.n_removed, 0)                         AS n_removed,
       CAST(b.n_toks - coalesce(a.n_removed, 0) AS BIGINT) AS n_kept,
       coalesce(a.n_spans, 0)                           AS n_spans
FROM base b LEFT JOIN agg a USING (doc_id)
ORDER BY b.doc_id
"""

# p09: per-key count histogram + cumulative coverage; p99 is the value
# at ordered position ceil(0.99 * n_keys) — exact, never interpolated.
ORACLES["p09_join_skew_profile"] = """
WITH prof AS (
    SELECT 'lineitem.l_orderkey' AS key_name,
           CAST(l_orderkey AS VARCHAR) AS k FROM lineitem
    UNION ALL
    SELECT 'orders.o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'events.event_type', CAST(event_type AS VARCHAR) FROM events
), cnts AS (
    SELECT key_name, k, count(*) AS cnt
    FROM prof GROUP BY key_name, k
), hist AS (
    SELECT key_name, cnt, count(*) AS freq
    FROM cnts GROUP BY key_name, cnt
), cum AS (
    SELECT key_name, cnt, freq,
           sum(freq) OVER (PARTITION BY key_name ORDER BY cnt) AS cum,
           sum(freq) OVER (PARTITION BY key_name) AS k_total
    FROM hist
), stats AS (
    SELECT key_name,
           CAST(sum(cnt * freq) AS BIGINT)  AS n_rows,
           CAST(sum(freq) AS BIGINT)        AS n_keys,
           CAST(max(cnt) AS BIGINT)         AS max_per_key,
           CAST(min(CASE WHEN cum * 100 >= k_total * 99
                         THEN cnt END) AS BIGINT) AS p99_per_key
    FROM cum GROUP BY key_name
)
SELECT key_name, n_rows, n_keys, max_per_key, p99_per_key,
       n_rows * 1000 // n_keys            AS avg_pm,
       max_per_key * 1000000 // n_rows    AS top1_share_pm,
       max_per_key * 1000 * n_keys // n_rows AS skew_x_pm
FROM stats
ORDER BY key_name
"""

# s21: the full IVF -> MaxSim serving path replayed relationally —
# s15's deterministic centroid rule (16 smallest vec_ids), argmax
# cell assignment on rounded cosine, nprobe=2 probe, then s20's
# integer-quantized MaxSim lattice over the candidates only.
ORACLES["s21_ivf_maxsim_rerank"] = """
WITH corpus AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cents AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
    FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT 16)
), assign AS (
    SELECT vec_id, cell FROM (
        SELECT c.vec_id, ce.cell,
               row_number() OVER (
                   PARTITION BY c.vec_id
                   ORDER BY round(list_cosine_similarity(c.v, ce.cv), 4)
                       DESC, ce.cell) AS rn
        FROM corpus c CROSS JOIN cents ce)
    WHERE rn = 1
), q AS (
    SELECT vec_id AS qid, v AS qv FROM corpus WHERE vec_id < 5
), probed AS (
    SELECT qid, cell FROM (
        SELECT q.qid, ce.cell,
               row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY round(list_cosine_similarity(q.qv, ce.cv), 4)
                       DESC, ce.cell) AS rn
        FROM q CROSS JOIN cents ce)
    WHERE rn <= 2
), cand AS (
    SELECT p.qid, a.vec_id
    FROM probed p JOIN assign a ON a.cell = p.cell
    WHERE a.vec_id <> p.qid
), qt AS (
    SELECT qid, i, qv[(i*16+1):(i*16+16)] AS qsub
    FROM q, (SELECT unnest([0, 1, 2, 3]) AS i) t
), dt AS (
    SELECT c.qid, c.vec_id, j,
           co.v[(j*16+1):(j*16+16)] AS dsub
    FROM cand c
    JOIN corpus co ON co.vec_id = c.vec_id,
         (SELECT unnest([0, 1, 2, 3]) AS j) t
), mx AS (
    SELECT dt.qid, dt.vec_id, qt.i,
           max(CAST(round(list_dot_product(dt.dsub, qt.qsub) * 10000)
                    AS BIGINT)) AS m
    FROM dt JOIN qt ON qt.qid = dt.qid
    GROUP BY dt.qid, dt.vec_id, qt.i
), sc AS (
    SELECT qid, vec_id, CAST(sum(m) AS BIGINT) AS score
    FROM mx GROUP BY qid, vec_id
), ranked AS (
    SELECT qid, vec_id, score,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, vec_id) AS rnk
    FROM sc
)
SELECT qid, vec_id, score, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 5
ORDER BY qid, rnk
"""

# l19: identical message rendering (floor keeps the numeric field
# unambiguous — round() half-case semantics differ across engines),
# identical [0-9]+ -> <N> masking with the global flag.
ORACLES["l19_log_template_mining"] = """
WITH msgs AS (
    SELECT event_id, user_id,
           regexp_replace(
               event_type || ' user=' || CAST(user_id AS VARCHAR)
               || ' v=' || CAST(CAST(floor(value) AS BIGINT) AS VARCHAR)
               || CASE WHEN CAST(json_extract_string(props, '$.k')
                            AS BIGINT) % 3 = 0
                       THEN ' retry' ELSE '' END,
               '[0-9]+', '<N>', 'g') AS template
    FROM events
)
SELECT template,
       CAST(count(*) AS BIGINT)                 AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT)  AS n_users,
       CAST(min(event_id) AS BIGINT)            AS first_event
FROM msgs
GROUP BY template
ORDER BY n_events DESC, template
LIMIT 10
"""

# l20: the full CustomLog deployment path (accessjson render -> chunked
# concatenated-JSON spool -> land -> distributed scan -> --add-entry
# enrichment -> typed parse -> status rollup).  DuckDB replays the
# record DERIVATION from events directly (the render is integer-exact,
# FIXTURES SSA1) and asserts the enrichment constants: log_file is the
# key the entry map ADDS, handler the key it OVERWRITES ('piped'
# replaces the rendered event_type) -- any torn/dropped/duplicated
# record or broken entry-wins semantics breaks the hash.
ORACLES["l20_ingest_rollup_pipeline"] = """
WITH synth AS (
    SELECT CASE WHEN event_id % 10 <= 5 THEN 200
                WHEN event_id % 10 = 6  THEN 301
                WHEN event_id % 10 = 7  THEN 404
                WHEN event_id % 10 = 8  THEN 500
                ELSE 503 END            AS status,
           (event_id * 37) % 10000     AS bytes,
           (event_id * 101) % 500000   AS us
    FROM events
    WHERE event_id % 7 = 0
)
SELECT CAST(status // 100 AS VARCHAR) || 'xx' AS status_class,
       'piped'                    AS handler,
       'HTTPAccessLog'            AS log_file,
       count(*)                   AS n_requests,
       CAST(sum(bytes) AS BIGINT) AS bytes_sent,
       round(avg(us), 1)          AS avg_us
FROM synth
GROUP BY 1
ORDER BY status_class
"""

# l21: the ErrorLog line-mode pipe (render -> chunked line spool with
# last-newline carry -> CR strip -> empty drop -> LogEntry wrap +
# --add-entry -> severity rollup).  DuckDB rederives the rollup from
# events (the render is integer-exact) applying the SAME blank-line
# exclusion F1 enforces; log_file asserts the wrapped static entry.
ORACLES["l21_errorlog_pipeline"] = """
WITH synth AS (
    SELECT CASE WHEN event_id % 4 = 0 THEN 'error'
                WHEN event_id % 4 = 1 THEN 'warn'
                WHEN event_id % 4 = 2 THEN 'notice'
                ELSE 'crit' END AS level,
           user_id % 256       AS octet,
           event_id            AS err_id
    FROM events
    WHERE event_id % 5 = 0 AND event_id % 11 <> 0
)
SELECT level,
       'HTTPErrorLog'                          AS log_file,
       count(*)                                AS n_lines,
       CAST(count(DISTINCT octet) AS BIGINT)   AS n_clients,
       CAST(min(err_id) AS BIGINT)             AS first_err,
       CAST(max(err_id) AS BIGINT)             AS last_err
FROM synth
GROUP BY level
ORDER BY level
"""

# w08: contamination-safe train/val split.  Exact-dup groups co-assign
# by the group KEEPER's md5-prefix bucket (engine-portable, t09's
# rule); the oracle replays assignment, the structural exact_leak = 0
# invariant, and the cohort near-dup straddle telemetry with d02's
# 3-gram J>=0.8 truth CTE.
ORACLES["w08_leak_safe_split"] = """
WITH fp AS (
    SELECT doc_id, md5(text) AS fp FROM documents
),
grp AS (
    SELECT fp, min(doc_id) AS keeper FROM fp GROUP BY fp
),
asg AS (
    SELECT f.doc_id, f.fp,
           CASE WHEN substr(md5('split:' || CAST(g.keeper AS VARCHAR)),
                            1, 2) < 'cc'
                THEN 'train' ELSE 'val' END AS split
    FROM fp f JOIN grp g USING (fp)
),
base AS (
    SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 500
),
sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ')
                          for i in range(1, len(t) - 1)]) AS s
    FROM (SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM base)
    WHERE len(t) >= 3
),
truth AS (
    SELECT sa.doc_id AS id_a, sb.doc_id AS id_b
    FROM sh sa JOIN sh sb ON sa.doc_id < sb.doc_id
    WHERE len(list_intersect(sa.s, sb.s))::DOUBLE
          / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.8
),
tots AS (
    SELECT count(*) AS n_docs,
           sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
           sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)   AS n_val
    FROM asg
),
ex AS (
    SELECT count(*) AS exact_leak
    FROM (SELECT fp FROM asg GROUP BY fp
          HAVING count(DISTINCT split) > 1)
),
leak AS (
    SELECT count(*) AS n_true_pairs,
           coalesce(sum(CASE WHEN a.split <> b.split
                             THEN 1 ELSE 0 END), 0) AS cohort_leak
    FROM truth t
    JOIN asg a ON t.id_a = a.doc_id
    JOIN asg b ON t.id_b = b.doc_id
)
SELECT CAST(n_docs AS BIGINT)       AS n_docs,
       CAST(n_train AS BIGINT)      AS n_train,
       CAST(n_val AS BIGINT)        AS n_val,
       CAST(n_train * 1000 // n_docs AS BIGINT) AS train_pm,
       CAST(exact_leak AS BIGINT)   AS exact_leak,
       CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(cohort_leak AS BIGINT)  AS cohort_leak
FROM tots, ex, leak
"""

# p10: bin-packed compaction plan over the deterministic file
# inventory derived from events; the running-fill group rule is one
# ordered window per directory in both engines.
ORACLES["p10_compaction_plan"] = """
WITH inv AS (
    SELECT event_type AS dir,
           event_id   AS file_id,
           (event_id * 7919) % 262144 + 1024 AS size_bytes
    FROM events
),
planned AS (
    SELECT dir, size_bytes,
           sum(size_bytes) OVER (
               PARTITION BY dir
               ORDER BY size_bytes DESC, file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum
    FROM inv
)
SELECT dir,
       CAST((cum - size_bytes) // 33554432 AS BIGINT) AS group_no,
       count(*)                                AS n_files,
       CAST(sum(size_bytes) AS BIGINT)         AS group_bytes,
       CAST(max(size_bytes) AS BIGINT)         AS largest,
       CAST(min(size_bytes) AS BIGINT)         AS smallest
FROM planned
GROUP BY dir, (cum - size_bytes) // 33554432
ORDER BY dir, group_no
"""

# i08: the live spool->stream drain; the oracle recomputes the rollup
# straight from events, so a lost or duplicated landing file anywhere
# in the concurrent land/list/clean path breaks the hash.
ORACLES["i08_live_spool_stream"] = """
SELECT event_type,
       count(*)                        AS n_records,
       CAST(min(event_id) AS BIGINT)   AS min_id,
       CAST(max(event_id) AS BIGINT)   AS max_id,
       round(sum(value), 2)            AS sum_value
FROM events
WHERE event_id % 9 = 0
GROUP BY event_type
ORDER BY event_type
"""

# p11: the sum-product join-size formula from per-key histograms,
# verified against the actual join count per pair in both engines.
ORACLES["p11_join_size_preflight"] = """
WITH est1 AS (
    SELECT 'lineitem*orders' AS pair,
           count(*) AS n_common_keys,
           CAST(sum(ca * cb) AS BIGINT) AS est_rows,
           CAST(max(ca * cb) AS BIGINT) AS max_key_rows
    FROM (SELECT l_orderkey AS k, count(*) AS ca FROM lineitem GROUP BY 1) a
    JOIN (SELECT o_orderkey AS k, count(*) AS cb FROM orders GROUP BY 1) b
    USING (k)
),
act1 AS (
    SELECT count(*) AS actual_rows
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
est2 AS (
    SELECT 'events*events' AS pair,
           count(*) AS n_common_keys,
           CAST(sum(ca * cb) AS BIGINT) AS est_rows,
           CAST(max(ca * cb) AS BIGINT) AS max_key_rows
    FROM (SELECT user_id AS k, count(*) AS ca FROM events GROUP BY 1) a
    JOIN (SELECT user_id AS k, count(*) AS cb FROM events GROUP BY 1) b
    USING (k)
),
act2 AS (
    SELECT count(*) AS actual_rows
    FROM events x JOIN events y ON x.user_id = y.user_id
),
est3 AS (
    SELECT 'orders*events' AS pair,
           count(*) AS n_common_keys,
           CAST(sum(ca * cb) AS BIGINT) AS est_rows,
           CAST(max(ca * cb) AS BIGINT) AS max_key_rows
    FROM (SELECT o_custkey AS k, count(*) AS ca FROM orders GROUP BY 1) a
    JOIN (SELECT user_id AS k, count(*) AS cb FROM events GROUP BY 1) b
    USING (k)
),
act3 AS (
    SELECT count(*) AS actual_rows
    FROM orders o JOIN events e ON o.o_custkey = e.user_id
)
SELECT pair, n_common_keys, est_rows,
       CAST(max_key_rows * 1000000 // greatest(est_rows, 1) AS BIGINT)
           AS top_key_share_pm,
       CAST(actual_rows AS BIGINT) AS actual_rows,
       CAST(CASE WHEN est_rows = actual_rows THEN 1 ELSE 0 END AS INT)
           AS match
FROM (
    SELECT e.*, a.actual_rows FROM est1 e, act1 a
    UNION ALL
    SELECT e.*, a.actual_rows FROM est2 e, act2 a
    UNION ALL
    SELECT e.*, a.actual_rows FROM est3 e, act3 a
)
ORDER BY pair
"""

# k06: Kinesis shard-balance diagnosis; both engines route by the
# first md5 nibble over 8 equal hash ranges.
ORACLES["k06_shard_balance"] = """
WITH recs AS (
    SELECT 'host' AS mode,
           (instr('0123456789abcdef',
                  substr(md5('i-0abc.example.internal'), 1, 1)) - 1) // 2
               AS shard_no
    FROM events
    UNION ALL
    SELECT 'per_user',
           (instr('0123456789abcdef',
                  substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) // 2
    FROM events
),
per AS (
    SELECT mode, shard_no, count(*) AS n_records
    FROM recs GROUP BY 1, 2
)
SELECT mode,
       CAST(shard_no AS INT) AS shard_no,
       n_records,
       CAST(n_records * 1000
            // sum(n_records) OVER (PARTITION BY mode) AS BIGINT)
           AS share_pm,
       CAST(max(n_records) OVER (PARTITION BY mode) * 1000
            // sum(n_records) OVER (PARTITION BY mode) AS BIGINT)
           AS hottest_pm
FROM per
ORDER BY mode, shard_no
"""

# w09: point-in-time feature assembly; each as-of leg is the q23
# rn=1 pattern, the 90-day staleness null and the leak flag are
# shared post-projections.
ORACLES["w09_point_in_time_matrix"] = """
WITH labels AS (
    SELECT event_id, user_id, ts, event_type AS label
    FROM events WHERE event_id % 3 = 0
),
f1src AS (
    SELECT o_custkey AS user_id, o_orderdate AS fts,
           round(max(o_totalprice), 2) AS f1_raw
    FROM orders GROUP BY 1, 2
),
j1 AS (
    SELECT event_id, f1_raw, fts FROM (
        SELECT l.event_id, f.f1_raw, f.fts,
               row_number() OVER (PARTITION BY l.event_id
                                  ORDER BY f.fts DESC) AS rn
        FROM labels l
        LEFT JOIN f1src f
          ON f.user_id = l.user_id AND f.fts <= l.ts
    ) WHERE rn = 1
),
f2src AS (
    SELECT o.o_custkey AS user_id, li.l_shipdate AS fts,
           CAST(sum(li.l_quantity) AS BIGINT) AS f2
    FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
),
j2 AS (
    SELECT event_id, f2, fts FROM (
        SELECT l.event_id, f.f2, f.fts,
               row_number() OVER (PARTITION BY l.event_id
                                  ORDER BY f.fts DESC) AS rn
        FROM labels l
        LEFT JOIN f2src f
          ON f.user_id = l.user_id AND f.fts <= l.ts
    ) WHERE rn = 1
)
SELECT l.event_id, l.user_id, l.label,
       CASE WHEN j1.fts IS NOT NULL
             AND date_diff('day', CAST(j1.fts AS DATE),
                           CAST(l.ts AS DATE)) <= 90
            THEN j1.f1_raw END AS f1,
       CASE WHEN j1.fts IS NOT NULL
            THEN CAST(date_diff('day', CAST(j1.fts AS DATE),
                                CAST(l.ts AS DATE)) AS INT)
            END AS f1_age_days,
       j2.f2 AS f2,
       CAST(CASE WHEN j1.fts > l.ts OR j2.fts > l.ts
                 THEN 1 ELSE 0 END AS INT) AS leak_viol
FROM labels l
LEFT JOIN j1 USING (event_id)
LEFT JOIN j2 USING (event_id)
ORDER BY event_id
"""

# k07: reshard planner; both engines route by first md5 nibble over 8
# equal ranges, surface zero-load shards via a range(8) dimension, and
# apply the same integer split/merge thresholds.
ORACLES["k07_reshard_plan"] = """
WITH recs AS (
    SELECT 'host' AS mode,
           (instr('0123456789abcdef',
                  substr(md5('i-0abc.example.internal'), 1, 1)) - 1) // 2
               AS shard_no
    FROM events
    UNION ALL
    SELECT 'by_type',
           (instr('0123456789abcdef',
                  substr(md5(event_type), 1, 1)) - 1) // 2
    FROM events
),
loads AS (SELECT mode, shard_no, count(*) AS n FROM recs GROUP BY 1, 2),
shards AS (
    SELECT m.mode, r.range AS shard_no, COALESCE(l.n, 0) AS n_records
    FROM (SELECT DISTINCT mode FROM loads) m
    CROSS JOIN range(8) r
    LEFT JOIN loads l ON l.mode = m.mode AND l.shard_no = r.range
),
acted AS (
    SELECT mode, shard_no, n_records,
           n_records * 1000
               // (sum(n_records) OVER (PARTITION BY mode)) AS share_pm,
           CASE WHEN n_records * 8
                     > 2 * sum(n_records) OVER (PARTITION BY mode)
                THEN 'split'
                WHEN n_records * 32
                     < sum(n_records) OVER (PARTITION BY mode)
                THEN 'merge'
                ELSE 'keep' END AS action,
           CASE WHEN n_records * 8
                     > 2 * sum(n_records) OVER (PARTITION BY mode)
                THEN least(4, (n_records * 8
                               + sum(n_records) OVER (PARTITION BY mode)
                               - 1)
                              // (sum(n_records) OVER (PARTITION BY mode)))
                ELSE 1 END AS n_children
    FROM shards
)
SELECT mode, CAST(shard_no AS INT) AS shard_no, n_records,
       CAST(share_pm AS BIGINT) AS share_pm, action,
       CAST(n_children AS INT) AS n_children,
       CAST(sum(CASE WHEN action <> 'merge' THEN n_children ELSE 0 END)
                OVER (PARTITION BY mode)
            + (sum(CASE WHEN action = 'merge' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY mode) + 1) // 2
            AS BIGINT) AS plan_total_shards
FROM acted
ORDER BY mode, shard_no
"""

# f25: zone-map file skipping; files are scan-local half-year date
# buckets, zones are min/max/count per file, probes are a shared
# literal panel — files_pruned/rows_scanned from zones, rows_matching
# from the facts.
ORACLES["f25_zonemap_prune"] = """
WITH filed AS (
    SELECT CAST(o_orderdate AS DATE) AS d, o_totalprice AS p,
           (year(o_orderdate) - 1992) * 2
             + CASE WHEN month(o_orderdate) > 6 THEN 1 ELSE 0 END AS file_id
    FROM orders
),
zones AS (
    SELECT file_id, min(d) AS d_min, max(d) AS d_max,
           min(p) AS p_min, max(p) AS p_max, count(*) AS n_rows
    FROM filed GROUP BY 1
),
probes AS (
    SELECT * FROM (VALUES
        ('year_1996', DATE '1996-01-01', DATE '1996-12-31', 0.0, 1e9),
        ('h1_1998',   DATE '1998-01-01', DATE '1998-06-30', 0.0, 1e9),
        ('day_1997_03_15', DATE '1997-03-15', DATE '1997-03-15', 0.0, 1e9),
        ('price_over_400k', DATE '1992-01-01', DATE '2001-12-31',
         400000.0, 1e9),
        ('none_2005', DATE '2005-01-01', DATE '2005-12-31', 0.0, 1e9)
    ) AS t(probe, d_lo, d_hi, p_lo, p_hi)
),
agg AS (
    SELECT pr.probe,
           count(*) AS files_total,
           CAST(sum(CASE WHEN z.d_max < pr.d_lo OR z.d_min > pr.d_hi
                           OR z.p_max < pr.p_lo OR z.p_min > pr.p_hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS files_pruned,
           CAST(sum(CASE WHEN z.d_max < pr.d_lo OR z.d_min > pr.d_hi
                           OR z.p_max < pr.p_lo OR z.p_min > pr.p_hi
                         THEN 0 ELSE z.n_rows END) AS BIGINT) AS rows_scanned
    FROM probes pr CROSS JOIN zones z GROUP BY 1
),
truth AS (
    SELECT pr.probe,
           CAST(sum(CASE WHEN f.d BETWEEN pr.d_lo AND pr.d_hi
                          AND f.p BETWEEN pr.p_lo AND pr.p_hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS rows_matching
    FROM probes pr CROSS JOIN filed f GROUP BY 1
)
SELECT a.probe, a.files_total, a.files_pruned, a.rows_scanned,
       t.rows_matching
FROM agg a JOIN truth t USING (probe)
ORDER BY probe
"""

# ---------------------------------------------------------------------------
# round-14 additions (late session): ts02 / ts03 / d25
# ---------------------------------------------------------------------------

# ts02: slot sums round to 2 then lift to exact integer cents, so the
# series mean divides identical exact numerators in both engines; the
# one order-dependent float fold (sd sum of squares) is ~1 ulp and z
# rounds to 3 before the breakpoint CASE.
ORACLES["ts02_paa_sax"] = """
WITH sums AS (
    SELECT user_id, hour(ts) AS slot, round(sum(value), 2) AS v
    FROM events WHERE user_id < 100 GROUP BY 1, 2
), users AS (
    SELECT user_id, count(*) AS slots_present FROM sums GROUP BY 1
), spine AS (
    SELECT user_id, range AS slot FROM users CROSS JOIN range(24)
), dense AS (
    SELECT s.user_id, s.slot,
           CAST(round(coalesce(v, 0.0) * 100) AS BIGINT) AS c
    FROM spine s LEFT JOIN sums
      ON sums.user_id = s.user_id AND sums.slot = s.slot
), stats AS (
    SELECT user_id, CAST(sum(c) AS DOUBLE) / 24.0 AS mean_c
    FROM dense GROUP BY 1
), sds AS (
    SELECT d.user_id,
           sqrt(sum((c - mean_c) * (c - mean_c)) / 24.0) AS sd_c
    FROM dense d JOIN stats USING (user_id)
    GROUP BY d.user_id, mean_c
), paa AS (
    SELECT user_id, slot // 4 AS seg, CAST(sum(c) AS DOUBLE) / 4.0 AS pc
    FROM dense GROUP BY 1, 2
), z AS (
    SELECT p.user_id, seg,
           CASE WHEN sd_c = 0 THEN 0.0
                ELSE round((pc - mean_c) / sd_c, 3) END AS zz
    FROM paa p JOIN stats USING (user_id) JOIN sds USING (user_id)
), sym AS (
    SELECT user_id, seg,
           CASE WHEN zz < -0.6745 THEN 'a'
                WHEN zz < 0.0 THEN 'b'
                WHEN zz < 0.6745 THEN 'c'
                ELSE 'd' END AS s
    FROM z
)
SELECT u.user_id,
       string_agg(s, '' ORDER BY seg) AS sax_word,
       u.slots_present
FROM sym JOIN users u USING (user_id)
GROUP BY u.user_id, u.slots_present
ORDER BY u.user_id
"""

# ts03: exact integer microseconds / cents make every bucket sum exact,
# so both engines divide identical numerators and all downstream
# doubles (areas included) are bit-identical; event_id totalizes the
# per-bucket argmax tiebreak.
ORACLES["ts03_lttb_downsample"] = """
WITH pts AS (
    SELECT user_id, event_id, epoch_us(ts) AS x,
           CAST(round(value * 100) AS BIGINT) AS yc, value,
           row_number() OVER
             (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
             AS rn,
           ntile(12) OVER
             (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
             AS nb
    FROM events WHERE user_id < 5
), b AS (
    SELECT user_id, nb, count(*) AS cnt,
           CAST(sum(x) AS DOUBLE) / count(*) AS bx,
           CAST(sum(yc) AS DOUBLE) / count(*) AS by_
    FROM pts GROUP BY 1, 2
), nbr AS (
    SELECT user_id, nb,
           lag(bx) OVER w AS bxp, lag(by_) OVER w AS byp,
           lead(bx) OVER w AS bxn, lead(by_) OVER w AS byn
    FROM b WINDOW w AS (PARTITION BY user_id ORDER BY nb)
), j AS (
    SELECT p.*, bxp, byp, bxn, byn,
           abs((bxp - bxn) * (p.yc - byp)
               - (bxp - p.x) * (byn - byp)) AS area,
           max(nb) OVER (PARTITION BY p.user_id) AS nbmax,
           max(rn) OVER (PARTITION BY p.user_id) AS cmax
    FROM pts p JOIN nbr USING (user_id, nb)
), interior AS (
    SELECT *, row_number() OVER (
        PARTITION BY user_id, nb ORDER BY area DESC, event_id) AS rk
    FROM j WHERE nb > 1 AND nb < nbmax
)
SELECT user_id, CAST(nb AS BIGINT) AS bucket, event_id,
       round(value, 2) AS val, round(area / 1e9, 3) AS area_g
FROM interior WHERE rk = 1
UNION ALL
SELECT user_id, CAST(nb AS BIGINT) AS bucket, event_id,
       round(value, 2) AS val, 0.0 AS area_g
FROM j WHERE (nb = 1 AND rn = 1) OR (nb = nbmax AND rn = cmax)
ORDER BY user_id, bucket
"""

# d25: the gear window is a fixed 8 chars, so h(i) is a pure function
# of chars i-7..i — position-wise computable in both engines with the
# same exact integer arithmetic (max intermediate < 2^51).
ORACLES["d25_cdc_chunk_dedup"] = """
WITH docs AS (
    SELECT doc_id, substr(text, 1, 512) AS head
    FROM documents WHERE length(text) > 0
), g AS (
    SELECT doc_id, head, length(head) AS n,
           list_transform(
               string_split(head, ''),
               c -> (unicode(c) * 2654435761) % 4294967296
           ) AS gv
    FROM docs
), b AS (
    SELECT doc_id, head, n,
           CASE WHEN n >= 8 THEN
               list_filter(
                   range(8, n + 1),
                   i -> (list_sum(list_transform(
                             range(0, 8),
                             j -> gv[i - j] * (1 << j)
                         )) % 4294967296) < 67108864
               )
           ELSE CAST([] AS BIGINT[]) END AS bpos
    FROM g
), c AS (
    SELECT doc_id, head,
           list_sort(list_distinct(list_concat(
               list_concat([CAST(0 AS BIGINT)], bpos),
               [CAST(n AS BIGINT)]
           ))) AS cuts
    FROM b
), ch AS (
    SELECT doc_id,
           unnest(list_transform(
               range(2, len(cuts) + 1),
               t -> substr(head, CAST(cuts[t - 1] + 1 AS INT),
                           CAST(cuts[t] - cuts[t - 1] AS INT))
           )) AS chunk
    FROM c
)
SELECT md5(chunk) AS chunk_hash,
       count(*) AS n_occ,
       count(DISTINCT doc_id) AS n_docs,
       min(length(chunk)) AS chunk_len
FROM ch
GROUP BY 1
ORDER BY n_occ DESC, chunk_hash
LIMIT 100
"""

# ts04: exact-cents lift makes the series mean an exact-integer
# division; covariance folds are the only order-dependent float sums
# (~1 ulp) and every ACF rounds to 3 before the greatest()/CASE
# dominant-lag rule, so both engines agree bit-for-bit on the output.
ORACLES["ts04_acf_seasonality"] = """
WITH sums AS (
    SELECT user_id, (day(ts) - 1) * 24 + hour(ts) AS slot,
           round(sum(value), 2) AS v
    FROM events WHERE user_id < 30 GROUP BY 1, 2
), users AS (
    SELECT DISTINCT user_id FROM sums
), spine AS (
    SELECT user_id, range AS slot FROM users CROSS JOIN range(720)
), dense AS (
    SELECT s.user_id, s.slot,
           CAST(round(coalesce(v, 0.0) * 100) AS BIGINT) AS cv
    FROM spine s LEFT JOIN sums
      ON sums.user_id = s.user_id AND sums.slot = s.slot
), mus AS (
    SELECT user_id, CAST(sum(cv) AS DOUBLE) / 720.0 AS mu
    FROM dense GROUP BY 1
), lagd AS (
    SELECT d.user_id, d.slot, d.cv, mu,
           lag(cv, 1) OVER w AS lag1,
           lag(cv, 2) OVER w AS lag2,
           lag(cv, 3) OVER w AS lag3,
           lag(cv, 6) OVER w AS lag6,
           lag(cv, 12) OVER w AS lag12,
           lag(cv, 24) OVER w AS lag24
    FROM dense d JOIN mus USING (user_id)
    WINDOW w AS (PARTITION BY d.user_id ORDER BY d.slot)
), agg AS (
    SELECT user_id,
        sum((cv - mu) * (cv - mu)) AS den,
        sum(CASE WHEN lag1 IS NOT NULL THEN (cv - mu) * (lag1 - mu) ELSE 0.0 END) AS num1,
        sum(CASE WHEN lag2 IS NOT NULL THEN (cv - mu) * (lag2 - mu) ELSE 0.0 END) AS num2,
        sum(CASE WHEN lag3 IS NOT NULL THEN (cv - mu) * (lag3 - mu) ELSE 0.0 END) AS num3,
        sum(CASE WHEN lag6 IS NOT NULL THEN (cv - mu) * (lag6 - mu) ELSE 0.0 END) AS num6,
        sum(CASE WHEN lag12 IS NOT NULL THEN (cv - mu) * (lag12 - mu) ELSE 0.0 END) AS num12,
        sum(CASE WHEN lag24 IS NOT NULL THEN (cv - mu) * (lag24 - mu) ELSE 0.0 END) AS num24
    FROM lagd GROUP BY 1
), r AS (
    SELECT user_id,
        round(coalesce(num1 / nullif(den, 0.0), 0.0), 3) + 0.0 AS r1,
        round(coalesce(num2 / nullif(den, 0.0), 0.0), 3) + 0.0 AS r2,
        round(coalesce(num3 / nullif(den, 0.0), 0.0), 3) + 0.0 AS r3,
        round(coalesce(num6 / nullif(den, 0.0), 0.0), 3) + 0.0 AS r6,
        round(coalesce(num12 / nullif(den, 0.0), 0.0), 3) + 0.0 AS r12,
        round(coalesce(num24 / nullif(den, 0.0), 0.0), 3) + 0.0 AS r24
    FROM agg
)
SELECT user_id, r1, r2, r3, r6, r12, r24,
       CASE WHEN r1 = g THEN 1 WHEN r2 = g THEN 2 WHEN r3 = g THEN 3 WHEN r6 = g THEN 6 WHEN r12 = g THEN 12 WHEN r24 = g THEN 24 END AS dominant_lag
FROM (SELECT *, greatest(r1, r2, r3, r6, r12, r24) AS g FROM r)
ORDER BY user_id
"""
