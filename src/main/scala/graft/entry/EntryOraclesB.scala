package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{GeminiFunctions, PromFunctions}
import graft.operators.{Fill, Meta, PromBinOp, PromRange, SeriesOps, Smoothing, Unnest, WindowedAgg}
import graft.pipeline.{AnomalyDetect, Dedup, Multimodal, Sampling, Similarity, TextAnalysis}

/** DuckDB oracle SQL, second half. Mechanical split of SparkEntry.scala. */
trait EntryOraclesB extends EntryBase {
  /** `dir` is the data dir the queries read (q132's output path). */
  protected def oracleSqlB(dir: String): Map[String, String] = Map(

    // rate() via the text frontend: q72's counter math with the -1ms
    // end-inclusive window assignment and per-(event_type,user) series.
    "q75_promql_rate" ->
      """WITH pts AS (
           SELECT event_type, CAST(user_id AS VARCHAR) AS "user", event_id,
             value, epoch_us(ts) AS tus, k * 3600000 AS eval_ms
           FROM (SELECT *, (epoch_us(ts) - 1000) // 1000 AS tms
                 FROM events WHERE event_type = 'error'),
             unnest(generate_series(tms // 3600000 + 1,
               (tms + 7200000) // 3600000)) AS t(k)),
         lagged AS (
           SELECT *, lag(value) OVER w AS pv
           FROM pts
           WINDOW w AS (PARTITION BY event_type, "user", eval_ms
                        ORDER BY tus, event_id)),
         agg AS (
           SELECT event_type, "user", eval_ms, count(*) AS n,
             min(tus) AS first_t, max(tus) AS last_t,
             first(value ORDER BY tus, event_id) AS first_v,
             last(value ORDER BY tus, event_id) AS last_v,
             CAST(sum(CAST(CASE WHEN value < pv THEN pv ELSE 0 END
               AS DECIMAL(18,6))) AS DOUBLE) AS reset_adj
           FROM lagged GROUP BY 1, 2, 3),
         m AS (
           SELECT *,
             (last_t - first_t)/1000000.0 AS sampled_s,
             (first_t - (eval_ms - 7200000)*1000)/1000000.0 AS dur_start0,
             (eval_ms*1000 - last_t)/1000000.0 AS dur_end,
             (last_t - first_t)/1000000.0/(n - 1) AS avg_dur,
             (last_v - first_v) + reset_adj AS raw_inc
           FROM agg WHERE n > 1 AND last_t <> first_t),
         m2 AS (
           SELECT *, avg_dur*1.1 AS thresh,
             CASE WHEN raw_inc > 0 AND first_v >= 0
                   AND sampled_s*(first_v/raw_inc) < dur_start0
                  THEN sampled_s*(first_v/raw_inc) ELSE dur_start0 END
               AS dur_start_c
           FROM m)
         SELECT event_type, "user", eval_ms,
           (raw_inc * ((sampled_s +
             (CASE WHEN dur_start_c >= thresh THEN avg_dur/2
                   ELSE dur_start_c END) +
             (CASE WHEN dur_end >= thresh THEN avg_dur/2
                   ELSE dur_end END)) / sampled_s)) / 7200.0 AS value
         FROM m2 ORDER BY "user", eval_ms""",

    "q76_promql_topk" ->
      """WITH iv AS (
           SELECT event_type, CAST(user_id AS VARCHAR) AS "user",
             k * 3600000 AS eval_ms,
             last(value ORDER BY epoch_us(ts), event_id) AS v
           FROM (SELECT *, (epoch_us(ts) - 1000) // 1000 AS tms FROM events),
             unnest(generate_series(tms // 3600000 + 1,
               (tms + 3600001) // 3600000)) AS t(k)
           GROUP BY 1, 2, 3)
         SELECT event_type, "user", eval_ms, CAST(v AS DOUBLE) AS value
         FROM (SELECT *, row_number() OVER (PARTITION BY eval_ms
             ORDER BY v DESC, event_type, "user") AS rk FROM iv)
         WHERE rk <= 2
         ORDER BY eval_ms, value DESC, event_type, "user"""",

    // Mirrors PromRange.counterRate step by step: same lag ordering (tus,
    // event_id), same DECIMAL reset sum, same left-assoc double expression
    // shapes — bit-exact across engines.
    "q72_prom_counter_rate" ->
      """WITH pts AS (
           SELECT event_type, event_id, value, epoch_us(ts) AS tus,
             unnest([epoch_ms(date_trunc('hour', ts)) + 3600000,
                     epoch_ms(date_trunc('hour', ts)) + 7200000]) AS eval_ms
           FROM events),
         lagged AS (
           SELECT *, lag(value) OVER w AS pv, lag(tus) OVER w AS pt
           FROM pts
           WINDOW w AS (PARTITION BY event_type, eval_ms
                        ORDER BY tus, event_id)),
         agg AS (
           SELECT event_type, eval_ms, count(*) AS n,
             min(tus) AS first_t, max(tus) AS last_t,
             first(value ORDER BY tus, event_id) AS first_v,
             last(value ORDER BY tus, event_id) AS last_v,
             CAST(sum(CAST(CASE WHEN value < pv THEN pv ELSE 0 END
               AS DECIMAL(18,6))) AS DOUBLE) AS reset_adj,
             last(pv ORDER BY tus, event_id) AS last_pv,
             last(pt ORDER BY tus, event_id) AS last_pt
           FROM lagged GROUP BY 1, 2),
         m AS (
           SELECT *,
             (last_t - first_t)/1000000.0 AS sampled_s,
             (first_t - (eval_ms - 7200000)*1000)/1000000.0 AS dur_start0,
             (eval_ms*1000 - last_t)/1000000.0 AS dur_end,
             (last_t - first_t)/1000000.0/(n - 1) AS avg_dur,
             (last_v - first_v) + reset_adj AS raw_inc
           FROM agg WHERE n > 1 AND last_t <> first_t),
         m2 AS (
           SELECT *, avg_dur*1.1 AS thresh,
             CASE WHEN raw_inc > 0 AND first_v >= 0
                   AND sampled_s*(first_v/raw_inc) < dur_start0
                  THEN sampled_s*(first_v/raw_inc) ELSE dur_start0 END
               AS dur_start_c
           FROM m),
         f AS (
           SELECT *,
             raw_inc * ((sampled_s +
               (CASE WHEN dur_start_c >= thresh THEN avg_dur/2
                     ELSE dur_start_c END) +
               (CASE WHEN dur_end >= thresh THEN avg_dur/2
                     ELSE dur_end END)) / sampled_s) AS increase,
             (last_v - first_v) * ((sampled_s +
               (CASE WHEN dur_start0 >= thresh THEN avg_dur/2
                     ELSE dur_start0 END) +
               (CASE WHEN dur_end >= thresh THEN avg_dur/2
                     ELSE dur_end END)) / sampled_s) AS delta
           FROM m2)
         SELECT event_type, eval_ms, n,
           increase / 7200.0 AS rate, increase, delta,
           (CASE WHEN last_v < last_pv THEN last_v
                 ELSE last_v - last_pv END) /
             ((last_t - last_pt)/1000000.0) AS irate,
           last_v - last_pv AS idelta
         FROM f ORDER BY event_type, eval_ms""",

    "q71_url_functions" ->
      """SELECT event_id,
         'https://h' || user_id || '.example.com/p/' || event_id ||
           '?k=' || (event_id % 7) AS url,
         'h' || user_id || '.example.com' AS host,
         '/p/' || event_id AS path,
         'https' AS proto,
         'k=' || (event_id % 7) AS query
         FROM events ORDER BY event_id""",

    "q69_multi_sort_offset" ->
      """SELECT o_orderpriority, o_orderstatus, o_orderkey, o_totalprice
         FROM orders
         ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC
         LIMIT 100 OFFSET 50""",

    "q70_conditional_funcs" ->
      """SELECT l_orderkey, l_linenumber,
         CASE WHEN l_discount > 0.05 THEN 'HI' ELSE 'LO' END AS disc_band,
         greatest(l_quantity, l_discount * 100) AS rmax,
         least(greatest(l_quantity, 10.0), 40.0) AS clamped,
         CAST(sign(l_discount - 0.05) AS BIGINT) AS sgn
         FROM lineitem WHERE l_orderkey <= 500
         ORDER BY l_orderkey, l_linenumber""",

    "q68_prom_binop" ->
      """SELECT e.h, CAST(e.value AS DOUBLE) / CAST(t.value AS DOUBLE)
           AS error_rate
         FROM (SELECT epoch_ms(date_trunc('hour', ts)) AS h,
             CAST(count(*) AS DOUBLE) AS value FROM events
             WHERE event_type = 'error' GROUP BY 1) e
         JOIN (SELECT epoch_ms(date_trunc('hour', ts)) AS h,
             CAST(count(*) AS DOUBLE) AS value FROM events GROUP BY 1) t
           ON e.h = t.h
         ORDER BY e.h""",

    "q58_prom_over_time" ->
      """SELECT event_type, eval_ms, count(value) AS count_ot,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_ot,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value)
           AS avg_ot,
         min(value) AS min_ot, max(value) AS max_ot,
         arg_max(value, tus) - arg_min(value, tus) AS delta,
         CASE WHEN max(tus) <> min(tus) THEN
           (arg_max(value, tus) - arg_min(value, tus)) /
           ((max(tus) - min(tus)) / 1000000.0) END AS rate
         FROM (SELECT event_type, value, epoch_us(ts) AS tus,
             unnest([epoch_ms(date_trunc('hour', ts)) + 3600000,
                     epoch_ms(date_trunc('hour', ts)) + 7200000]) AS eval_ms
           FROM events)
         GROUP BY event_type, eval_ms ORDER BY event_type, eval_ms""",

    "q60_chunking" ->
      """WITH d AS (SELECT doc_id,
           regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         c AS (SELECT doc_id, toks,
           unnest(range(0, greatest(
             CAST(ceil((len(toks) - 10) / 30.0) AS INT), 1))) AS chunk_idx
           FROM d),
         chunks AS (SELECT doc_id, chunk_idx,
           array_to_string(list_slice(toks, chunk_idx * 30 + 1,
             chunk_idx * 30 + 40), ' ') AS chunk_text FROM c)
         SELECT doc_id, chunk_idx,
           CAST(length(chunk_text) AS BIGINT) AS chunk_chars,
           CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS chunk_tokens
         FROM chunks ORDER BY doc_id, chunk_idx""",

    "q61_pii_redaction" ->
      """SELECT source, count(*) AS n_docs,
         CAST(sum(CASE WHEN red <> text THEN 1 ELSE 0 END) AS BIGINT)
           AS n_redacted,
         CAST(sum(length(text)) AS BIGINT) AS chars_in,
         CAST(sum(length(red)) AS BIGINT) AS chars_out
         FROM (SELECT source, text,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g'),
             '[0-9]{6,}', '[NUM]', 'g') AS red
           FROM documents)
         GROUP BY source ORDER BY source""",

    "q62_quality_filter" ->
      """WITH feats AS (SELECT lang,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
           len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             t -> t IN ('the','a','an','and','or','of','to','in','is','on',
                        'for','with','as','at','by'))) AS n_stop,
           length(text) AS n_chars FROM documents),
         flags AS (SELECT lang,
           (n_tokens BETWEEN 20 AND 100000)
             AND (n_stop / CAST(n_tokens AS DOUBLE)) >= 0.01
             AND (n_punct / greatest(CAST(n_chars AS DOUBLE), 1.0)) <= 0.2
             AS keep FROM feats)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
             AS retention
         FROM flags GROUP BY lang ORDER BY lang""",

    // Same 2h-range/1h-step window assignment as q58 (each point lands in
    // the two windows ending on the next two hour marks); changes/resets
    // are consecutive-pair folds over (t, v)-sorted samples, which SQL
    // expresses as lag() per (series, window).
    "q59_prom_changes_resets" ->
      """WITH pts AS (SELECT event_type, value, epoch_us(ts) AS tus,
             unnest([epoch_ms(date_trunc('hour', ts)) + 3600000,
                     epoch_ms(date_trunc('hour', ts)) + 7200000]) AS eval_ms
           FROM events),
         seq AS (SELECT event_type, eval_ms, value AS v,
             lag(value) OVER (PARTITION BY event_type, eval_ms
                              ORDER BY tus, value) AS pv
           FROM pts)
         SELECT event_type, eval_ms,
           CAST(sum(CASE WHEN pv IS NOT NULL AND v <> pv
                    THEN 1 ELSE 0 END) AS BIGINT) AS changes,
           CAST(sum(CASE WHEN pv IS NOT NULL AND v < pv
                    THEN 1 ELSE 0 END) AS BIGINT) AS resets
         FROM seq GROUP BY event_type, eval_ms
         ORDER BY event_type, eval_ms""",

    // Rolling z-score: mean/stddev over the 20 points BEFORE each point
    // (ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING), z floored at sd=1e-9,
    // undefined (<3-point window) → 0. max_abs_z rounded to 6dp absorbs
    // the engines' different summation orders inside a window frame.
    "q63_anomaly_detect" ->
      """WITH pts AS (SELECT user_id, epoch_us(ts) AS t,
             CAST(value AS DOUBLE) AS v FROM events
           WHERE value IS NOT NULL),
         w AS (SELECT user_id, v,
             count(v) OVER win AS cnt,
             avg(v) OVER win AS m,
             stddev_samp(v) OVER win AS sd
           FROM pts
           WINDOW win AS (PARTITION BY user_id ORDER BY t, v
                          ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
         z AS (SELECT user_id,
             CASE WHEN cnt < 3 THEN 0.0
                  ELSE (v - m) / greatest(sd, 1e-9) END AS z
           FROM w)
         SELECT user_id, count(*) AS n_points,
           CAST(sum(CASE WHEN round(abs(z), 9) > 2.5 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_anomalies,
           round(max(abs(z)), 6) AS max_abs_z
         FROM z GROUP BY user_id ORDER BY user_id""",

    // scalar(sum(events)): one value per step, joined on eval_ms alone.
    "q89_promql_scalar" ->
      """WITH iv AS (
           SELECT event_type, CAST(user_id AS VARCHAR) AS "user",
             k * 3600000 AS eval_ms,
             last(value ORDER BY epoch_us(ts), event_id) AS v
           FROM (SELECT *, (epoch_us(ts) - 1000) // 1000 AS tms FROM events),
             unnest(generate_series(tms // 3600000 + 1,
               (tms + 3600001) // 3600000)) AS t(k)
           GROUP BY 1, 2, 3),
         s AS (
           SELECT eval_ms,
             CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) AS sv
           FROM iv GROUP BY 1)
         SELECT iv.event_type, iv."user", iv.eval_ms,
           CAST(iv.v AS DOUBLE) / sv AS value
         FROM iv JOIN s USING (eval_ms)
         ORDER BY 1, 2, 3""",

    // time() = eval_ms / 1000.0 — identical double division both engines.
    "q90_promql_time" ->
      """WITH iv AS (
           SELECT event_type, CAST(user_id AS VARCHAR) AS usr,
             k * 3600000 AS eval_ms,
             last(value ORDER BY epoch_us(ts), event_id) AS v
           FROM (SELECT *, (epoch_us(ts) - 1000) // 1000 AS tms FROM events),
             unnest(generate_series(tms // 3600000 + 1,
               (tms + 3600001) // 3600000)) AS t(k)
           GROUP BY 1, 2, 3)
         SELECT event_type, eval_ms,
           CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) - eval_ms / 1000.0
             AS value
         FROM iv GROUP BY event_type, eval_ms ORDER BY 1, 2""",

    // @: latest sample per series in [T-1d, T] at T=2024-01-15T00:00Z,
    // replicated across the metric-extent eval grid, then summed per type.
    "q91_promql_at" ->
      """WITH pinned AS (
           SELECT event_type, CAST(user_id AS VARCHAR) AS "user",
             last(value ORDER BY epoch_us(ts), event_id) AS v
           FROM events
           WHERE epoch_us(ts) >= (1705276800000 - 86400000) * 1000
             AND epoch_us(ts) <= 1705276800000 * 1000
           GROUP BY 1, 2),
         bounds AS (
           SELECT (epoch_ms(min(ts)) + 3599999) // 3600000 AS kmin,
                  (epoch_ms(max(ts)) + 3599999) // 3600000 AS kmax
           FROM events),
         grid AS (
           SELECT unnest(generate_series(kmin, kmax)) * 3600000 AS eval_ms
           FROM bounds)
         SELECT p.event_type, g.eval_ms,
           CAST(sum(CAST(p.v AS DECIMAL(28,10))) AS DOUBLE) AS value
         FROM pinned p CROSS JOIN grid g
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // fill(previous) on a zoned, offset bucket grid: buckets start at
    // 04:00 America/New_York (fixed UTC−5 across the Jan-2024 data), the
    // spine is uniform in LOCAL ms clamped to the data extent, LOCF per
    // event_type, boundaries re-based to absolute epochs (+5h).
    "q92_influxql_fill_tz" ->
      """WITH pts AS (SELECT event_type,
             epoch_ms(ts - INTERVAL 5 HOUR) AS lms, value FROM events),
         b AS (SELECT event_type,
             ((lms - 14400000) // 86400000) * 86400000 + 14400000 AS wstart,
             count(value) AS cnt
           FROM pts GROUP BY 1, 2),
         ext AS (SELECT
             ((min(lms) - 14400000) // 86400000) * 86400000 + 14400000 AS lo,
             ((max(lms) - 14400000) // 86400000) * 86400000 + 14400000 AS hi
           FROM pts),
         spine AS (SELECT et.event_type, gs.g AS wstart
           FROM (SELECT DISTINCT event_type FROM b) et
           CROSS JOIN (SELECT unnest(generate_series(lo, hi, 86400000)) AS g
                       FROM ext) gs),
         f AS (SELECT s.event_type, s.wstart,
             last_value(b.cnt IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.wstart) AS count
           FROM spine s LEFT JOIN b
             ON s.event_type = b.event_type AND s.wstart = b.wstart)
         SELECT event_type, wstart + 18000000 AS time, count
         FROM f ORDER BY event_type, time""",

    // word-3-gram sets via list comprehension; same lowercased \s+
    // tokenization and |∩|/|∪| arithmetic as Dedup.shingles/jaccardVerify
    "q93_ngram_jaccard" ->
      """WITH d AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+')
             AS toks
           FROM documents),
         g AS (
           SELECT doc_id, list_distinct(
             [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
              for i in range(1, len(toks)-1)]) AS grams
           FROM d)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
             (len(a.grams) + len(b.grams)
              - len(list_intersect(a.grams, b.grams))) AS jaccard
         FROM g a JOIN g b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
             (len(a.grams) + len(b.grams)
              - len(list_intersect(a.grams, b.grams))) >= 0.8
         ORDER BY id_a, id_b""",

    // the oracle counts distinct \s+-normalized token streams — what the
    // rolling-hash fingerprint must agree with collision-free
    "q94_fingerprint_dedup" ->
      """WITH d AS (
           SELECT lang, text FROM documents
           UNION ALL
           SELECT lang, replace(text, ' ', '  ') FROM documents)
         SELECT lang, count(*) AS n_docs,
           count(DISTINCT array_to_string(
             regexp_split_to_array(trim(text), '\s+'), ' ')) AS n_unique
         FROM d GROUP BY lang ORDER BY lang""",

    "q97_influxql_math" ->
      """SELECT event_type, count(abs(value)) AS n_abs,
         max(sqrt(abs(value))) AS mx_sqrt,
         min(round(value)) AS mn_round,
         sum(floor(value) + ceil(value)) AS s_fc,
         abs(min(value)) AS abs_min
         FROM events GROUP BY event_type ORDER BY event_type""",

    // variance via the same two-pass algebra as the engine (mean join,
    // then Σ(x−μ)²/n) — DuckDB's streaming var_pop lands ~1e-9 away,
    // which straddles the 9dp rounding boundary
    "q96_prom_stats_over_time" ->
      """WITH w AS (SELECT event_type, value,
             unnest([epoch_ms(date_trunc('hour', ts)) + 3600000,
                     epoch_ms(date_trunc('hour', ts)) + 7200000]) AS eval_ms
           FROM events WHERE value IS NOT NULL),
         s AS (SELECT event_type, eval_ms, sum(value) / count(*) AS mu,
             count(*) AS n
           FROM w GROUP BY 1, 2)
         SELECT w.event_type, w.eval_ms,
           round(sqrt(sum((w.value - s.mu) * (w.value - s.mu))
             / any_value(s.n)), 9) AS stddev_ot,
           round(mad(w.value), 9) AS mad_ot,
           round(quantile_cont(w.value, 0.9), 9) AS quantile_ot
         FROM w JOIN s USING (event_type, eval_ms)
         GROUP BY w.event_type, w.eval_ms
         ORDER BY w.event_type, w.eval_ms""",

    // min-hop reachability as a recursive CTE (UNION dedups per level,
    // so paths never multiply)
    "q95_graph_hops" ->
      """WITH RECURSIVE e AS (
           SELECT l_partkey AS src, l_suppkey + 10000000 AS dst
           FROM lineitem
           UNION
           SELECT l_suppkey + 10000000, l_partkey FROM lineitem),
         r AS (
           SELECT CAST(1 AS BIGINT) AS node_id, 0 AS hop
           UNION
           SELECT e.dst, r.hop + 1 FROM r JOIN e ON e.src = r.node_id
           WHERE r.hop < 3)
         SELECT node_id, min(hop) AS hop FROM r
         GROUP BY node_id ORDER BY hop, node_id""",

    // same closed-form index sums as the engine (x = 0,1,2… in
    // (ts, value) order); identical rows are interchangeable so tie
    // order cannot shift the sums
    "q98_regr_slope" ->
      """WITH s AS (
           SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY epoch_us(ts), value) - 1 AS x
           FROM events)
         SELECT event_type,
           round((count(*) * sum(value * x) - sum(x) * sum(value)) /
                 (count(*) * sum(x * x) - sum(x) * sum(x)), 6) AS slope
         FROM s GROUP BY event_type ORDER BY event_type""",

    // value is a pure function of eval_ms (dow Sunday=0 in both
    // engines); rows exist wherever the summed series has a step
    "q99_prom_date_fns" ->
      """WITH iv AS (
           SELECT event_type, k * 3600000 AS eval_ms
           FROM (SELECT *, (epoch_us(ts) - 1000) // 1000 AS tms FROM events),
             unnest(generate_series(tms // 3600000 + 1,
               (tms + 3600001) // 3600000)) AS t(k)
           GROUP BY 1, 2)
         SELECT event_type, eval_ms,
           CAST(dayofweek(to_timestamp(eval_ms // 1000)) * 100 +
                hour(to_timestamp(eval_ms // 1000)) AS DOUBLE) AS value
         FROM iv ORDER BY 1, 2""",

    "q100_ip_subnet_range" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
         b AS (SELECT user_id,
             10 * 16777216 + (user_id % 256) * 65536 +
               ((user_id * 7) % 256) * 256 + ((user_id * 13) % 256) AS ipn,
             8 + (user_id % 17) AS p
           FROM u),
         m AS (SELECT user_id, ipn, p,
             (ipn >> (32 - p)) << (32 - p) AS lo,
             ((ipn >> (32 - p)) << (32 - p)) + (1::BIGINT << (32 - p)) - 1
               AS hi
           FROM b)
         SELECT user_id,
           '10.' || (user_id % 256) || '.' || ((user_id * 7) % 256) || '.'
             || ((user_id * 13) % 256) || '/' || p AS cidr,
           '["' || (lo // 16777216) || '.' || ((lo // 65536) % 256) || '.'
             || ((lo // 256) % 256) || '.' || (lo % 256) || '", "'
             || (hi // 16777216) || '.' || ((hi // 65536) % 256) || '.'
             || ((hi // 256) % 256) || '.' || (hi % 256) || '"]' AS range
         FROM m ORDER BY user_id""",

    "q101_show_cardinality" ->
      """SELECT CAST(count(DISTINCT CAST(event_type AS VARCHAR)) AS BIGINT)
           AS count FROM events""",

    "q103_graph_filtered" ->
      """WITH RECURSIVE allowed AS (
           SELECT p_partkey AS id FROM part WHERE p_size < 25
           UNION ALL SELECT s_suppkey + 10000000 FROM supplier),
         e0 AS (
           SELECT l_partkey AS src, l_suppkey + 10000000 AS dst
           FROM lineitem WHERE l_quantity > 25
           UNION
           SELECT l_suppkey + 10000000, l_partkey
           FROM lineitem WHERE l_quantity > 25),
         e AS (
           SELECT src, dst FROM e0
           WHERE src IN (SELECT id FROM allowed)
             AND dst IN (SELECT id FROM allowed)),
         r AS (
           SELECT CAST(1 AS BIGINT) AS node_id, 0 AS hop
           UNION
           SELECT e.dst, r.hop + 1 FROM r JOIN e ON e.src = r.node_id
           WHERE r.hop < 3)
         SELECT node_id, min(hop) AS hop FROM r
         GROUP BY node_id ORDER BY hop, node_id""",

    "q102_inc_agg" ->
      """SELECT event_type, epoch_ms(date_trunc('day', ts)) AS wstart_ms,
         count(value) AS cnt,
         CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
         min(value) AS mn, max(value) AS mx
         FROM events GROUP BY event_type, date_trunc('day', ts)
         ORDER BY event_type, wstart_ms""",

    // rca fault demarcation as a recursive fixpoint: e2 = <=2-hop pairs
    // over the rank-dense user tree, exp = correlated entities reachable
    // from the core through e2 steps, included = exp + its e2 fringe.
    // (Explicit DISTINCT wrappers: inside a WITH RECURSIVE block DuckDB
    // does not bag-dedup plain UNIONs of non-recursive CTEs.)
    "q104_rca_demarcation" ->
      """WITH RECURSIVE
         u AS (SELECT DISTINCT user_id FROM events),
         ranked AS (SELECT user_id,
             row_number() OVER (ORDER BY user_id) AS rank FROM u),
         e0 AS (SELECT 'u' || p.user_id AS src, 'u' || c.user_id AS dst
                FROM ranked c JOIN ranked p ON p.rank = c.rank // 2
                WHERE c.rank > 1),
         e AS (SELECT DISTINCT * FROM (
                 SELECT src, dst FROM e0
                 UNION ALL SELECT dst, src FROM e0)),
         e2 AS (SELECT DISTINCT * FROM (
                 SELECT src, dst FROM e
                 UNION ALL
                 SELECT a.src, b.dst FROM e a JOIN e b ON a.dst = b.src)),
         ranked_ev AS (
           SELECT user_id, epoch_us(ts) // 1000 AS tms,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS cnt
           FROM events),
         med AS (SELECT user_id, tms FROM ranked_ev
                 WHERE rn = (cnt + 1) // 2),
         corets AS (SELECT tms FROM med WHERE user_id = 0),
         corr AS (SELECT DISTINCT 'u' || m.user_id AS id
                  FROM med m JOIN corets c
                    ON abs(m.tms - c.tms) <= 1800000),
         exp AS (
           SELECT 'u0' AS id
           UNION
           SELECT c.id FROM exp x
             JOIN e2 ON e2.src = x.id
             JOIN corr c ON c.id = e2.dst),
         included AS (SELECT DISTINCT id FROM (
           SELECT id FROM exp
           UNION ALL
           SELECT e2.dst FROM e2 JOIN exp x ON e2.src = x.id))
         SELECT i.id AS entity_id,
           CASE WHEN i.id = 'u0' OR i.id IN (SELECT id FROM corr)
             THEN 1 ELSE 0 END AS correlated,
           CASE WHEN i.id IN (SELECT id FROM exp)
             THEN 1 ELSE 0 END AS expanded
         FROM included i ORDER BY entity_id""",

    // transitive closure of the q93 pair list via recursive CTE: the
    // component label is the min reachable doc_id, exactly what the
    // star-contraction computes.
    "q105_neardup_components" ->
      """WITH RECURSIVE d AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+')
             AS toks
           FROM documents),
         g AS MATERIALIZED (
           SELECT doc_id, list_distinct(
             [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
              for i in range(1, len(toks)-1)]) AS grams
           FROM d),
         p AS MATERIALIZED (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
               (len(a.grams) + len(b.grams)
                - len(list_intersect(a.grams, b.grams))) >= 0.8),
         e AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p
               UNION SELECT id_b, id_a FROM p),
         reach(id, lbl) AS (
           SELECT u, u FROM e
           UNION
           SELECT r.id, e.v FROM reach r JOIN e ON e.u = r.lbl)
         SELECT id AS doc_id, min(lbl) AS component
         FROM reach GROUP BY id ORDER BY doc_id""",

    "q106_dedup_keep_best" ->
      """WITH RECURSIVE d AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+')
             AS toks
           FROM documents),
         g AS MATERIALIZED (
           SELECT doc_id, list_distinct(
             [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
              for i in range(1, len(toks)-1)]) AS grams
           FROM d),
         p AS MATERIALIZED (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
               (len(a.grams) + len(b.grams)
                - len(list_intersect(a.grams, b.grams))) >= 0.8),
         e AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p
               UNION SELECT id_b, id_a FROM p),
         reach(id, lbl) AS (
           SELECT u, u FROM e
           UNION
           SELECT r.id, e.v FROM reach r JOIN e ON e.u = r.lbl),
         comp AS (SELECT id, min(lbl) AS component
                  FROM reach GROUP BY id),
         docs2 AS (
           SELECT doc_id, COALESCE(c.component, doc_id) AS cluster,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
           FROM documents LEFT JOIN comp c ON c.id = doc_id)
         SELECT cluster, keep_id, n_members FROM (
           SELECT cluster, doc_id AS keep_id,
             row_number() OVER (PARTITION BY cluster
               ORDER BY n_tokens DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY cluster) AS n_members
           FROM docs2)
         WHERE rn = 1 ORDER BY cluster""",

    // same results, different shape: the oracle counts bigrams via
    // unnest+group (fine at oracle scale), the engine via a per-row
    // sorted-run fold (shuffle-free at corpus scale)
    "q107_repetition_signals" ->
      """WITH d AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
           FROM documents),
         b AS (
           SELECT doc_id, toks,
             [toks[i] || ' ' || toks[i+1]
              for i in range(1, len(toks))] AS bg
           FROM d),
         bc AS (
           SELECT doc_id, g, count(*) AS c
           FROM b, unnest(bg) AS t(g) GROUP BY 1, 2),
         top AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot
                 FROM bc GROUP BY 1)
         SELECT b.doc_id AS doc_id,
           round(1 - len(list_distinct(toks))/CAST(len(toks) AS DOUBLE), 6)
             AS dup_word_frac,
           round(COALESCE(mx/CAST(tot AS DOUBLE), 0), 6)
             AS top_bigram_frac
         FROM b LEFT JOIN top ON top.doc_id = b.doc_id
         ORDER BY doc_id""",

    // the composed pass, stage by stage: q62's quality flags → window
    // keep-min-id per normalized token stream (≡ the engine's fingerprint
    // classes, q94) → the q105 closure restricted to survivors → q106's
    // keep-best pick → q108's gram-intersection contamination → q60's
    // chunk-count formula. Exercises that the stages agree END TO END.
    "q110_curation_e2e" ->
      """WITH RECURSIVE feats AS (
           SELECT doc_id, lang, text,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
             len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'),
               t -> t IN ('the','a','an','and','or','of','to','in','is',
                          'on','for','with','as','at','by'))) AS n_stop,
             length(text) AS n_chars
           FROM documents),
         q AS (
           SELECT * FROM feats
           WHERE (n_tokens BETWEEN 20 AND 100000)
             AND (n_stop / CAST(n_tokens AS DOUBLE)) >= 0.01
             AND (n_punct / greatest(CAST(n_chars AS DOUBLE), 1.0)) <= 0.2),
         exact AS MATERIALIZED (
           SELECT * FROM (
             SELECT *, min(doc_id) OVER (
               PARTITION BY array_to_string(toks, ' ')) AS _k
             FROM q)
           WHERE doc_id = _k),
         g AS MATERIALIZED (
           SELECT doc_id, list_distinct(
             [lt[i] || ' ' || lt[i+1] || ' ' || lt[i+2]
              for i in range(1, len(lt)-1)]) AS grams
           FROM (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS lt
             FROM exact)),
         p AS MATERIALIZED (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
               (len(a.grams) + len(b.grams)
                - len(list_intersect(a.grams, b.grams))) >= 0.8),
         e AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p
               UNION SELECT id_b, id_a FROM p),
         reach(id, lbl) AS (
           SELECT u, u FROM e
           UNION
           SELECT r.id, e.v FROM reach r JOIN e ON e.u = r.lbl),
         comp AS (SELECT id, min(lbl) AS component
                  FROM reach GROUP BY id),
         clust AS (
           SELECT ex.*, COALESCE(c.component, ex.doc_id) AS cluster
           FROM exact ex LEFT JOIN comp c ON c.id = ex.doc_id),
         keepb AS MATERIALIZED (
           SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY cluster
               ORDER BY n_tokens DESC, doc_id) AS _rn
             FROM clust)
           WHERE _rn = 1),
         bg AS MATERIALIZED (
           SELECT DISTINCT gram FROM (
             SELECT unnest(list_distinct(
               [lt[i] || ' ' || lt[i+1] || ' ' || lt[i+2]
                for i in range(1, len(lt)-1)])) AS gram
             FROM (SELECT
               regexp_split_to_array(lower(trim(text)), '\s+') AS lt
               FROM documents WHERE doc_id % 50 = 0))),
         contam AS (
           SELECT DISTINCT k.doc_id
           FROM keepb k JOIN g ON g.doc_id = k.doc_id,
             unnest(g.grams) AS t(gram)
           WHERE gram IN (SELECT gram FROM bg)),
         clean AS (
           SELECT * FROM keepb
           WHERE doc_id % 50 <> 0
             AND doc_id NOT IN (SELECT doc_id FROM contam))
         SELECT lang, count(*) AS n_docs,
           CAST(sum(greatest(
             CAST(ceil((n_tokens - 10) / 30.0) AS BIGINT), 1)) AS BIGINT)
             AS n_chunks
         FROM clean GROUP BY lang ORDER BY lang""",

    "q108_decontamination" ->
      """WITH d AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+')
             AS toks
           FROM documents),
         g AS (
           SELECT doc_id, list_distinct(
             [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
              for i in range(1, len(toks)-1)]) AS grams
           FROM d),
         b AS (SELECT * FROM g WHERE doc_id % 50 = 0
                 AND doc_id < 100000000),
         c AS (SELECT * FROM g WHERE doc_id % 50 <> 0
                 OR doc_id >= 100000000)
         SELECT c.doc_id AS doc_id, count(DISTINCT b.doc_id) AS n_bench_hits
         FROM c JOIN b ON len(list_intersect(c.grams, b.grams)) > 0
         GROUP BY 1 ORDER BY 1""",

    "q111_difference_modes" ->
      s"""WITH d AS (
           SELECT user_id, event_id,
             lag(value) OVER ($evWin) - value AS diff_front,
             abs(value - lag(value) OVER ($evWin)) AS diff_abs
           FROM events)
         SELECT user_id, event_id, diff_front, diff_abs FROM d
         WHERE diff_front IS NOT NULL
         ORDER BY user_id, event_id""",

    "q113_incremental_dedup" ->
      """WITH f AS (
           SELECT doc_id, array_to_string(
             regexp_split_to_array(trim(text), '\s+'), ' ') AS fp
           FROM documents),
         prior AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 = 0),
         keep AS (SELECT fp, min(doc_id) AS doc_id FROM f
                  WHERE doc_id % 3 <> 0 GROUP BY fp)
         SELECT doc_id FROM keep
         WHERE fp NOT IN (SELECT fp FROM prior)
         ORDER BY doc_id""",

    "q114_token_budget_sample" ->
      """WITH d AS (
           SELECT lang, doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
             ((doc_id % 2147483647) * 2654435761) % 2147483647 AS rk
           FROM documents),
         c AS (
           SELECT lang, doc_id, n_tok,
             sum(n_tok) OVER (PARTITION BY lang ORDER BY rk, doc_id) AS cum
           FROM d)
         SELECT lang, doc_id, n_tok FROM c WHERE cum <= 2000
         ORDER BY lang, doc_id""",

    "q112_compare" ->
      """WITH b AS (
           SELECT epoch_ms(date_trunc('hour', ts)) AS tm,
             count(value) AS c
           FROM events WHERE event_type = 'click' GROUP BY 1)
         SELECT COALESCE(a.tm, p.tm + 3600000) AS time,
           a.c AS count1, p.c AS count2,
           a.c::DOUBLE / p.c::DOUBLE AS ratio
         FROM b a FULL OUTER JOIN b p ON a.tm = p.tm + 3600000
         ORDER BY time""",

    "q115_logpipe" ->
      """WITH e AS (
           SELECT lang, n_chars,
             regexp_extract(text, '([a-z]+)le', 1) AS xle
           FROM documents WHERE contains(text, 'the'))
         SELECT lang, count(*) AS n_docs, count(DISTINCT xle) AS n_ing
         FROM e
         WHERE contains(xle, 'b') AND n_chars >= 100 AND n_chars < 400
         GROUP BY lang ORDER BY lang""",

    "q116_substring_dedup" ->
      """WITH d AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
           FROM documents),
         g AS (
           SELECT doc_id, array_to_string(tk[p:p+7], ' ') AS gram
           FROM d, LATERAL unnest(generate_series(1, len(tk) - 7)) AS t(p)
           WHERE len(tk) >= 8),
         dup AS (
           SELECT gram FROM g GROUP BY gram
           HAVING count(DISTINCT doc_id) > 1)
         SELECT doc_id, count(*) AS n_dup_grams
         FROM g WHERE gram IN (SELECT gram FROM dup)
         GROUP BY doc_id ORDER BY doc_id""",

    "q117_sequence_pack" ->
      """WITH d AS (
           SELECT doc_id, doc_id % 32 AS bucket,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
           FROM documents),
         c AS (
           SELECT doc_id, bucket, n_tok,
             COALESCE(sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           FROM d)
         SELECT doc_id, bucket, (off // 512)::BIGINT AS seq_id,
           (off % 512)::BIGINT AS seq_off, n_tok
         FROM c ORDER BY doc_id""",

    "q118_temperature_mix" ->
      """WITH c AS (
           SELECT lang, count(*) AS n_orig FROM documents GROUP BY lang),
         r AS (
           SELECT lang, n_orig,
             pow(n_orig::DOUBLE / sum(n_orig) OVER (), 0.5) AS pa,
             sum(n_orig) OVER () AS tot
           FROM c),
         r2 AS (
           SELECT lang, n_orig,
             least(1.0, (pa / sum(pa) OVER ()) * tot / n_orig) AS rate
           FROM r)
         SELECT d.lang, max(r2.n_orig) AS n_orig, count(*) AS n_sampled
         FROM documents d JOIN r2 ON d.lang = r2.lang
         WHERE (((d.doc_id % 2147483647) * 2654435761) % 2147483647)::DOUBLE
           / 2147483647.0 < r2.rate
         GROUP BY d.lang ORDER BY d.lang""",

    // q119_semdedup: no SQL oracle (k-means assignments); exact per-
    // cluster keep-rule replay + clustering coherence in tools/oracle.py.

    "q120_dsir_importance" ->
      """WITH toks AS (
           SELECT doc_id, lang = 'en' AS tgt,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           FROM documents),
         w AS (
           SELECT term, count(*) AS alln,
             sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS t
           FROM toks GROUP BY term),
         v AS (SELECT count(*) AS v FROM w),
         wt AS (
           SELECT term,
             CAST(round(1000000.0 * (t + 1) / (alln + v.v)) AS BIGINT) AS w
           FROM w, v)
         SELECT doc_id, count(*) AS n_tok, CAST(sum(wt.w) AS BIGINT) AS score
         FROM toks JOIN wt USING (term)
         GROUP BY doc_id ORDER BY doc_id""",

    "q121_bm25_topk" -> (bm25OracleSql(
      corpusWhere = "TRUE",
      queryTermsCte = """qt AS (
           SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
             unnest(regexp_split_to_array(trim(lower(qtext)), '\s+')) AS term
           FROM (VALUES (0, 'table scan fast'), (1, 'window agg stream'),
             (2, 'customer order join'), (3, 'vector data batch slow'))
             AS q(query_id, qtext))""") +
      """ SELECT query_id, doc_id, rank, score FROM ranked
          WHERE rank <= 10 ORDER BY query_id, rank"""),

    "q122_hybrid_rrf" -> {
      def dd(a: String, b: String) =
        s"""list_sum(list_transform(range(1, 65),
           i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)))"""
      bm25OracleSql(
        corpusWhere = "doc_id >= 4",
        queryTermsCte = """qt AS (
           SELECT DISTINCT doc_id AS query_id, unnest(regexp_split_to_array(
             trim(lower(text)), '\s+')) AS term
           FROM documents WHERE doc_id < 4)""") +
      s""", lex AS (
           SELECT query_id, doc_id, rank FROM ranked WHERE rank <= 10),
         dsc AS (
           SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
             ${dd("q", "c")} / (sqrt(${dd("q", "q")}) * sqrt(${dd("c", "c")}))
               AS cosraw
           FROM embeddings q, embeddings c
           WHERE q.vec_id < 4 AND c.vec_id >= 4),
         dense AS (
           SELECT query_id, doc_id, rank FROM (
             SELECT query_id, doc_id, row_number() OVER (
               PARTITION BY query_id ORDER BY cosraw DESC, doc_id ASC)
               AS rank
             FROM dsc) WHERE rank <= 10),
         fused AS (
           SELECT COALESCE(l.query_id, d.query_id) AS query_id,
             COALESCE(l.doc_id, d.doc_id) AS doc_id,
             COALESCE(1.0 / (60.0 + l.rank), 0.0) +
               COALESCE(1.0 / (60.0 + d.rank), 0.0) AS rrf
           FROM lex l FULL OUTER JOIN dense d
             ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
         SELECT query_id, doc_id, rank, round(rrf, 6) AS rrf FROM (
           SELECT query_id, doc_id, rrf, row_number() OVER (
             PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rank
           FROM fused) WHERE rank <= 10 ORDER BY query_id, rank"""
    },

    "q123_bigram_lm" ->
      """WITH tk AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
             AS tk
           FROM documents WHERE len(regexp_split_to_array(
             trim(lower(text)), '\s+')) >= 2),
         bigrams AS (
           SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
           FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
                 FROM tk)),
         c12 AS (
           SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY w1, w2),
         c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1),
         v AS (SELECT count(DISTINCT t) AS v FROM (
           SELECT w1 AS t FROM c12 UNION ALL SELECT w2 FROM c12)),
         wt AS (
           SELECT c12.w1, c12.w2,
             CAST(round(1000000.0 * (c12 + 1) / (c1.c1 + v.v)) AS BIGINT)
               AS w
           FROM c12 JOIN c1 USING (w1), v),
         perdoc AS (
           SELECT doc_id, count(*) AS n_bigrams,
             CAST(sum(wt.w) AS BIGINT) AS score
           FROM bigrams JOIN wt USING (w1, w2) GROUP BY doc_id)
         SELECT doc_id, n_bigrams, score,
           ntile(3) OVER (ORDER BY CAST(score AS DOUBLE) / n_bigrams DESC,
             doc_id ASC) AS bucket
         FROM perdoc ORDER BY doc_id""",

    "q125_split_leakage" ->
      """WITH rep AS (
           SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS rep
           FROM documents),
         s AS (
           SELECT doc_id, rep,
             CASE WHEN ((rep % 2147483647) * 2654435761) % 2147483647
                    < 1717986918 THEN 'train'
                  WHEN ((rep % 2147483647) * 2654435761) % 2147483647
                    < 1932735283 THEN 'val'
                  ELSE 'test' END AS split,
             CASE WHEN ((doc_id % 2147483647) * 2654435761) % 2147483647
                    < 1717986918 THEN 'train'
                  WHEN ((doc_id % 2147483647) * 2654435761) % 2147483647
                    < 1932735283 THEN 'val'
                  ELSE 'test' END AS naive_split
           FROM rep),
         pc AS (
           SELECT rep, split, count(*) AS n,
             count(DISTINCT naive_split) AS ns
           FROM s GROUP BY rep, split)
         SELECT split, CAST(sum(n) AS BIGINT) AS n_docs,
           count(*) AS n_clusters,
           CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS naive_leaked
         FROM pc GROUP BY split ORDER BY split""",

    "q127_asof_join" ->
      """WITH c AS (
           SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'click'),
         p AS (
           SELECT user_id, ts, value FROM events
           WHERE event_type = 'purchase')
         SELECT c.event_id, c.user_id, epoch_ms(c.ts) AS ts_ms,
           c.value AS click_value, p.value AS last_purchase,
           epoch_ms(p.ts) AS purchase_ms
         FROM c ASOF LEFT JOIN p
           ON c.user_id = p.user_id AND c.ts >= p.ts
         ORDER BY event_id""",

    "q128_band_join" ->
      """WITH e AS (
           SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'error'),
         c AS (
           SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'click')
         SELECT e.event_id, e.user_id,
           count(*) AS n_nearby_clicks,
           min(c.event_id) AS first_click_id
         FROM e JOIN c ON e.user_id = c.user_id
           AND abs(epoch_ms(e.ts) - epoch_ms(c.ts)) <= 21600000
         GROUP BY e.event_id, e.user_id ORDER BY e.event_id""",

    "q129_sessionize" ->
      """WITH g AS (
           SELECT user_id, event_id, ts, value,
             lag(epoch_ms(ts)) OVER w AS prev
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         f AS (
           SELECT *, CASE WHEN prev IS NULL
               OR epoch_ms(ts) - prev > 1800000 THEN 1 ELSE 0 END
             AS newflag
           FROM g),
         sid AS (
           SELECT *, CAST(sum(newflag) OVER (PARTITION BY user_id
             ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
             CURRENT ROW) AS BIGINT) AS session_id
           FROM f)
         SELECT user_id, session_id, count(*) AS n_events,
           min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS value_sum,
           max(epoch_ms(ts)) - min(epoch_ms(ts)) AS duration_ms
         FROM sid GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",

    "q131_corpus_diff" ->
      """WITH v2 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 101 = 0 THEN text || ' v2'
                  ELSE text END AS text
           FROM documents WHERE doc_id % 97 <> 0
           UNION ALL
           SELECT doc_id + 10000000, text FROM documents
           WHERE doc_id % 89 = 0),
         j AS (
           SELECT coalesce(a.doc_id, b.doc_id) AS id,
             a.text AS ta, b.text AS tb
           FROM documents a FULL OUTER JOIN v2 b
             ON a.doc_id = b.doc_id),
         st AS (
           SELECT id,
             CASE WHEN tb IS NULL THEN 'removed'
                  WHEN ta IS NULL THEN 'added'
                  WHEN ta = tb THEN 'unchanged'
                  ELSE 'changed' END AS status
           FROM j)
         SELECT status, count(*) AS n_docs, min(id) AS min_id,
           max(id) AS max_id
         FROM st GROUP BY status ORDER BY status""",

    "q132_corpus_manifest" -> (
      """SELECT CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
           CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
             AS BIGINT) AS n_tokens,
           min(doc_id) AS min_id, max(doc_id) AS max_id,
           bit_xor(_h) AS checksum
         FROM read_parquet('""" + q132Dir(dir) + """/data/*/*.parquet',
           hive_partitioning=1)
         GROUP BY shard ORDER BY shard""")
  )

  /** Shared BM25 oracle CTE stack (mirrors Retrieval.bm25TopK's
    * expression tree op-for-op — see its scaladoc for the determinism
    * contract). Ends after a `ranked` CTE; callers append the final
    * SELECT (and any fusion arms). */
  private def bm25OracleSql(corpusWhere: String,
                            queryTermsCte: String): String =
    s"""WITH $queryTermsCte,
         toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(
             trim(lower(text)), '\\s+')) AS term
           FROM documents WHERE $corpusWhere),
         post AS (
           SELECT doc_id, term, count(*) AS tf
           FROM toks GROUP BY doc_id, term),
         dltbl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         stats AS (SELECT count(*) AS n, sum(dl) AS s FROM dltbl),
         dfq AS (
           SELECT p.term, count(DISTINCT p.doc_id) AS df
           FROM post p JOIN (SELECT DISTINCT term FROM qt) qv
             ON p.term = qv.term
           GROUP BY p.term),
         sc AS (
           SELECT qt.query_id, post.doc_id,
             CAST(round(
               sqrt((CAST(stats.n AS DOUBLE) - dfq.df + 0.5)
                 / (dfq.df + 0.5)) *
               ((post.tf * (1.2 + 1.0)) /
                (post.tf + 1.2 * ((1.0 - 0.75) + 0.75 *
                  (dltbl.dl / (CAST(stats.s AS DOUBLE) / stats.n)))))
             , 6) AS DECIMAL(20,6)) AS c
           FROM post
           JOIN qt ON post.term = qt.term
           JOIN dfq ON post.term = dfq.term
           JOIN dltbl ON post.doc_id = dltbl.doc_id
           CROSS JOIN stats),
         dscore AS (
           SELECT query_id, doc_id, CAST(sum(c) AS DOUBLE) AS score
           FROM sc GROUP BY query_id, doc_id),
         ranked AS (
           SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
           FROM dscore)"""
}
