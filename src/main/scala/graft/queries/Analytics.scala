package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.{Metric, TextAnalysis}

/** Relational and time-series analytics: the `q_*` operators (sampling,
  * sketches, joins, funnels, retention, hybrid retrieval, profiling),
  * the window queries (`w*`), as-of joins and set operations. */
object AnalyticsQueries {
  import Shared._

  val specs: Seq[QuerySpec] = Seq(
    // ---- binary (1-bit sign) quantization prefilter + exact re-rank:
    // candidates by XOR+popcount Hamming over 64-dim-per-word packed
    // embeddings (deterministic (ham, id) tie order), then exact
    // euclidean on the 5x-oversampled survivors. The 32x-compression
    // coarse tier below the store's int8 codec (C1/C2). ----
    QuerySpec("q_binary_hamming_knn", (s, dir) => {
      val q = queryVec(s, dir, 1L)
      val qPacked = vfs_binary_quantize(typedLit(q))
      emb(s, dir)
        .select(col("vec_id"), col("embedding"),
          vfs_hamming(vfs_binary_quantize(col("embedding")), qPacked)
            .as("ham"))
        // null-element rows pack to NULL ham — exclude them, or the
        // default NULLS FIRST ascending sort would park them at the
        // top of every candidate list
        .filter(col("ham").isNotNull)
        .orderBy(col("ham").asc, col("vec_id").asc)
        .limit(50)
        .select(col("vec_id"), col("ham"),
          milli(vfs_euclidean(col("embedding"), typedLit(q)))
            .as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(10)
    },
      // binary-sign Hamming computed dimension-wise ((a>0) != (b>0) —
      // the definitional form of the engine's XOR+popcount over packed
      // words), identical (ham, id) prefilter order, then the exact
      // euclidean re-rank on the survivors
      s"""WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 1),
         |h AS (SELECT vec_id, embedding,
         |  CAST(len(list_filter(range(1, len(embedding) + 1),
         |    i -> (embedding[i] > 0) != (q[i] > 0))) AS BIGINT) AS ham
         |  FROM embeddings, qv),
         |c AS (SELECT vec_id, embedding, ham FROM h
         |  ORDER BY ham ASC, vec_id ASC LIMIT 50)
         |SELECT vec_id, ham,
         |  CAST(round(list_distance(CAST(embedding AS DOUBLE[]), $qSub)
         |    * 1000) AS BIGINT) AS dist_milli
         |FROM c
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin),

    // PERSISTED twin: the same coarse tier probing a standing packed
    // sidecar ([[graft.operators.BinaryIndex]]) — the scan reads the
    // 1-bit words (32x fewer bytes), never re-packs the floats, and
    // must land on the identical result (same oracle SQL)
    QuerySpec("q_binary_hamming_indexed", (s, dir) => {
      val idx = java.nio.file.Files
        .createTempDirectory("verify-binidx").toString
      graft.operators.BinaryIndex.build(emb(s, dir), idx)
      val q = queryVec(s, dir, 1L)
      graft.operators.BinaryIndex
        .candidates(s, idx, q.toArray, n = 50)
        .join(emb(s, dir), col("id") === col("vec_id"))
        .select(col("vec_id"), col("ham"),
          milli(vfs_euclidean(col("embedding"), typedLit(q)))
            .as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(10)
    },
      // the persisted sidecar probes the SAME packing — identical result,
      // identical oracle derivation
      s"""WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 1),
         |h AS (SELECT vec_id, embedding,
         |  CAST(len(list_filter(range(1, len(embedding) + 1),
         |    i -> (embedding[i] > 0) != (q[i] > 0))) AS BIGINT) AS ham
         |  FROM embeddings, qv),
         |c AS (SELECT vec_id, embedding, ham FROM h
         |  ORDER BY ham ASC, vec_id ASC LIMIT 50)
         |SELECT vec_id, ham,
         |  CAST(round(list_distance(CAST(embedding AS DOUBLE[]), $qSub)
         |    * 1000) AS BIGINT) AS dist_milli
         |FROM c
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin),

    // ---- window top-k per group (SURVEY §2.8 W2 generalized) ----
    QuerySpec("w2_window_topk", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("price_c").desc, col("o_orderkey").asc)
      o.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .orderBy(col("o_custkey").asc, col("rn").asc)
    },
      """SELECT o_custkey, o_orderkey, price_c, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey ASC) AS BIGINT) AS rn
        |  FROM orders)
        |WHERE rn <= 2
        |ORDER BY o_custkey ASC, rn ASC""".stripMargin),

    // ---- analytic window suite: lag/lead/ntile/percent_rank ----
    QuerySpec("w3_analytics", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("price_c").asc, col("o_orderkey").asc)
      o.select(col("o_custkey"), col("o_orderkey"), col("price_c"),
          coalesce(lag(col("price_c"), 1).over(w), lit(-1L)).as("prev_c"),
          coalesce(lead(col("price_c"), 1).over(w), lit(-1L)).as("next_c"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w) * 1000).cast("long").as("prank_milli"))
        .orderBy(col("o_custkey").asc, col("price_c").asc,
          col("o_orderkey").asc)
    },
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_c FROM orders)
        |SELECT o_custkey, o_orderkey, price_c,
        |  COALESCE(lag(price_c, 1) OVER w, -1) AS prev_c,
        |  COALESCE(lead(price_c, 1) OVER w, -1) AS next_c,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  CAST(round(percent_rank() OVER w * 1000) AS BIGINT) AS prank_milli
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY price_c ASC, o_orderkey ASC)
        |ORDER BY o_custkey ASC, price_c ASC, o_orderkey ASC""".stripMargin),

    // ---- pivot: long -> wide with explicit value list ----
    QuerySpec("q_pivot", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_quantity"))).cast("long"))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0L)).as("qty_f"),
          coalesce(col("O"), lit(0L)).as("qty_o"))
        .orderBy(col("l_returnflag").asc)
    },
      """SELECT l_returnflag,
        |  COALESCE(CAST(round(sum(CASE WHEN l_linestatus = 'F'
        |    THEN l_quantity END)) AS BIGINT), 0) AS qty_f,
        |  COALESCE(CAST(round(sum(CASE WHEN l_linestatus = 'O'
        |    THEN l_quantity END)) AS BIGINT), 0) AS qty_o
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag ASC""".stripMargin),

    // ---- unpivot (melt): wide -> long ----
    QuerySpec("q_unpivot", (s, dir) => {
      val wide = s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity"))).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice"))).cast("long").as("sum_price"))
      wide.unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price")),
          "measure", "value")
        .orderBy(col("l_returnflag").asc, col("measure").asc)
    },
      """WITH wide AS (SELECT l_returnflag,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |  CAST(round(sum(l_extendedprice)) AS BIGINT) AS sum_price
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM wide
        |ORDER BY l_returnflag ASC, measure ASC""".stripMargin),

    // ---- anti join: customers with no URGENT order (every customer
    // has SOME order in the synthetic data, so the unfiltered variant
    // would be a vacuous 0-row check) ----
    QuerySpec("q_anti_join", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment").asc)
    },
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment ASC""".stripMargin),

    // ---- set op surface (SURVEY §2.9): user-days with clicks but no
    // purchases — EXCEPT over distinct composite keys ----
    QuerySpec("set_except", (s, dir) => {
      val ev = events(s, dir)
      def days(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id"),
          date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
        .distinct()
      days("click").except(days("purchase"))
        .orderBy(col("user_id").asc, col("day").asc)
    },
      """SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
        |FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id ASC, day ASC""".stripMargin),

    // ---- Matryoshka-style staged retrieval: rank on the first 16 of
    // 64 dims (4x cheaper scoring), rerank the surviving 50 at full
    // dimension — the adaptive-retrieval pattern for cutting exact-scan
    // cost at corpus scale ----
    // Plan (expect: TWO TakeOrderedAndProject stages, prefix scoring
    // inside codegen)
    QuerySpec("q_matryoshka_rerank", (s, dir) => {
      val q = queryVec(s, dir, 1L)
      val stage1 = emb(s, dir)
        .select(col("vec_id"), col("embedding"),
          vfs_cosine(slice(col("embedding"), 1, 16), typedLit(q.take(16)))
            .as("pd"))
        .orderBy(col("pd").asc, col("vec_id").asc)
        .limit(50)
      stage1
        .select(col("vec_id"),
          milli(vfs_cosine(col("embedding"), typedLit(q))).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(10)
    },
      // stage-1 cut is by RAW prefix distance with a vec_id tiebreak (same
      // double accumulation order both engines), mirroring sql_tvf_knn's
      // raw-cut discipline; only the final 10 are rounded to millis
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |s1 AS (SELECT vec_id, v,
         |         ${duckCos("v[1:16]", s"list_slice($qSub, 1, 16)")} AS pd
         |       FROM e ORDER BY pd ASC, vec_id ASC LIMIT 50)
         |SELECT vec_id,
         |       CAST(round(${duckCos("v", qSub)} * 1000) AS BIGINT) AS dist_milli
         |FROM s1 ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin),

    // ---- portable HyperLogLog registers over event users ----
    QuerySpec("q_hll_registers", (s, dir) => {
      graft.operators.Sketches.hllRegisters(
          s.read.parquet(s"$dir/events.parquet"),
          col("user_id").cast("string"), p = 6)
        .select(col("bucket"), col("max_rho").cast("long").as("max_rho"))
        .orderBy(col("bucket").asc)
    },
      s"""WITH h AS (SELECT ${duckHex15("CAST(user_id AS VARCHAR)")} AS h
         |           FROM events WHERE user_id IS NOT NULL),
         |r AS (SELECT h % 64 AS bucket,
         |             (h >> 6) & 4294967295 AS w FROM h)
         |SELECT bucket,
         |       CAST(max(CASE WHEN w = 0 THEN 33
         |                ELSE 33 - length(bin(w)) END) AS BIGINT) AS max_rho
         |FROM r GROUP BY bucket ORDER BY bucket ASC""".stripMargin),

    // ---- temperature (α=0.5) source rebalancing: weights derived
    // from observed counts, quotas and picks engine-portable. The
    // test corpus's sources are perfectly balanced (α-smoothing of a
    // balanced mix correctly keeps everything), so the query first
    // induces deterministic skew — src0 keeps all rows, the rest
    // drop every third doc — and the smoothing visibly trims the
    // now-oversized src0 toward the others' shares ----
    QuerySpec("q_temperature_sample", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("source") === "src0" ||
          pmod(col("doc_id"), lit(3)) =!= 0)
      // bandCap = 16 forces the radix-histogram threshold path even at
      // this tiny SF, so the oracle hash-match certifies the SCALE
      // plan, not just the degenerate single-window one
      graft.operators.Sampling.temperatureSample(d,
          col("source"), col("text"), col("doc_id"), alpha = 0.5,
          bandCap = 16L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id").asc)
    },
      temperatureSampleOracle),

    // ---- weight-budget sampling: fill each source's n_chars budget
    // in content-hash order, budget-crossing row kept. bandCap = 16
    // forces the weighted radix refinement (per-bucket count+sum
    // aggregates) even at this SF; src3's budget exceeds its total at
    // sf0.01 (whole-stratum pass) and not at sf0.1 — both regimes
    // certify against the ONE oracle rule `before < budget` ----
    // Plan (expect: the same map-literal band shape with a RUNNING-SUM
    // window (rowsBetween preceding) over the band only; whole-budget
    // strata pass as a pure filter union)
    QuerySpec("q_budget_sample", (s, dir) => {
      graft.operators.Sampling.budgetSample(
          s.read.parquet(s"$dir/documents.parquet"),
          col("source"), col("n_chars"), col("text"), col("doc_id"),
          budgetSampleBudgets, bandCap = 16L)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id").asc)
    },
      budgetSampleOracle),

    // ---- fixed-step time resample with dense gap-fill + LOCF ----
    QuerySpec("q_time_resample", (s, dir) => {
      graft.operators.TimeSeries.resampleLocf(events(s, dir),
          col("event_type"), col("ts"), col("value"), stepSec = 300L)
        .withColumnRenamed("k", "event_type")
        .orderBy(col("event_type").asc, col("bucket").asc)
    },
      """WITH e AS (SELECT event_type AS k,
        |  (epoch_us(ts) - epoch_us(ts) % 300000000) // 1000000 AS bucket,
        |  CAST(round(value * 100) AS BIGINT) AS value FROM events),
        |a AS (SELECT k, bucket, count(*) AS n,
        |        CAST(sum(value) AS BIGINT) AS vc
        |      FROM e GROUP BY k, bucket),
        |d AS (SELECT k, unnest(generate_series(lo, hi, 300)) AS bucket
        |      FROM (SELECT k, min(bucket) AS lo, max(bucket) AS hi
        |            FROM a GROUP BY k)),
        |j AS (SELECT d.k, d.bucket, COALESCE(a.n, 0) AS n, a.vc
        |      FROM d LEFT JOIN a USING (k, bucket))
        |SELECT k AS event_type, bucket, n,
        |  last_value(vc IGNORE NULLS) OVER (PARTITION BY k
        |    ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_c
        |FROM j ORDER BY event_type ASC, bucket ASC""".stripMargin),

    // ---- OHLC bucketed downsample: one hash agg, struct-min/max
    // open/close (deterministic under timestamp ties) ----
    QuerySpec("q_time_ohlc", (s, dir) => {
      graft.operators.TimeSeries.ohlc(events(s, dir),
          col("event_type"), col("ts"), col("value"), stepSec = 3600L)
        .withColumnRenamed("k", "event_type")
        .orderBy(col("event_type").asc, col("bucket").asc)
    },
      // struct-min/max open/close — same lexicographic (us, v) ordering
      // as the Spark min(struct(...)), so timestamp ties agree
      timeOhlcOracle),

    // ---- interval × interval overlap join (binned, first-shared-bin
    // dedup — no BroadcastNestedLoop, no dropDuplicates shuffle) ----
    QuerySpec("q_interval_overlap", (s, dir) => {
      val ev = events(s, dir)
      val l = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("value").as("lo1"),
          (col("value") + 0.5).as("hi1"))
      val r = ev.filter(col("event_type") === "purchase")
        .select(col("value").as("lo2"), (col("value") + 0.3).as("hi2"))
      graft.operators.RangeJoin.intervalOverlap(l, r,
          "lo1", "hi1", "lo2", "hi2", binWidth = 0.5)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_overlaps"))
        .orderBy(col("event_id").asc)
    },
      // the degenerate-interval predicates (hi > lo) match the
      // operator's empty-set semantics for zero-width intervals: a
      // [x, x) interval overlaps NOTHING, but the raw predicate alone
      // would count one strictly inside the other side (no-op on these
      // fixtures — widths are fixed positive — but keeps operator and
      // oracle agreeing on degenerate inputs)
      """WITH l AS (SELECT event_id, value AS lo1, value + 0.5 AS hi1
        |  FROM events WHERE event_type = 'click'),
        |r AS (SELECT value AS lo2, value + 0.3 AS hi2
        |  FROM events WHERE event_type = 'purchase')
        |SELECT l.event_id, count(*) AS n_overlaps
        |FROM l JOIN r ON l.lo1 < r.hi2 AND r.lo2 < l.hi1
        |  AND l.hi1 > l.lo1 AND r.hi2 > r.lo2
        |GROUP BY 1
        |ORDER BY event_id ASC""".stripMargin),

    // ---- ordered funnel: signup → view → click → purchase, each
    // step at-or-after the user's earliest prior-step completion ----
    QuerySpec("q_funnel", (s, dir) => {
      graft.operators.TimeSeries.funnel(events(s, dir),
          col("user_id"), col("ts"), col("event_type"),
          Seq("signup", "view", "click", "purchase"))
        .orderBy(col("step").asc)
    },
      """WITH s0 AS (SELECT user_id AS k, min(epoch_us(ts)) AS su
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s0 ON e.user_id = s0.k
        |  WHERE e.event_type = 'view' AND epoch_us(e.ts) >= s0.su
        |  GROUP BY 1),
        |s2 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s1 ON e.user_id = s1.k
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s1.su
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s2 ON e.user_id = s2.k
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.su
        |  GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS step, 'signup' AS event_type,
        |  count(*) AS n_keys FROM s0
        |UNION ALL SELECT 1, 'view', count(*) FROM s1
        |UNION ALL SELECT 2, 'click', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3
        |ORDER BY step ASC""".stripMargin),

    // ---- funnel conversion latency: per step, converters + median
    // lag from funnel start (half-centi-second units — the doubled
    // interpolated median of centi-bucketed lags is integer-exact,
    // and the bucketing bounds the percentile's aggregation state by
    // the funnel's time range instead of key cardinality) ----
    QuerySpec("q_funnel_latency", (s, dir) => {
      graft.operators.TimeSeries.funnelLatency(events(s, dir),
          col("user_id"), col("ts"), col("event_type"),
          Seq("signup", "view", "click", "purchase"))
        .orderBy(col("step").asc)
    },
      // same prefix CTEs as q_funnel + per-step median lag vs s0.
      // (su - s0.su) // 10000 is DuckDB floor division over non-negative
      // BIGINTs == Spark's remainder-subtract bucket; quantile_cont over
      // integers interpolates to a whole- or half-integer, so × 2 is an
      // exact integer in both engines — no CAST-rounding divergence
      // (Spark truncates double→long, DuckDB rounds; here there is
      // never a fractional part to disagree on)
      """WITH s0 AS (SELECT user_id AS k, min(epoch_us(ts)) AS su
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s0 ON e.user_id = s0.k
        |  WHERE e.event_type = 'view' AND epoch_us(e.ts) >= s0.su
        |  GROUP BY 1),
        |s2 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s1 ON e.user_id = s1.k
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s1.su
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s2 ON e.user_id = s2.k
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.su
        |  GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS step, 'signup' AS event_type,
        |  count(*) AS n_keys, CAST(0 AS BIGINT) AS p50_lag_c2 FROM s0
        |UNION ALL SELECT 1, 'view', count(*),
        |  CAST(COALESCE(quantile_cont((s1.su - s0.su) // 10000, 0.5)
        |    * 2, 0) AS BIGINT)
        |  FROM s1 JOIN s0 USING (k)
        |UNION ALL SELECT 2, 'click', count(*),
        |  CAST(COALESCE(quantile_cont((s2.su - s0.su) // 10000, 0.5)
        |    * 2, 0) AS BIGINT)
        |  FROM s2 JOIN s0 USING (k)
        |UNION ALL SELECT 3, 'purchase', count(*),
        |  CAST(COALESCE(quantile_cont((s3.su - s0.su) // 10000, 0.5)
        |    * 2, 0) AS BIGINT)
        |  FROM s3 JOIN s0 USING (k)
        |ORDER BY step ASC""".stripMargin),

    // ---- windowed funnel: each step must land within 24 h of the
    // previous step's completion (inclusive edge) — the
    // conversion-window shape real funnels use ----
    QuerySpec("q_funnel_windowed", (s, dir) => {
      graft.operators.TimeSeries.funnelWindowed(events(s, dir),
          col("user_id"), col("ts"), col("event_type"),
          Seq("signup", "view", "click", "purchase"),
          maxStepGapSec = 86400L)
        .orderBy(col("step").asc)
    },
      // q_funnel's CTEs with the per-step conversion window: step i
      // events must land within 24 h of step i-1's completion
      // (inclusive <= — an event at exactly su + T converts)
      """WITH s0 AS (SELECT user_id AS k, min(epoch_us(ts)) AS su
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s0 ON e.user_id = s0.k
        |  WHERE e.event_type = 'view' AND epoch_us(e.ts) >= s0.su
        |    AND epoch_us(e.ts) <= s0.su + 86400000000
        |  GROUP BY 1),
        |s2 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s1 ON e.user_id = s1.k
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s1.su
        |    AND epoch_us(e.ts) <= s1.su + 86400000000
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id AS k, min(epoch_us(e.ts)) AS su
        |  FROM events e JOIN s2 ON e.user_id = s2.k
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.su
        |    AND epoch_us(e.ts) <= s2.su + 86400000000
        |  GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS step, 'signup' AS event_type,
        |  count(*) AS n_keys FROM s0
        |UNION ALL SELECT 1, 'view', count(*) FROM s1
        |UNION ALL SELECT 2, 'click', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3
        |ORDER BY step ASC""".stripMargin),

    // ---- trending: per hourly bucket, the top-3 event types by
    // count (rank ties broken by name — fully deterministic). Two
    // hash aggs + a rank window over bucket-sized grouped rows ----
    QuerySpec("q_trending", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val us = graft.operators.TimeNorm.epochMicros(col("ts"))
      val bucket = ((us - us % lit(3600000000L)) / 1000000L)
        .cast("long")
      val counts = events(s, dir)
        .select(bucket.as("bucket"), col("event_type"))
        .groupBy(col("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("bucket"))
        .orderBy(col("n").desc, col("event_type").asc)
      counts.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .orderBy(col("bucket").asc, col("rank").asc)
    },
      """WITH c AS (SELECT
        |    (epoch_us(ts) - epoch_us(ts) % 3600000000) // 1000000 AS bucket,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT bucket, event_type, n,
        |    row_number() OVER (PARTITION BY bucket
        |      ORDER BY n DESC, event_type ASC) AS rank
        |  FROM c)
        |SELECT bucket, event_type, n, rank
        |FROM r WHERE rank <= 3
        |ORDER BY bucket ASC, rank ASC""".stripMargin),

    // ---- cohort retention: daily buckets, users keyed to their
    // first-active day, distinct-user counts per (cohort, offset) ----
    QuerySpec("q_retention", (s, dir) => {
      graft.operators.TimeSeries.retention(events(s, dir),
          col("user_id"), col("ts"), bucketSec = 86400L)
        .orderBy(col("cohort").asc, col("bucket_offset").asc)
    },
      """WITH e AS (SELECT DISTINCT user_id,
        |    (epoch_us(ts) - epoch_us(ts) % 86400000000) // 1000000 AS bucket
        |  FROM events),
        |c AS (SELECT user_id, min(bucket) AS cohort FROM e GROUP BY user_id)
        |SELECT c.cohort, (e.bucket - c.cohort) // 86400 AS bucket_offset,
        |  count(*) AS n_keys
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort ASC, bucket_offset ASC""".stripMargin),

    // ---- rolling trailing-window aggregate: every event's 1h-back
    // exposure (RANGE frame — timestamp peers share the frame) ----
    QuerySpec("q_time_rolling", (s, dir) => {
      graft.operators.TimeSeries.rolling(events(s, dir),
          col("event_id"), col("user_id"), col("ts"), col("value"),
          windowSec = 3600L)
        .withColumnRenamed("id", "event_id")
        .withColumnRenamed("k", "user_id")
        .orderBy(col("event_id").asc)
    },
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS v FROM events)
        |SELECT event_id, user_id,
        |  count(*) OVER w AS n_win,
        |  CAST(sum(v) OVER w AS BIGINT) AS sum_win_c
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id ASC""".stripMargin),

    // ---- per-key event-time gap detection (monitoring twin of
    // sessionize: every reported gap is a session boundary) ----
    QuerySpec("q_time_gaps", (s, dir) => {
      graft.operators.TimeSeries.gaps(events(s, dir),
          col("user_id"), col("ts"), minGapSec = 7200L)
        .withColumnRenamed("k", "user_id")
        .orderBy(col("user_id").asc, col("gap_start_us").asc,
          col("gap_end_us").asc)
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id, us,
        |  lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev_us
        |  FROM e)
        |SELECT user_id, prev_us AS gap_start_us, us AS gap_end_us,
        |  (us - prev_us) // 1000000 AS gap_sec
        |FROM g WHERE us - prev_us > 7200000000
        |ORDER BY user_id ASC, gap_start_us ASC, gap_end_us ASC""".stripMargin),

    // ---- deterministic negative-pair mining (contrastive training):
    // hash-drawn partners over the dense id domain, exact-dup pairs
    // filtered out (false-negative guard) ----
    QuerySpec("q_negative_pairs", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Sampling.negativePairs(d, k = 3, n = d.count())
        .join(d.select(col("doc_id").as("anchor"), col("text").as("__ta")),
          Seq("anchor"))
        .join(d.select(col("doc_id").as("negative"),
          col("text").as("__tb")), Seq("negative"))
        .filter(col("__ta") =!= col("__tb"))
        .select(col("anchor"), col("j"), col("negative"))
        .orderBy(col("anchor").asc, col("j").asc)
    },
      s"""WITH a AS (SELECT doc_id AS anchor, text AS ta FROM documents),
         |cnt AS (SELECT count(*) AS n FROM documents),
         |p AS (SELECT anchor, ta, unnest(range(0, 3)) AS j FROM a),
         |q AS (SELECT anchor, j,
         |  ${duckHex15("concat_ws(':', CAST(anchor AS VARCHAR), CAST(j AS VARCHAR))")}
         |    % (SELECT n FROM cnt) AS negative, ta FROM p)
         |SELECT anchor, j, negative
         |FROM q JOIN documents d ON d.doc_id = q.negative
         |WHERE negative <> anchor AND d.text <> q.ta
         |ORDER BY anchor ASC, j ASC""".stripMargin),

    // ---- deterministic source-mixture sampling (domain reweighting):
    // src0's weight binds (quota = its full 25 rows at sf0.01), the
    // others are hash-subsampled to the target proportions ----
    QuerySpec("q_mixture_sample", (s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      // bandCap = 16: exercise the threshold path (see
      // q_temperature_sample note)
      graft.operators.Sampling.mixtureSample(d, col("source"),
          col("text"), col("doc_id"),
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.15,
            "src3" -> 0.10), bandCap = 16L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id").asc)
    },
      mixtureSampleOracle),

    // ---- heavy hitters (Misra-Gries): top tokens over the corpus.
    // capacity 4096 >> distinct words here, so the mergeable sketch is
    // EXACT and the DuckDB group-count oracle pins it bit-for-bit ----
    QuerySpec("q_heavy_hitters", (s, dir) => {
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(explode(graft.operators.TextAnalysis
          .tokens(lower(col("text")))).as("item"))
      graft.operators.HeavyHitters.topK(toks, col("item"), 10,
        capacity = 4096)
    },
      """WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS item FROM documents)
        |SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM t
        |GROUP BY item ORDER BY cnt DESC, item ASC LIMIT 10""".stripMargin),

    // ---- exact percentile aggregation (sort-based, deterministic) ----
    QuerySpec("q_percentile", (s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)") * 100).cast("long")
            .as("p50_c"),
          round(expr("percentile(value, 0.95)") * 100).cast("long")
            .as("p95_c"))
        .orderBy(col("event_type").asc)
    },
      """SELECT event_type,
        |  CAST(round(quantile_cont(value, 0.5) * 100) AS BIGINT) AS p50_c,
        |  CAST(round(quantile_cont(value, 0.95) * 100) AS BIGINT) AS p95_c
        |FROM events GROUP BY event_type
        |ORDER BY event_type ASC""".stripMargin),

    // ---- M5: predicate-filtered search (filter pushed under score) ----
    QuerySpec("q_filtered_knn", (s, dir) => {
      val q = queryVec(s, dir, 1L)
      emb(s, dir)
        .filter(col("label") === 3)
        .select(col("vec_id"),
          milli(vfs_cosine(col("embedding"), typedLit(q))).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(5)
    },
      s"""SELECT vec_id,
         |       CAST(round(${duckCos("CAST(embedding AS DOUBLE[])", qSub)} * 1000) AS BIGINT) AS dist_milli
         |FROM embeddings
         |WHERE label = 3
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 5""".stripMargin),

    // ---- M5: search over a quantized store's dense read view
    // (dequantize-on-read path, storage_manager.rs:202-210) ----
    QuerySpec("q_quantized_knn", (s, dir) => {
      val q = queryVec(s, dir, 1L)
      val dq = vfs_dequantize(
        vfs_quantize(col("embedding"), lit(127.0f)), lit(127.0f))
      emb(s, dir)
        .select(col("vec_id"),
          milli(vfs_cosine(dq, typedLit(q))).as("dist_milli"))
        .orderBy(col("dist_milli").asc, col("vec_id").asc)
        .limit(10)
    },
      s"""WITH dq AS (SELECT vec_id,
         |  list_transform(embedding,
         |    x -> CAST(CAST(LEAST(GREATEST(round(CAST(x AS DOUBLE) * 127), -128), 127) AS FLOAT) / CAST(127.0 AS FLOAT) AS DOUBLE)) AS v
         |  FROM embeddings)
         |SELECT vec_id,
         |       CAST(round(${duckCos("v", qSub)} * 1000) AS BIGINT) AS dist_milli
         |FROM dq
         |ORDER BY dist_milli ASC, vec_id ASC
         |LIMIT 10""".stripMargin),

    // ---- grouping sets surface: ROLLUP with NULL keys normalized ----
    QuerySpec("q_rollup", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity"))).cast("long").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_rows"))
        .orderBy(col("rf").asc, col("ls").asc)
    },
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf ASC, ls ASC""".stripMargin),

    // ---- CUBE: all grouping-set combinations with NULLs normalized ----
    QuerySpec("q_cube", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity"))).cast("long").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n_rows"))
        .orderBy(col("rf").asc, col("ls").asc)
    },
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf ASC, ls ASC""".stripMargin),

    // ---- range join: events binned into value intervals via the
    // bin-decomposed equi-join (no BroadcastNestedLoopJoin) ----
    QuerySpec("q_range_join_bins", (s, dir) => {
      import s.implicits._
      val bins = (0 until 10).map(i => (i.toLong, i * 50.0, (i + 1) * 50.0))
        .toDF("bin_id", "lo", "hi")
      val ev = events(s, dir).select(col("event_id"), col("value"))
      graft.operators.RangeJoin
        .pointInInterval(ev, bins, "value", "lo", "hi", binWidth = 20.0)
        .groupBy(col("bin_id"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")) * 100).cast("long").as("value_c"))
        .orderBy(col("bin_id").asc)
    },
      """WITH bins(bin_id, lo, hi) AS (VALUES
        |  (0, 0.0, 50.0), (1, 50.0, 100.0), (2, 100.0, 150.0),
        |  (3, 150.0, 200.0), (4, 200.0, 250.0), (5, 250.0, 300.0),
        |  (6, 300.0, 350.0), (7, 350.0, 400.0), (8, 400.0, 450.0),
        |  (9, 450.0, 500.0))
        |SELECT CAST(bin_id AS BIGINT) AS bin_id, count(*) AS n,
        |  CAST(round(sum(value) * 100) AS BIGINT) AS value_c
        |FROM events JOIN bins ON value >= lo AND value < hi
        |GROUP BY bin_id
        |ORDER BY bin_id ASC""".stripMargin),

    // ---- skew-salted join: result must equal the plain equi-join ----
    QuerySpec("q_salted_join", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.SkewJoin.salted(li, o, "l_orderkey", "o_orderkey", 8)
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("long").as("revenue"), count(lit(1)).as("n_rows"))
        .orderBy(col("o_orderpriority").asc)
    },
      """SELECT o_orderpriority,
        |  CAST(round(sum(l_extendedprice * (1.0 - l_discount))) AS BIGINT) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin),

    // ---- dedup with deterministic survivors (streaming twin:
    // Ingest.dedupStream / dropDuplicatesWithinWatermark) ----
    QuerySpec("q_dedup_events", (s, dir) => {
      graft.streaming.Ingest.dedupSurvivors(events(s, dir))
        .select(col("user_id"), col("event_type"),
          date_format(col("minute"), "yyyy-MM-dd HH:mm:ss").as("minute"),
          col("keeper_event"), col("n_dups"))
        .orderBy(col("user_id").asc, col("event_type").asc, col("minute").asc)
    },
      """SELECT user_id, event_type,
        |  strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute,
        |  min(event_id) AS keeper_event, count(*) AS n_dups
        |FROM events
        |GROUP BY user_id, event_type, date_trunc('minute', ts)
        |ORDER BY user_id ASC, event_type ASC, minute ASC""".stripMargin),

    // ---- co-located bucketed join (layout written, then joined with
    // no shuffle on either side — plan asserted in BucketedLayoutSpec;
    // the oracle checks the join RESULT equals the plain join) ----
    QuerySpec("q_bucketed_join", (s, dir) => {
      import graft.store.BucketedLayout
      BucketedLayout.writeBucketed(
        s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        "graft_bl_lineitem", "l_orderkey", 8)
      BucketedLayout.writeBucketed(
        s.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_orderpriority")),
        "graft_bl_orders", "o_orderkey", 8)
      BucketedLayout.coLocatedJoin(s, "graft_bl_lineitem", "graft_bl_orders",
          "l_orderkey", "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("long").as("revenue"), count(lit(1)).as("n_rows"))
        .orderBy(col("o_orderpriority").asc)
    },
      """SELECT o_orderpriority,
        |  CAST(round(sum(l_extendedprice * (1.0 - l_discount))) AS BIGINT) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin),

    // ---- deterministic hash sampling: same rows selected on any
    // cluster/partitioning/engine (vs RNG .sample()) ----
    QuerySpec("q_sample_hash", (s, dir) => {
      graft.operators.Sampling.hashSample(
          s.read.parquet(s"$dir/documents.parquet"), col("text"), 10)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id").asc)
    },
      sampleHashOracle),

    // ---- append-stable train/val/test split assignment ----
    QuerySpec("q_split_assign", (s, dir) => {
      graft.operators.Sampling.splitAssign(
          s.read.parquet(s"$dir/documents.parquet"), col("text"),
          Seq(("train", 80), ("val", 90), ("test", 100)))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("split").asc, col("lang").asc)
    },
      splitAssignOracle),

    // ---- relational Bloom filter decontamination: build over src0's
    // word bigrams (the "benchmark" reference set), probe the whole
    // corpus; hit=1 ⊇ in_ref=1 (false positives possible, negatives
    // not — the oracle reproduces both bit-for-bit) ----
    QuerySpec("q_bloom_decontaminate", (s, dir) => {
      import graft.operators.Sketches
      val d = s.read.parquet(s"$dir/documents.parquet")
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .select(explode(TextAnalysis.wordNGrams(col("text"), 2)).as("gram"))
        .distinct()
      val ref = grams(d.filter(col("source") === "src0"))
      val bloom = Sketches.bloomBuild(ref, col("gram"), 4096, 3)
      val hits = Sketches.bloomMightContain(bloom, grams(d), col("gram"),
        4096, 3)
      hits.join(ref.select(col("gram").as("key"), lit(1L).as("in_ref")),
          Seq("key"), "left")
        .select(col("key").as("gram"), col("hit"),
          coalesce(col("in_ref"), lit(0L)).as("in_ref"))
        .orderBy(col("gram").asc)
    },
      bloomOracle),

    // ---- count-min sketch: deterministic portable-hash cells, so the
    // sketch AND the estimates oracle-match; est >= true by design ----
    QuerySpec("q_count_min", (s, dir) => {
      import graft.operators.Sketches
      val ev = events(s, dir).select(col("event_type"))
      val sketch = Sketches.countMinSketch(ev, col("event_type"), 4, 64)
      val est = Sketches.countMinEstimate(sketch, ev.distinct(),
          col("event_type"), 4, 64)
        .select(col("__k").as("event_type"), col("est"))
      val truth = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_true"))
      est.join(truth, Seq("event_type"))
        .orderBy(col("event_type").asc)
    },
      countMinOracle),

    // ---- Z-order (Morton) clustering key: the multi-dimensional
    // layout code verified against DuckDB bit math ----
    QuerySpec("q_zorder_code", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .select(pmod(col("l_orderkey"), lit(1024)).as("x"),
          pmod(col("l_partkey"), lit(1024)).as("y"))
        .distinct()
        .select(col("x"), col("y"),
          graft.store.ZOrderLayout.zorder(col("x"), col("y")).as("z"))
        .orderBy(col("x").asc, col("y").asc)
    },
      """WITH p AS (SELECT DISTINCT l_orderkey % 1024 AS x,
        |  l_partkey % 1024 AS y FROM lineitem)
        |SELECT x, y,
        |  CAST(list_sum(list_transform(range(0, 10), i ->
        |    (((x >> i) & 1) << (2*i)) + (((y >> i) & 1) << (2*i + 1))))
        |    AS BIGINT) AS z
        |FROM p
        |ORDER BY x ASC, y ASC""".stripMargin),

    // ---- deterministic weighted sampling: longer docs kept with
    // higher probability (quality-weighted corpus subsampling) ----
    QuerySpec("q_weighted_sample", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.operators.Sampling.weightedHashSample(docs, col("text"),
          least(lit(1.0), col("n_chars").cast("double") / 500.0))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("lang").asc)
    },
      weightedSampleOracle),

    // ---- deterministic stratified sample: smallest-hash n per lang ----
    QuerySpec("q_stratified_sample", (s, dir) => {
      // bandCap = 2: even a 3-row quota goes through band refinement
      graft.operators.Sampling.stratifiedTopN(
          s.read.parquet(s"$dir/documents.parquet"),
          col("lang"), col("text"), col("doc_id"), 3, bandCap = 2L)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .orderBy(col("lang").asc, col("doc_id").asc)
    },
      stratifiedSampleOracle),

    // ---- semi join surface ----
    QuerySpec("q_semi_join", (s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment").asc)
    },
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment ASC""".stripMargin),

    // ---- distinct aggregation surface ----
    QuerySpec("q_distinct_agg", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy(col("l_returnflag").asc)
    },
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag ASC""".stripMargin),

    // ---- as-of join: each click joined to the user's most recent
    // prior-or-simultaneous purchase (operator Spark lacks natively;
    // DuckDB oracle uses its built-in ASOF JOIN) ----
    QuerySpec("asof_join", (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsOfJoin.backward(clicks, purchases,
          keyCol = "user_id", leftTsCol = "ts", rightTsCol = "ts",
          payload = Seq("pval"))
        .select(col("event_id"), col("user_id"),
          coalesce(round(col("pval") * 100).cast("long"), lit(-1L))
            .as("pval_c"))
        .orderBy(col("event_id").asc)
    },
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pval FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id,
        |  COALESCE(CAST(round(r.pval * 100) AS BIGINT), -1) AS pval_c
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id ASC""".stripMargin),

    // ---- grouped vector mean (class centroids) via the VectorMean
    // partial aggregate: one dim-sized buffer per group per partition
    // crosses the shuffle, not the vectors ----
    QuerySpec("q_vec_mean", (s, dir) => {
      s.read.parquet(s"$dir/embeddings.parquet")
        .groupBy(col("label"))
        .agg(graft.operators.VectorMean.vecMean(col("embedding")).as("m"))
        .select(col("label"), posexplode(col("m")).as(Seq("dim_idx", "mean")))
        .select(col("label").cast("long").as("label"),
          col("dim_idx").cast("long").as("dim_idx"),
          round(col("mean") * 1000).cast("long").as("mean_milli"))
        .orderBy(col("label").asc, col("dim_idx").asc)
    },
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT label, unnest(range(0, len(v))) AS dim_idx,
        |             unnest(v) AS x FROM e)
        |SELECT CAST(label AS BIGINT) AS label, dim_idx,
        |  CAST(round(avg(x) * 1000) AS BIGINT) AS mean_milli
        |FROM u GROUP BY label, dim_idx
        |ORDER BY label ASC, dim_idx ASC""".stripMargin),

    // ---- grouped kNN through the custom vfs_topk aggregate: per-label
    // top-3 neighbors of a fixed query, shuffling <= k rows per label
    // per partition ----
    QuerySpec("q_grouped_knn", (s, dir) => {
      val q = queryVec(s, dir, 7)
      val scored = emb(s, dir)
        .select(col("label"), col("vec_id"),
          vfs_cosine(col("embedding"), typedLit(q)).as("d"))
      scored.groupBy(col("label"))
        .agg(graft.operators.TopKByDistance
          .topk(col("d"), col("vec_id"), 3).as("t"))
        .select(col("label").cast("long").as("label"),
          explode(col("t")).as("s"))
        .select(col("label"), col("s.id").as("vec_id"),
          round(col("s.distance") * 1000).cast("long").as("dist_milli"))
        .orderBy(col("label").asc, col("dist_milli").asc,
          col("vec_id").asc)
    },
      """WITH e AS (SELECT label, vec_id,
        |  (1 - list_inner_product(CAST(embedding AS DOUBLE[]), q.v)
        |     / (sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                                CAST(embedding AS DOUBLE[])))
        |        * sqrt(list_inner_product(q.v, q.v)))) AS d
        |  FROM embeddings,
        |    (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |     WHERE vec_id = 7) q),
        |r AS (SELECT label, vec_id, d, row_number() OVER
        |  (PARTITION BY label ORDER BY d ASC, vec_id ASC) AS rn FROM e)
        |SELECT CAST(label AS BIGINT) AS label, vec_id,
        |  CAST(round(d * 1000) AS BIGINT) AS dist_milli
        |FROM r WHERE rn <= 3
        |ORDER BY label ASC, dist_milli ASC, vec_id ASC""".stripMargin),

    // ---- KMV distinct sketch: deterministic (portable FNV hash), so
    // the estimate itself oracle-matches — no HLL can do that ----
    QuerySpec("q_kmv_distinct", (s, dir) => {
      graft.operators.Sketches.kmvDistinct(
        s.read.parquet(s"$dir/documents.parquet"), col("text"), 64)
    },
      kmvDistinctOracle),

    // ---- interval join (stream-stream shape run on batch frames):
    // purchases within 30 min after each click, per user ----
    QuerySpec("q_interval_join", (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      graft.streaming.Ingest.intervalJoinStream(clicks, purchases)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("value")) * 100).cast("long").as("value_c"))
        .orderBy(col("event_id").asc)
    },
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS pts, value FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, count(*) AS n_purchases,
        |  CAST(round(sum(p.value) * 100) AS BIGINT) AS value_c
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.pts >= c.ts AND p.pts <= c.ts + INTERVAL 30 MINUTE
        |GROUP BY c.event_id
        |ORDER BY c.event_id ASC""".stripMargin),

    // ---- GROUPING SETS: explicit grouping-set list (vs rollup/cube) ----
    QuerySpec("q_grouping_sets", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .createOrReplaceTempView("graft_gs_lineitem")
      s.sql("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |  count(1) AS n_rows
        |FROM graft_gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))
        |ORDER BY rf ASC, ls ASC""".stripMargin)
    },
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus))
        |ORDER BY rf ASC, ls ASC""".stripMargin),

    // ---- forward as-of: next purchase at-or-after each click ----
    QuerySpec("asof_join_forward", (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsOfJoin.forward(clicks, purchases,
          keyCol = "user_id", leftTsCol = "ts", rightTsCol = "ts",
          payload = Seq("pval"))
        .select(col("event_id"), col("user_id"),
          coalesce(round(col("pval") * 100).cast("long"), lit(-1L))
            .as("pval_c"))
        .orderBy(col("event_id").asc)
    },
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pval FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id,
        |  COALESCE(CAST(round(r.pval * 100) AS BIGINT), -1) AS pval_c
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
        |ORDER BY l.event_id ASC""".stripMargin),

    // ---- nearest as-of: closer of the backward/forward purchase,
    // exact ties resolve backward (AsOfJoin.nearest) ----
    QuerySpec("asof_join_nearest", (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsOfJoin.nearest(clicks, purchases,
          keyCol = "user_id", leftTsCol = "ts", rightTsCol = "ts",
          payload = Seq("pval"))
        .select(col("event_id"), col("user_id"),
          coalesce(round(col("pval") * 100).cast("long"), lit(-1L))
            .as("pval_c"))
        .orderBy(col("event_id").asc)
    },
      // two native ASOF joins (backward and forward) composed; the tie
      // rule (equidistant → backward) mirrors AsOfJoin.nearest's `<=`
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pval FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |b AS (SELECT l.event_id, r.ts AS bts, r.pval AS bval
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
        |f AS (SELECT l.event_id, r.ts AS fts, r.pval AS fval
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts)
        |SELECT l.event_id, l.user_id,
        |  CAST(COALESCE(CASE
        |    WHEN f.fts IS NULL AND b.bts IS NULL THEN NULL
        |    WHEN f.fts IS NULL THEN round(b.bval * 100)
        |    WHEN b.bts IS NULL THEN round(f.fval * 100)
        |    WHEN epoch_us(l.ts) - epoch_us(b.bts)
        |         <= epoch_us(f.fts) - epoch_us(l.ts)
        |      THEN round(b.bval * 100)
        |    ELSE round(f.fval * 100) END, -1) AS BIGINT) AS pval_c
        |FROM l JOIN b USING (event_id) JOIN f USING (event_id)
        |ORDER BY l.event_id ASC""".stripMargin),

    // ---- tolerance as-of: backward match only counts within 1 hour ----
    QuerySpec("asof_join_tolerance", (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsOfJoin.backward(clicks, purchases,
          keyCol = "user_id", leftTsCol = "ts", rightTsCol = "ts",
          payload = Seq("pval"), matchedTsAs = Some("mts"))
        .select(col("event_id"), col("user_id"),
          coalesce(
            when(graft.operators.TimeNorm.epochMicros(col("ts"))
                - graft.operators.TimeNorm.epochMicros(col("mts"))
                <= 3600L * 1000000L,
              round(col("pval") * 100).cast("long")),
            lit(-1L)).as("pval_c"))
        .orderBy(col("event_id").asc)
    },
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pval FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id,
        |  COALESCE(CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
        |    THEN CAST(round(r.pval * 100) AS BIGINT) END, -1) AS pval_c
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id ASC""".stripMargin),

    // ---- nearest as-of with a tolerance bound: only matches within
    // 1 hour on EITHER side count; equidistant in-tolerance ties
    // resolve backward; neither side in tolerance → -1 sentinel ----
    QuerySpec("asof_join_nearest_tolerance", (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("pval"))
      graft.operators.AsOfJoin.nearest(clicks, purchases,
          keyCol = "user_id", leftTsCol = "ts", rightTsCol = "ts",
          payload = Seq("pval"),
          toleranceUs = Some(3600L * 1000000L))
        .select(col("event_id"), col("user_id"),
          coalesce(round(col("pval") * 100).cast("long"), lit(-1L))
            .as("pval_c"))
        .orderBy(col("event_id").asc)
    },
      // the composed-ASOF nearest oracle with a validity bound per
      // side: a match only counts within 1 h (inclusive); backward wins
      // in-tolerance ties, mirroring AsOfJoin.nearest's `<=`
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pval FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |b AS (SELECT l.event_id, r.ts AS bts, r.pval AS bval
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
        |f AS (SELECT l.event_id, r.ts AS fts, r.pval AS fval
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts),
        |g AS (SELECT l.event_id, l.user_id,
        |        b.bval, f.fval,
        |        (b.bts IS NOT NULL AND
        |         epoch_us(l.ts) - epoch_us(b.bts) <= 3600000000) AS vb,
        |        (f.fts IS NOT NULL AND
        |         epoch_us(f.fts) - epoch_us(l.ts) <= 3600000000) AS vf,
        |        epoch_us(l.ts) - epoch_us(b.bts) AS bgap,
        |        epoch_us(f.fts) - epoch_us(l.ts) AS fgap
        |      FROM l JOIN b USING (event_id) JOIN f USING (event_id))
        |SELECT event_id, user_id,
        |  CAST(COALESCE(CASE
        |    WHEN vb AND (NOT vf OR bgap <= fgap) THEN round(bval * 100)
        |    WHEN vf THEN round(fval * 100) END, -1) AS BIGINT) AS pval_c
        |FROM g
        |ORDER BY event_id ASC""".stripMargin),

    // ---- hybrid retrieval: BM25 lexical top-50 fused with exact
    // inner-product vector top-50 (hashed-BoW milli embeddings, doc 0
    // as the query) by reciprocal-rank fusion. Rankings are computed
    // distributed (TakeOrderedAndProject top-50 each); fusion touches
    // only the two 50-row results. Exact-integer dots and floor-div
    // RRF weights keep the whole pipeline hash-matchable ----
    QuerySpec("q_hybrid_rrf", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val lexTop = graft.operators.TextAnalysis
        .bm25Scores(docs, Bm25Terms)
        .orderBy(col("score_milli").desc, col("doc_id").asc)
        .limit(50).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      val embM = docs.select(col("doc_id"),
        graft.operators.TextAnalysis.hashEmbeddingMilli(col("text"))
          .as("v"))
      val qv = embM.filter(col("doc_id") === 0L)
        .head().getSeq[Long](1)
      // codegen'd exact-integer dot (vfs_long_dot == the old
      // aggregate∘zip_with HOF chain bit-for-bit)
      val dot = vfs_long_dot(col("v"), typedLit(qv))
      val vecTop = embM
        .filter(col("doc_id") =!= 0L)
        .select(col("doc_id"), dot.as("dot"))
        .filter(col("dot") > 0L)
        .orderBy(col("dot").desc, col("doc_id").asc)
        .limit(50).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      graft.operators.Knn.rrfFuse(s, Seq(lexTop, vecTop))
        .select(col("id").as("doc_id"), col("rrf_milli"))
        .orderBy(col("rrf_milli").desc, col("doc_id").asc)
    },
      hybridRrfOracle),

    // ---- BATCH hybrid retrieval: per qid 0..23, workload-BM25
    // top-50 fused with exact milli-dot vector top-50 (query vector =
    // doc qid's embedding, self excluded) via rrfFuseBatch — the
    // whole pipeline is DataFrame-native: inverted-index BM25, one
    // broadcast batch-dot scan, per-qid window top-k, union + hash
    // agg fusion. No driver loops anywhere ----
    QuerySpec("q_hybrid_rrf_batch", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // fused workload-BM25 top-50: per-doc kernel scores every qid
      // locally and pipelines into the bounded-heap partial top-k —
      // the qid × doc cross never shuffles (bit-identical to
      // bm25ScoresTable + rankByScore, spec-pinned; the oracle
      // re-proves it here)
      val lexRanked = graft.operators.TextAnalysis.bm25TopK(
        docs, Bm25Workload.toDF("qid", "term"), k = 50)
      val embM = docs.select(col("doc_id"),
        graft.operators.TextAnalysis.hashEmbeddingMilli(col("text"))
          .as("v"))
      val queries = embM.filter(col("doc_id") < 24)
        .select(col("doc_id").as("qid"), col("v").as("qv"))
      // codegen'd exact-integer dot (bit-identical to the HOF chain)
      val dot = vfs_long_dot(col("v"), col("qv"))
      val vecRanked = graft.operators.Knn.rankByScore(
        embM.crossJoin(broadcast(queries))
          .filter(col("doc_id") =!= col("qid"))
          .select(col("qid"), col("doc_id"), dot.as("dot"))
          .filter(col("dot") > 0L),
        k = 50, idCol = "doc_id", scoreCol = "dot")
      graft.operators.Knn
        .rrfFuseBatch(Seq(lexRanked, vecRanked), idCol = "doc_id")
        .orderBy(col("qid").asc, col("rrf_milli").desc,
          col("doc_id").asc)
    },
      hybridRrfBatchOracle),

    // ---- END-TO-END batch hybrid search through the ONE public call
    // (Knn.hybridSearchBatch): workload-BM25 top-50 + FULL-PROBE IVF
    // top-50 over a standing hashed-BoW index, RRF-fused inside the
    // operator. Full probe (nProbe = nCentroids) degenerates the ANN
    // half to exact top-k, and the milli embeddings are integer-valued
    // so euclidean distances are exact in double in both engines —
    // every rank, and therefore every fused weight, is hash-matchable.
    // (q_hybrid_rrf_batch proves the composed halves; this row proves
    // the single packaged call a user would actually invoke.) ----
    QuerySpec("q_hybrid_search_batch", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val embM = docs.select(col("doc_id").as("id"),
        graft.operators.TextAnalysis.hashEmbeddingMilli(col("text"))
          .cast("array<float>").as("values"))
      val idx = java.nio.file.Files
        .createTempDirectory("verify-hybrid-ivf").toString
      graft.operators.IvfIndex.build(embM, idx, nCentroids = 4,
        Metric.Euclidean)
      val termWl = Bm25Workload.toDF("qid", "term")
      val vecWl = embM.filter(col("id") < 24)
        .select(col("id").as("qid"), col("values").as("qvalues"))
      graft.operators.Knn.hybridSearchBatch(docs, idx, termWl, vecWl,
          kEach = 50, nProbe = 4)
        .orderBy(col("qid").asc, col("rrf_milli").desc,
          col("doc_id").asc)
    },
      hybridSearchBatchOracle),

    // ---- one-pass data profile: per-column rows/nulls/distinct/
    // min/max over the documents table in a single aggregate scan ----
    QuerySpec("q_profile", (s, dir) => {
      graft.operators.Profile.profile(
          s.read.parquet(s"$dir/documents.parquet"),
          Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy(col("column").asc)
    },
      {
      def one(c: String) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_s,
           |  CAST(max($c) AS VARCHAR) AS max_s
           |FROM documents""".stripMargin
      Seq("doc_id", "lang", "source", "n_chars").map(one)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\" ASC")
    }),

    // ---- sessionization: gap > 30 min starts a new session ----
    QuerySpec("w_sessionize", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
        .select(col("user_id"),
          graft.operators.TimeNorm.epochMicros(col("ts")).as("us"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us").asc)
      val gap = when(col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1)
        .otherwise(when(lag(col("us"), 1).over(w).isNull, 1).otherwise(0))
      ev.withColumn("new_s", gap)
        .withColumn("session_id", sum(col("new_s")).over(w).cast("long"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), min(col("us")).as("start_us"))
        .orderBy(col("user_id").asc, col("session_id").asc)
    },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |m AS (SELECT user_id, us,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
        |       THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id, us,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY us) AS session_id FROM m)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(us) AS start_us
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id ASC, session_id ASC""".stripMargin)
  )

  /** pmod(signed FNV hash of `text`, 100) — Spark's pmod on the SIGNED
    * BIGINT, reproduced from the unsigned HUGEINT fold: sign-fold
    * first, then ((x % 100) + 100) % 100 (2^64 % 100 = 16, so an
    * unsigned mod would NOT match). */
  private def duckHashBucket100: String =
    s"((${duckSigned(duckFnvFold("bs"))} % 100) + 100) % 100"

  /** KMV distinct estimate over the signed FNV hash — same float
    * arithmetic as the Spark side (DOUBLE division + round), exact
    * when fewer than k distinct hashes exist. */
  private def kmvDistinctOracle: String =
    s"""WITH b AS (SELECT DISTINCT $duckUtf8Bytes AS bs FROM documents),
       |h AS (SELECT DISTINCT ${duckSigned(duckFnvFold("bs"))} AS h FROM b),
       |t AS (SELECT h FROM h ORDER BY h ASC LIMIT 64)
       |SELECT CASE WHEN count(*) < 64 THEN count(*)
       |  ELSE CAST(round(63.0 /
       |    (CAST(max(h) AS DOUBLE) / 1.8446744073709552e19 + 0.5)) AS BIGINT)
       |  END AS est
       |FROM t""".stripMargin

  private def sampleHashOracle: String =
    s"""WITH b AS (SELECT doc_id, lang, n_chars, $duckUtf8Bytes AS bs
       |           FROM documents)
       |SELECT doc_id, lang, n_chars FROM b
       |WHERE $duckHashBucket100 < 10
       |ORDER BY doc_id ASC""".stripMargin

  private def splitAssignOracle: String =
    s"""WITH b AS (SELECT lang, n_chars, $duckUtf8Bytes AS bs
       |           FROM documents),
       |s AS (SELECT lang, n_chars,
       |  CASE WHEN $duckHashBucket100 < 80 THEN 'train'
       |       WHEN $duckHashBucket100 < 90 THEN 'val'
       |       ELSE 'test' END AS split FROM b)
       |SELECT split, lang, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM s GROUP BY split, lang
       |ORDER BY split ASC, lang ASC""".stripMargin

  /** Count-min cells and estimates recomputed in DuckDB over the same
    * salted portable hash (`key#r`). */
  private def countMinOracle: String = {
    val salted = "(event_type || '#' || CAST(r AS VARCHAR))"
    val cExpr = s"((${duckSigned(duckFnvFold(duckUtf8BytesOf(salted)))}" +
      " % 64) + 64) % 64"
    s"""WITH ev AS (SELECT event_type FROM events),
       |rows_r AS (SELECT event_type, unnest(range(0, 4)) AS r FROM ev),
       |cells AS (SELECT r, $cExpr AS c, count(*) AS cnt
       |          FROM rows_r GROUP BY r, c),
       |probes AS (SELECT DISTINCT event_type FROM ev),
       |pr AS (SELECT event_type, unnest(range(0, 4)) AS r FROM probes),
       |pc AS (SELECT event_type, r, $cExpr AS c FROM pr),
       |est AS (SELECT event_type,
       |          min(COALESCE(cells.cnt, 0)) AS est
       |        FROM pc LEFT JOIN cells USING (r, c)
       |        GROUP BY event_type),
       |truth AS (SELECT event_type, count(*) AS n_true FROM ev
       |          GROUP BY event_type)
       |SELECT est.event_type, est.est, truth.n_true
       |FROM est JOIN truth USING (event_type)
       |ORDER BY event_type ASC""".stripMargin
  }

  /** Bloom build + probe recomputed in DuckDB over the same salted
    * portable hash (`gram#r`), 32-bit words in BIGINT. */
  private def bloomOracle: String = {
    val salted = "(gram || '#' || CAST(r AS VARCHAR))"
    val pos = s"((${duckSigned(duckFnvFold(duckUtf8BytesOf(salted)))}" +
      " % 4096) + 4096) % 4096"
    s"""WITH toks AS (SELECT source,
       |    string_split_regex(trim(lower(text)), '\\s+') AS s
       |  FROM documents),
       |g AS (SELECT source,
       |    unnest(list_distinct([s[i] || ' ' || s[i+1]
       |      for i in range(1, len(s))])) AS gram
       |  FROM toks),
       |ref AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
       |probes AS (SELECT DISTINCT gram FROM g),
       |bpos AS (SELECT $pos AS pos
       |  FROM (SELECT gram, unnest(range(0, 3)) AS r FROM ref)),
       |words AS (SELECT pos // 32 AS w,
       |    bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS bits
       |  FROM bpos GROUP BY 1),
       |ppos AS (SELECT gram, pos // 32 AS w,
       |    CAST(1 AS BIGINT) << (pos % 32) AS m
       |  FROM (SELECT gram, $pos AS pos
       |    FROM (SELECT gram, unnest(range(0, 3)) AS r FROM probes))),
       |hits AS (SELECT gram,
       |    min(CASE WHEN (COALESCE(bits, 0) & m) = m THEN 1 ELSE 0 END)
       |      AS hit
       |  FROM ppos LEFT JOIN words USING (w) GROUP BY gram)
       |SELECT hits.gram, CAST(hit AS BIGINT) AS hit,
       |  CAST(CASE WHEN ref.gram IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |    AS in_ref
       |FROM hits LEFT JOIN ref ON hits.gram = ref.gram
       |ORDER BY hits.gram ASC""".stripMargin
  }

  private def weightedSampleOracle: String =
    s"""WITH b AS (SELECT lang, n_chars, $duckUtf8Bytes AS bs
       |           FROM documents)
       |SELECT lang, count(*) AS n_kept,
       |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |FROM b
       |WHERE CAST(${duckSigned(duckFnvFold("bs"))} AS DOUBLE)
       |    / 1.8446744073709552e19 + 0.5
       |  < least(1.0, CAST(n_chars AS DOUBLE) / 500.0)
       |GROUP BY lang
       |ORDER BY lang ASC""".stripMargin

  /** Batch hybrid retrieval oracle: per qid 0..23, workload-BM25
    * top-50 fused with exact milli-dot vector top-50 (query vector =
    * doc qid's hashed-BoW embedding, self excluded) by the same
    * floor(10⁶/(60+rank)) weights as the single-query twin — every
    * stage exact-integer. */
  private def hybridRrfBatchOracle: String =
    s"""WITH $hashedBowCtes,
       |m AS (SELECT doc_id, list_transform(cnts, x -> CASE WHEN nrm > 0
       |    THEN CAST(round(x / nrm * 1000) AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END) AS emb_milli
       |  FROM n),
       |$bm25TableCtes,
       |qq AS (SELECT doc_id AS qid, emb_milli AS qv FROM m
       |  WHERE doc_id < 24),
       |dotsq AS (SELECT qq.qid, m.doc_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> m.emb_milli[i] * qq.qv[i])) AS BIGINT) AS dot
       |  FROM m, qq WHERE m.doc_id <> qq.qid),
       |vtopq AS (SELECT qid, doc_id, r FROM (
       |    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY dot DESC, doc_id ASC) AS r
       |    FROM dotsq WHERE dot > 0) WHERE r <= 50),
       |ltopq AS (SELECT qid, doc_id, r FROM (
       |    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY score_milli DESC, doc_id ASC) AS r
       |    FROM scq) WHERE r <= 50)
       |SELECT qid, doc_id,
       |  CAST(COALESCE(floor(1000000.0 / (60 + l.r)), 0)
       |    + COALESCE(floor(1000000.0 / (60 + v.r)), 0) AS BIGINT)
       |    AS rrf_milli
       |FROM ltopq l FULL OUTER JOIN vtopq v USING (qid, doc_id)
       |ORDER BY qid ASC, rrf_milli DESC, doc_id ASC""".stripMargin

  /** Twin of [[hybridRrfBatchOracle]] for the PACKAGED
    * `Knn.hybridSearchBatch` call: the vector half ranks by euclidean
    * DISTANCE over the integer milli embeddings (the IVF index's
    * metric, full probe ⇒ exact, self included at rank 1) instead of
    * dot-product, so `row_number() ORDER BY d ASC, doc_id ASC` mirrors
    * the index's ascending (distance, id) top-k exactly — integer
    * inputs make the doubles identical in both engines. */
  private def hybridSearchBatchOracle: String =
    s"""WITH $hashedBowCtes,
       |m AS (SELECT doc_id, list_transform(cnts, x -> CASE WHEN nrm > 0
       |    THEN CAST(round(x / nrm * 1000) AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END) AS emb_milli
       |  FROM n),
       |$bm25TableCtes,
       |qq AS (SELECT doc_id AS qid, emb_milli AS qv FROM m
       |  WHERE doc_id < 24),
       |distq AS (SELECT qq.qid, m.doc_id,
       |    list_distance(CAST(m.emb_milli AS DOUBLE[]),
       |      CAST(qq.qv AS DOUBLE[])) AS d
       |  FROM m, qq),
       |vtopq AS (SELECT qid, doc_id, r FROM (
       |    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY d ASC, doc_id ASC) AS r
       |    FROM distq) WHERE r <= 50),
       |ltopq AS (SELECT qid, doc_id, r FROM (
       |    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY score_milli DESC, doc_id ASC) AS r
       |    FROM scq) WHERE r <= 50)
       |SELECT qid, doc_id,
       |  CAST(COALESCE(floor(1000000.0 / (60 + l.r)), 0)
       |    + COALESCE(floor(1000000.0 / (60 + v.r)), 0) AS BIGINT)
       |    AS rrf_milli
       |FROM ltopq l FULL OUTER JOIN vtopq v USING (qid, doc_id)
       |ORDER BY qid ASC, rrf_milli DESC, doc_id ASC""".stripMargin

  /** Hybrid retrieval oracle: BM25 top-50 (ltop) ∪ exact milli-dot
    * vector top-50 vs doc 0 (vtop), fused by floor(10⁶/(60+rank))
    * weights — every stage exact-integer, so the fusion hash-matches.
    * `hashedBowCtes` defines the same `t` the bm25 CTEs read. */
  private def hybridRrfOracle: String =
    s"""WITH $hashedBowCtes,
       |m AS (SELECT doc_id, list_transform(cnts, x -> CASE WHEN nrm > 0
       |    THEN CAST(round(x / nrm * 1000) AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END) AS emb_milli
       |  FROM n),
       |$bm25ScCtes,
       |qq AS (SELECT emb_milli AS qv FROM m WHERE doc_id = 0),
       |dots AS (SELECT m.doc_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> m.emb_milli[i] * qq.qv[i])) AS BIGINT) AS dot
       |  FROM m, qq WHERE m.doc_id <> 0),
       |vtop AS (SELECT doc_id, r FROM (
       |    SELECT doc_id,
       |      row_number() OVER (ORDER BY dot DESC, doc_id ASC) AS r
       |    FROM dots WHERE dot > 0) WHERE r <= 50),
       |ltop AS (SELECT doc_id, r FROM (
       |    SELECT doc_id,
       |      row_number() OVER (ORDER BY score_milli DESC, doc_id ASC) AS r
       |    FROM sc WHERE score_milli > 0) WHERE r <= 50)
       |SELECT doc_id,
       |  CAST(COALESCE(floor(1000000.0 / (60 + l.r)), 0)
       |    + COALESCE(floor(1000000.0 / (60 + v.r)), 0) AS BIGINT)
       |    AS rrf_milli
       |FROM ltop l FULL OUTER JOIN vtop v USING (doc_id)
       |ORDER BY rrf_milli DESC, doc_id ASC""".stripMargin
}
