package graft

import org.apache.spark.sql.functions._
import graft.sources.LineProtocol

/** Plan-shape assertions — the properties that decide whether these
  * operators survive a 100 TB / 1000-executor deployment:
  * pushdown reaches the scan, dims broadcast, bucketing removes the join
  * shuffle, day partitioning prunes at the source. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters and projection push down to the parquet scan") {
    val df = Tables.table(spark, sf, "lineitem")
      .filter($"l_quantity" > 45)
      .select($"l_orderkey", $"l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"))
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"))
  }

  test("dimension joins broadcast at scale, stay in-job on the small profile") {
    // round 17: q03's dim broadcast follows the profile
    // (ExecProfile.maybeBroadcast) — on the small path a broadcast build
    // is its own scheduled job for a 25-row dim, so the dims join runs
    // in-job; at scale (auto-broadcast enabled) the hint stays.
    val q = SparkEntry.queries("q03_join_revenue")(spark, sf)
    val plan = planOf(q)
    assert(!plan.contains("BroadcastExchange"),
      "small profile must not schedule a broadcast-build job")
    // the scale side of maybeBroadcast: with a broadcast threshold set,
    // the same dim subtree plans as a BroadcastHashJoin
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      val dims = graft.ExecProfile.maybeBroadcast(
        Tables.table(spark, sf, "nation").join(Tables.table(spark, sf, "region"),
          $"n_regionkey" === $"r_regionkey"))
      val j = Tables.table(spark, sf, "customer")
        .join(dims, $"c_nationkey" === $"n_nationkey")
      assert(planOf(j).contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
  }

  test("bucketed tables join without a shuffle") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val li = Tables.table(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    val ord = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
    li.write.mode("overwrite").bucketBy(4, "l_orderkey")
      .sortBy("l_orderkey").option("path", s"$wh/li_b").saveAsTable("li_b")
    ord.write.mode("overwrite").bucketBy(4, "o_orderkey")
      .sortBy("o_orderkey").option("path", s"$wh/ord_b").saveAsTable("ord_b")
    // disable auto-broadcast so the join exercises bucket co-location
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_orderkey").agg(sum($"l_quantity"))
      val plan = planOf(joined)
      // co-located bucketed join: sort-merge with NO Exchange on either side
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("day-partitioned measurement writes prune on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lp").toString
    val lines = (0 until 48).map { h =>
      val ns = 1704067200000000000L + h * 3600L * 1000000000L
      s"cpu,host=h${h % 4} value=${h}.5 $ns"
    }.toDS()
    val cpu = LineProtocol.toMeasurementTable(LineProtocol.parse(lines), "cpu",
      tagKeys = Seq("host"), floatKeys = Seq("value"))
    graft.server.Store.appendDays(cpu, dir)
    val read = spark.read.parquet(dir)
      .filter($"day" === "2024-01-02")
    assert(read.count() == 24)
    // the day predicate lands in PartitionFilters (source-level pruning),
    // not a post-scan Filter
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"))
  }

  test("windowed agg partial-aggregates before the shuffle") {
    val q = SparkEntry.queries("q09_time_bucket")(spark, sf)
    val plan = planOf(q)
    // partial HashAggregate below the exchange, final above
    assert("HashAggregate".r.findAllIn(plan).size >= 2)
    assert(plan.contains("Exchange"))
  }

  test("embedding near-dup pair join tiles via shuffle, never broadcasts " +
      "the corpus") {
    val q = SparkEntry.queries("q53_embedding_neardup")(spark, sf)
    val plan = planOf(q)
    assert(plan.contains("CartesianProduct"),
      "pair join must be the shuffle-replicated CartesianProduct")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "corpus must not be broadcast to every task")
  }

  test("semdedup pair join keeps an explicit fixed-N cluster exchange " +
      "(AQE must not coalesce the exploding self-join to 1-2 reducers)") {
    val q = SparkEntry.queries("q119_semdedup")(spark, sf)
    val plan = planOf(q)
    // a user-specified numPartitions repartition renders as
    // REPARTITION_BY_NUM and is exempt from AQE coalescing — the x100
    // sweep measured two 32-second tasks when the small-input exchange
    // was coalesced while the pair OUTPUT exploded
    assert(plan.contains("REPARTITION_BY_NUM"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "pairs strictly via the cluster equi-join")
  }

  test("BPE apply scores tokens through the hashed native expression, " +
      "not a per-token map-literal scan") {
    val q = SparkEntry.queries("q124_bpe_tokenize")(spark, sf)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("tokenscoresum"), plan.take(600))
    assert(!plan.contains("element_at"),
      "element_at over the vocab literal is a linear scan per token")
  }

  test("banded near-dup generates candidates by equi-join: no pair scan " +
      "of any kind") {
    val q = SparkEntry.queries("q88_neardup_banded")(spark, sf)
    val plan = planOf(q)
    assert(!plan.contains("CartesianProduct"), "no cartesian pair scan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "no BNLJ pair scan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"candidates must come from an equi-join:\n$plan")
  }

  test("prefix-filter jaccard self-join is pure equi-join: no pair " +
      "enumeration") {
    val q = SparkEntry.queries("q93_ngram_jaccard")(spark, sf)
    val plan = planOf(q)
    assert(!plan.contains("CartesianProduct"), "no all-pairs scan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "no BNLJ pair scan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"candidates must come from an equi-join:\n$plan")
  }

  test("CMS top-n ranks in-aggregator: no distinct-key enumeration, no " +
      "partitionless window, no UDF") {
    val q = SparkEntry.queries("q56_topn_cms")(spark, sf)
    val plan = planOf(q)
    assert(!plan.contains("Window"), "no WindowExec in the heavy-hitter plan")
    assert(!plan.contains("CrossJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "no sketch×keys join")
    // exactly one aggregation pair (partial+final) over events, nothing else
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r
      .findAllIn(plan).size <= 4)
  }

  test("ANN per-query ranks use the bounded heap, never a window") {
    // a window rank would shuffle every scored (query, candidate) pair
    // into one partition per query — the worst shape a |Q|×|corpus|
    // fan-out can pick; the heap keeps ≤k per query per task map-side
    for (q <- Seq("q27_knn_cosine", "q82_ann_lsh", "q87_ann_ivf",
        "q109_ann_ivfpq")) {
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("Window "), s"$q must not rank via window")
      assert(plan.contains("topk_rows"), s"$q must use topk_rows")
    }
  }

  test("round-5 queries keep scale-safe plans") {
    // q96: window replication + one aggregation pair, no joins at all
    val q96 = planOf(SparkEntry.queries("q96_prom_stats_over_time")(spark, sf))
    assert(!q96.contains("Join"), s"stats_over_time must not join:\n$q96")
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r
      .findAllIn(q96).nonEmpty)
    // q97: one aggregation over the scan, expressions folded inside
    val q97 = planOf(SparkEntry.queries("q97_influxql_math")(spark, sf))
    assert(!q97.contains("Join"), s"math aggregates must not join:\n$q97")
    // q94: fingerprint dedup is aggregation-only
    val q94 = planOf(SparkEntry.queries("q94_fingerprint_dedup")(spark, sf))
    assert(!q94.contains("CartesianProduct") &&
      !q94.contains("BroadcastNestedLoopJoin"))
  }

  test("round-3 PromQL/frontend queries keep scale-safe plans") {
    for (q <- Seq("q72_prom_counter_rate", "q73_promql_agg",
        "q74_promql_binop", "q75_promql_rate", "q84_prom_deriv",
        "q81_influxql_time_offset")) {
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: BNLJ")
      assert(!plan.contains("CartesianProduct"), s"$q: cartesian")
      // aggregations stay partial-before-shuffle
      assert("HashAggregate|ObjectHashAggregate|SortAggregate".r
        .findAllIn(plan).nonEmpty, s"$q: no aggregation found")
    }
    // the newest-wins gridding must HASH-aggregate: the packed decimal
    // ordering key keeps the max_by buffer UnsafeRow-mutable, where a
    // struct key would force a map-side sort of every gridded sample
    val q73 = planOf(SparkEntry.queries("q73_promql_agg")(spark, sf))
    assert(!q73.contains("SortAggregate"),
      s"q73 newest-wins must not sort-aggregate:\n$q73")
    // topk selects via the bounded-heap aggregate (map-side partials,
    // shuffle carries only the selected rows) — never a window rank,
    // which would move every series sample into one partition per step
    val topk = planOf(SparkEntry.queries("q76_promql_topk")(spark, sf))
    assert(!topk.contains("Window "),
      s"q76 must not rank with a window:\n$topk")
    assert(topk.contains("topk_rows"),
      s"q76 must select via the topk_rows aggregate")
  }

  test("slimit ranks series with a distributed top-n, not a global window") {
    val q = SparkEntry.queries("q30_slimit")(spark, sf)
    val plan = planOf(q)
    assert(!plan.contains("Window"),
      "series ranking must not sort all series in one partition")
    assert(plan.contains("TakeOrderedAndProject") || plan.contains("CollectLimit"),
      s"expected a distributed top-n, got:\n$plan")
  }

  test("unbounded fill spines clamp from footer stats: no bounds scan job") {
    // with extentMs registered (parquet footer stats), the fill spine's
    // min/max clamp is a metadata lookup; WITHOUT extent the bounds fold
    // into the plan (Fill.*Auto) instead of a driver min/max collect —
    // either way the whole query is ONE scheduled job
    import graft.query.InfluxQL
    val events = Tables.table(spark, sf, "events")
    val extent = graft.sources.ParquetStats.timeExtentMs(
      spark, s"$sf/events.parquet")
    assert(extent.isDefined)
    val sql = "SELECT mean(value) FROM events GROUP BY time(1d) fill(previous)"
    val sc = spark.sparkContext
    // BUILDING the query must schedule no job in either mode: with extent
    // the clamp is a metadata lookup, without it the bounds are plan
    // operators (Fill.*Auto), never a driver-side min/max collect.
    def buildJobs(group: String, extentMs: Option[(Long, Long)]) = {
      val cat = Map("events" -> InfluxQL.Measurement(
        events, tags = Nil, extentMs = extentMs))
      sc.setJobGroup(group, group)
      val df = InfluxQL.execute(cat, sql)
      df.queryExecution.executedPlan // force full planning too
      sc.clearJobGroup()
      (df, sc.statusTracker.getJobIdsForGroup(group).length)
    }
    val (dfNo, jobsNo) = buildJobs("fill-bounds-build-scan", None)
    val (dfExt, jobsExt) = buildJobs("fill-bounds-build-footer", extent)
    assert(jobsNo == 0,
      s"plan-folded bounds must not run jobs at build time ($jobsNo)")
    assert(jobsExt == 0,
      s"footer-stat bounds must not run jobs at build time ($jobsExt)")
    assert(dfNo.collect().nonEmpty && dfExt.collect().nonEmpty)
    // and the results are identical either way
    val a = InfluxQL.execute(Map("events" -> InfluxQL.Measurement(
      events, Nil, extentMs = extent)), sql).collect().toSeq
    val b = InfluxQL.execute(Map("events" -> InfluxQL.Measurement(
      events, Nil)), sql).collect().toSeq
    assert(a == b)
  }

  test("persisted gateway store: filters push down to every batch's scan") {
    // the durable write path must not cost pushdown: a reloaded
    // measurement is a union of day-partitioned parquet batches, and a
    // tag/time predicate has to reach each leaf scan's PushedFilters
    import graft.server.HttpGateway
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val dir = java.nio.file.Files.createTempDirectory("graft_push").toString
    val g = new HttpGateway(spark, Map.empty, Map.empty,
      persistDir = Some(dir))
    g.start()
    val http = HttpClient.newHttpClient()
    try Seq("m,host=a value=1 60", "m,host=b value=2 120").foreach { l =>
      assert(http.send(HttpRequest.newBuilder(java.net.URI.create(
        s"http://127.0.0.1:${g.boundPort}/write?precision=s"))
        .POST(HttpRequest.BodyPublishers.ofString(l)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() == 204)
    } finally g.stop()
    val g2 = new HttpGateway(spark, Map.empty, Map.empty,
      persistDir = Some(dir))
    val df = g2.measurements("m").df.filter(col("host") === "a")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(host), EqualTo(host,a)]"),
      s"pushdown missing from persisted-store plan:\n$plan")
  }

  test("estimated cardinality aggregates HLL sketches, not raw keys") {
    val catalog = Map("events" -> graft.query.InfluxQL.Measurement(
      Tables.table(spark, sf, "events"), tags = Seq("event_type")))
    val plan = planOf(graft.query.InfluxQL.execute(catalog,
      "SHOW TAG VALUES CARDINALITY FROM events WITH KEY = event_type"))
    // partial sketches combine map-side; the exchange carries one sketch
    // per partition — no Expand/distinct materialization of the key set
    assert(plan.contains("approx_count_distinct"), s"no HLL in:\n$plan")
    assert(!plan.contains("Expand"), s"distinct-expand leaked into:\n$plan")
  }

  test("ivf-pq probe join shuffles codes, never the corpus vectors") {
    import graft.pipeline.Similarity
    val emb = Tables.table(spark, sf, "embeddings")
    val cents = Similarity.ivfTrain(emb, "embedding", "vec_id", k = 4,
      iters = 1)
    val cbs = Similarity.pqTrain(emb, "embedding", "vec_id", dim = 64,
      m = 8, ksub = 8, iters = 1)
    val q = Similarity.ivfPqTopK(emb, emb.filter($"vec_id" < 2),
      "embedding", "vec_id", cents, cbs, dim = 64, nprobe = 2, k = 3)
    val plan = planOf(q)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), "probe must be equi-join")
    // the ADC scoring join reads the index projection — codes + cell;
    // the raw vectors enter only at the shortlist re-rank join
    assert(plan.contains("_codes"), s"index side must carry PQ codes:\n$plan")
    // shortlist re-rank exists: an exact-cosine stage over `_cv`
    assert(plan.contains("_cv"), "re-rank join must read the raw vectors")
  }

  test("salted join equals the plain join on a pathologically skewed key") {
    import graft.operators.Skew
    // 10k rows on ONE key + a sprinkle of others — the distribution that
    // pins a plain hash join's hot key to a single reducer
    val probe = spark.range(0, 10500)
      .select(col("id"),
        when(col("id") < 10000, lit("hot")).otherwise(concat(lit("k"),
          col("id") % 17)).as("k"))
    val build = Seq(("hot", 1.0), ("k3", 3.0), ("k9", 9.0), ("miss", -1.0))
      .toDF("k", "w")
    val plain = probe.join(build, Seq("k"))
      .select("k", "id", "w").as[(String, Long, Double)].collect().toSet
    val salted = Skew.saltedJoin(probe, build, Seq("k"),
        saltFrom = col("id"), salts = 8)
      .select("k", "id", "w").as[(String, Long, Double)].collect().toSet
    assert(salted == plain)
    // left join keeps unmatched probe rows exactly once
    val plainL = probe.join(build, Seq("k"), "left")
      .select("k", "id", "w").as[(String, Long, Option[Double])]
      .collect().toSet
    val saltedL = Skew.saltedJoin(probe, build, Seq("k"),
        saltFrom = col("id"), salts = 8, joinType = "left")
      .select("k", "id", "w").as[(String, Long, Option[Double])]
      .collect().toSet
    assert(saltedL == plainL)
    // the salt actually spreads the hot key: the salted probe side keys
    // (k, salt) take 8 distinct values for "hot"
    val spread = probe.withColumn("_salt",
        pmod(xxhash64(col("id")), lit(8)).cast("int"))
      .filter($"k" === "hot").select("_salt").distinct().count()
    assert(spread == 8L, s"hot key spread over $spread salt buckets")
  }
}
