package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec,
  HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Concat, Timeseries}
import graft.testing.{TempDirs, TestSpark}
import graft.testing.DfAssert.createDf

/** Physical-plan regression guards: the scale properties the library
  * promises (pushdown reaching scans, shuffle-free concat, broadcast
  * dims, bounded exchanges) must survive future edits.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q_topk_similar: query-side filter is pushed to the parquet scan") {
    val p = plan("q_topk_similar")
    assert(p.contains("PushedFilters") && p.contains("LessThan(vec_id,10)"),
      s"vec_id<10 must reach the scan:\n${p.take(2000)}")
  }

  test("concat is shuffle-free: Project + Union only, no Exchange") {
    val a = createDf(spark, "id int, v double", Seq(Seq[Any](1, 1.0)))
    val b = createDf(spark, "id int", Seq(Seq(2)))
    val p = Concat.concat(Seq(a, b)).queryExecution.executedPlan.toString
    assert(p.contains("Union") && !p.contains("Exchange"),
      s"concat must not shuffle:\n$p")
  }

  test("q_join_agg broadcasts the dimension tables") {
    val p = plan("q_join_agg")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n${p.take(2000)}")
  }

  test("q_star_join: all three dims broadcast, region filter reaches its scan") {
    val p = plan("q_star_join")
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBroadcast >= 3, s"supplier/nation/region must broadcast:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("EqualTo(r_name,ASIA)") || p.contains("r_name = ASIA") ||
      p.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)"),
      s"r_name = ASIA must prune the region scan:\n${p.take(2500)}")
  }

  test("ffill introduces exactly one exchange (the window partition)") {
    val e = graft.sources.Sources.readTable(spark, dir, "events")
    val p = Timeseries.ffill(e, Seq("user_id"), Seq("ts", "event_id"), Seq("value"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, found $exchanges:\n${p.take(2000)}")
  }

  test("q_window_sum has no whole-frame window (global total rides a broadcast agg)") {
    val p = plan("q_window_sum")
    val windowLines = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty, s"expected a per-customer Window node:\n${p.take(2000)}")
    assert(windowLines.forall(_.contains("o_custkey")),
      s"every Window must partition by o_custkey (no single-partition window):\n$windowLines")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"global_total must attach via broadcast join:\n${p.take(2000)}")
  }

  test("q_range_join is an equi-join on (key, bucket) — never a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must not plan a nested loop:\n${p.take(2000)}")
    assert(p.contains("Join") || p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"expected a hash/merge equi-join:\n${p.take(2000)}")
  }

  test("q_grouped_index: brand dim broadcasts, base-basket join stays an equi-join") {
    val p = plan("q_grouped_index")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"grouped index must never plan a nested loop:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the part dimension must ride a broadcast:\n${p.take(2000)}")
  }

  test("q_geks_index: pair fan-out is an item equi-join (linear, never all-pairs)") {
    val pairs = graft.ops.PriceIndex.tornqvistLnPairs(
      graft.sources.Sources.readTable(spark, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1995),
      "l_partkey", date_format(col("l_shipdate"), "yyyy-MM"),
      "l_extendedprice", "l_quantity", maxLag = 12)
    val p = pairs.queryExecution.executedPlan
    val h = new AdaptiveSparkPlanHelper {}
    val nested = h.collectFirst(p) {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(nested.isEmpty, s"Törnqvist pair layer must self-join on item, not all-pairs:\n$p")
    val equi = h.collectFirst(p) {
      case j: SortMergeJoinExec => j.leftKeys
      case j: HashJoin => j.leftKeys
    }
    assert(equi.exists(_.nonEmpty), s"the pair self-join must be an equi-join:\n$p")
  }

  test("q_dedup_minhash computes the signature once per join side (no pushdown duplication)") {
    // Regression guard: a sig.isNotNull-style filter gets predicate-pushed
    // below the projection and rewritten to isnotnull(minhashsig(...)),
    // doubling the per-document signature cost. The plan must contain the
    // expression at most twice (once per self-join side).
    val p = plan("q_dedup_minhash")
    val n = "minhashsig".r.findAllIn(p).length
    assert(n <= 2, s"minhashsig appears $n times — pushdown is duplicating the signature")
  }

  test("q_decontaminate broadcasts the benchmark side (corpus never shuffles for the join)") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"benchmark shingles must broadcast:\n${p.take(2000)}")
  }

  test("bucketed fact-fact join is Exchange-free (bucketed scans feed the merge join)") {
    val (liT, oT) = graft.queries.JoinQueries.bucketedTables(spark, dir)
    val joined = spark.table(liT)
      .join(spark.table(oT).hint("merge"), col("l_orderkey") === col("o_orderkey"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n${p.take(2000)}")
    assert(!p.contains("Exchange"),
      s"bucketed-on-key join must not shuffle either side:\n${p.take(2000)}")
    assert(p.contains("Bucketed: true"),
      s"both scans must be bucketed reads:\n${p.take(2000)}")
  }

  test("partitioned write -> partition-pruned read: predicate becomes a directory filter") {
    val out = TempDirs("graft-partitioned").toString
    val e = graft.sources.Sources.readTable(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    graft.sources.Sources.writePartitioned(e, out, Seq("event_type"))
    val read = spark.read.parquet(out).filter(col("event_type") === "click")
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("event_type"),
      s"event_type predicate must prune partitions, not scan data:\n${p.take(1500)}")
    // the pruned scan must not ALSO carry the predicate as a data filter
    assert(!p.contains("PushedFilters: [IsNotNull(event_type)"),
      s"partition column should not appear as a parquet data filter:\n${p.take(1500)}")
    val expected = e.filter(col("event_type") === "click").count()
    assert(read.count() == expected)
  }

  test("q_bloom_join: might_contain prunes the fact scan BEFORE the semi join") {
    val p = plan("q_bloom_join")
    // the bloom literal probe must sit in a Filter directly over the
    // lineitem scan — pruning after the join would be pure overhead
    val factScan = p.indexOf("lineitem.parquet")
    val probe = p.indexOf("might_contain")
    assert(probe >= 0, s"expected a might_contain probe:\n${p.take(1500)}")
    assert(factScan >= 0 && probe < factScan,
      "might_contain must appear above (i.e. filtering) the fact scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_fuzzy_join pairs via the signature equi-join — never an in-block cross product") {
    val p = plan("q_fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"signature path must stay an equi-join:\n${p.take(2000)}")
    // the join key must include the exploded signature, not just the
    // 25-value nation block (which caps parallelism at 25 tasks)
    assert(p.contains("__sig"), s"expected the deletion-signature join key:\n${p.take(2000)}")
  }

  test("q_jaro signature regime plans the (block, __sig) equi-join — no cross product") {
    // pairBudget = 0 forces the signature path (the regime q_jaro rides
    // at scale); the join key must include the exploded signature so
    // parallelism tracks signature cardinality, not the 25-value block
    val c = graft.sources.Sources.readTable(spark, dir, "customer")
    val p = graft.text.Fuzzy.jaroDupPairs(c, "c_custkey", "c_name",
        Seq(col("c_nationkey"), col("c_mktsegment")), threshold = 0.975,
        pairBudget = 0L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"signature path must stay an equi-join:\n${p.take(2000)}")
    assert(p.contains("__sig"), s"expected the deletion-signature join key:\n${p.take(2000)}")
  }

  test("q_jaro sub-budget regime plans the plain in-block equi-join (no signature explode)") {
    // at sf0.001 the exact pair-count probe lands under the default
    // budget, so the cost-based choice must pick the quadratic branch:
    // an equi-join on the block keys alone, with no signature machinery
    val c = graft.sources.Sources.readTable(spark, dir, "customer")
    val p = graft.text.Fuzzy.jaroDupPairs(c, "c_custkey", "c_name",
        Seq(col("c_nationkey"), col("c_mktsegment")), threshold = 0.975)
      .queryExecution.executedPlan.toString
    assert(!p.contains("__sig"),
      s"sub-budget regime must not pay the signature explode:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"in-block join must be an equi-join on the block keys:\n${p.take(2000)}")
    assert(p.contains("Join"), s"expected the block equi-join:\n${p.take(2000)}")
  }

  test("q_sq8: the codebook ships as plan literals — zero joins, one scan") {
    val p = plan("q_sq8")
    assert(!p.contains("Join"), s"pass 2 must be pure per-row codegen:\n${p.take(2000)}")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly 1 scan in the audit pass, found $scans")
  }

  test("q_burrows: the top-M spine is a literal explode — no cross product anywhere") {
    val p = plan("q_burrows")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"densification must be a projection, not a BNLJ:\n${p.take(2000)}")
  }

  test("q_align_uniform: offset pairs join as hash equi-joins, never a cross product") {
    val p = plan("q_align_uniform")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"id-shifted pairing must stay an equi-join:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"expected hash/merge equi-joins:\n${p.take(2000)}")
  }

  test("q_resample: every stage hash-partitions on the series key (no global sort until output)") {
    val p = plan("q_resample")
    val parts = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(parts >= 1, s"expected user_id hash partitioning:\n${p.take(2000)}")
    val rangeBeforeSort = p.linesIterator.filter(_.contains("Exchange rangepartitioning")).size
    assert(rangeBeforeSort <= 1, "only the final orderBy may range-partition")
  }

  test("q_corr is one scan: a single aggregate pass, no joins") {
    val p = plan("q_corr")
    assert(!p.contains("Join"), s"corr must not self-join:\n${p.take(2000)}")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly 1 scan, found $scans")
  }

  test("q_outliers: bounds attach hint-free; AQE broadcasts them at this scale") {
    // the hint was removed (a per-entity grouping would make the bounds
    // table row-scaled and a hard-coded broadcast a driver OOM): assert
    // the RUNTIME decision instead — at test scale the measured bounds
    // table is tiny, so the final adaptive plan must use a broadcast join
    val df = graft.SparkEntry.queries("q_outliers")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"no cross product:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"AQE must broadcast the measured tiny bounds table:\n${p.take(2500)}")
  }

  test("weightedSample plans TakeOrderedAndProject (per-partition k-heaps, no full sort)") {
    val d = spark.range(1000).toDF("id").withColumn("w", col("id") % 7 + 1)
    val p = graft.ops.Sampling.weightedSample(d, "id", "w", 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be heap-based, not a global sort:\n${p.take(1500)}")
  }

  test("discretizeByCutpoints is a narrow map: no Exchange at all") {
    val d = spark.range(1000).toDF("id").withColumn("v", col("id").cast("double"))
    val p = graft.ops.Binning.discretizeByCutpoints(d, "v", Seq(250.0, 500.0, 750.0))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"cutpoint assignment must not shuffle:\n${p.take(1500)}")
  }

  test("grouped-apply plans exactly one hash exchange, clustering below MapGroups") {
    val p = plan("q_grouped_apply")
    assert(p.contains("MapGroups"), s"expected MapGroups node:\n${p.take(1500)}")
    // children print BELOW their consumer: the group-clustering
    // Sort/Exchange must appear in the subtree AFTER the MapGroups line
    val subtree = p.substring(p.indexOf("MapGroups"))
    assert(subtree.contains("Sort") && subtree.contains("Exchange hashpartitioning"),
      s"groups must be hash-clustered + sorted below MapGroups:\n${subtree.take(1500)}")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1, s"expected exactly 1 hash exchange, found $hashExchanges")
  }

  test("q_scd2: both window passes ride ONE user_id exchange (plus the final sort)") {
    val p = plan("q_scd2")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"change-compression and interval windows must share one shuffle, found $hashExchanges:\n${p.take(2000)}")
    assert("Window \\[".r.findAllIn(p).length >= 2, s"expected two Window passes:\n${p.take(2000)}")
  }

  test("q_expectations: one scan, no joins or unions of per-rule passes") {
    val p = plan("q_expectations")
    assert(!p.contains("Join") && !p.contains("Union"),
      s"the rule report must be a single aggregation chain:\n${p.take(2000)}")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"expected exactly one scan:\n${p.take(2000)}")
  }

  test("q_anomaly: prefix-sum reformulation keeps one event_type exchange") {
    val p = plan("q_anomaly")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"cumulative + lag windows must share one shuffle, found $hashExchanges:\n${p.take(2000)}")
  }

  test("q_cooccur and q_pagerank never plan a cartesian product") {
    for (q <- Seq("q_cooccur", "q_pagerank")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q must not cross-join:\n${p.take(1500)}")
    }
  }

  test("q_curate: the 6-stage curation chain plans no cartesian product") {
    // every pair-producing stage (Jaccard near-dup, decontamination) must
    // stay an equi-join on shingle keys, never an all-pairs product
    val p = plan("q_curate")
    assert(!p.contains("CartesianProduct"),
      s"curation chain must stay shingle-equi-joined:\n${p.take(1500)}")
  }

  test("q_boilerplate: line DF shuffles 8-byte hashes, flag join is an equi-join") {
    val p = plan("q_boilerplate")
    assert(!p.contains("CartesianProduct"),
      s"boilerplate flagging must stay hash-equi-joined:\n${p.take(1500)}")
    assert(p.contains("xxhash64"),
      s"the DF aggregation must key on line hashes, not line strings:\n${p.take(1500)}")
  }

  test("q_kmeans: assignment is a literal-center map — no join, no broadcast in the returned plan") {
    // training loops on the driver with k·d-integer center collects; the
    // RETURNED assignment plan must be scan → narrow projection (centers
    // are literals) → sort. A join or broadcast here would mean centers
    // went through the data path.
    val p = plan("q_kmeans")
    assert(!p.contains("Join") && !p.contains("CartesianProduct") && !p.contains("Broadcast"),
      s"kmeans assignment must be a narrow literal-center map:\n${p.take(1500)}")
  }

  test("q_cluster_sample: literal-center assignment + window cap — no join anywhere") {
    val p = plan("q_cluster_sample")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"cluster sampling must be narrow assignment + WindowGroupLimit cap:\n${p.take(1500)}")
    assert(p.contains("WindowGroupLimit"),
      s"the per-cell cap must push k-row limits below the rank window:\n${p.take(1500)}")
  }

  test("q_dsir: equi-join scoring, no cartesian (the 1-row totals ride a broadcast)") {
    val p = plan("q_dsir")
    assert(!p.contains("CartesianProduct"),
      s"DSIR must never plan a real cartesian:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"selection must be top-k (TakeOrdered), not a global sort:\n${p.take(1500)}")
  }

  test("q_pq: ADC scans corpus rows against the broadcast query LUTs; windowed top-k") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val p = SparkEntry.queries("q_pq")(spark, dir).queryExecution.executedPlan
    val h = new AdaptiveSparkPlanHelper {}
    val scan = h.collect(p) { case j: BroadcastNestedLoopJoinExec => j }
    assert(scan.length == 1 && scan.head.buildSide == BuildRight &&
      h.collectFirst(scan.head.right) { case b: BroadcastExchangeExec => b }.isDefined,
      s"ADC must cross the streamed codes with the broadcast LUTs:\n$p")
    assert(h.collectFirst(p) { case c: CartesianProductExec => c }.isEmpty &&
      h.collectFirst(p) { case a: BaseAggregateExec => a }.isEmpty,
      s"no cartesian and no (query, neighbor) aggregation:\n$p")
    // the per-query top-k window and the output sort: no exchange scores pairs
    assert(h.collect(p) { case e: ShuffleExchangeExec => e }.length == 2,
      s"exchanges beyond the top-k window and the output sort:\n$p")
    assert(h.collectFirst(p) { case w: WindowGroupLimitExec => w }.isDefined,
      s"per-query top-k must bound window state to k rows per partition:\n$p")
  }

  test("q_span_mask: frequency and survivor joins run on hashes; no cartesian") {
    val p = plan("q_span_mask")
    assert(!p.contains("CartesianProduct"),
      s"span masking must never cross-join:\n${p.take(1500)}")
    assert(p.contains("shinglehash64") || p.contains("ShingleHash64") || p.contains("shingle_hash64"),
      s"span keys must be the native 8-byte hashes, not strings:\n${p.take(2000)}")
  }

  test("q_apportion: quota math joins are equi (no cartesian beyond 1-row broadcasts)") {
    val p = plan("q_apportion")
    assert(!p.contains("CartesianProduct"),
      s"apportionment must never plan a real cartesian:\n${p.take(1500)}")
  }

  test("q_retrieval_eval: postings prune below the (doc, term) aggregation") {
    val p = plan("q_retrieval_eval")
    assert(!p.contains("CartesianProduct"),
      s"batch retrieval must stay equi-joined:\n${p.take(1500)}")
    // the semi-join against the query-term set must appear (term pruning
    // before the aggregation — the O(matched postings) contract)
    assert(p.contains("LeftSemi"),
      s"the distinct-term semi-join must prune postings:\n${p.take(2000)}")
  }

  test("index family: equi-joined matched samples, no cartesian") {
    for (q <- Seq("q_price_index", "q_elementary_index", "q_chained_index",
        "q_cleansed_index", "q_superlative_index", "q_grouped_index")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q must equi-join the base/previous basket:\n${p.take(1500)}")
    }
  }

  test("drift monitors: map-combined counts, no cartesian") {
    for (q <- Seq("q_embed_drift", "q_vocab_drift")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q must stay equi-joined (the spine sides are bounded):\n${p.take(1500)}")
    }
  }

  test("q_wav and q_resize: codec chains never shuffle payload bytes") {
    for (q <- Seq("q_wav", "q_resize")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must be narrow (sort for output order only):\n${p.take(1500)}")
    }
  }

  test("q_diversity is a narrow map: no Exchange before the final sort") {
    val p = plan("q_diversity")
    assert(!p.contains("Exchange hashpartitioning"),
      s"diversity scoring must not shuffle:\n${p.take(1500)}")
  }

  test("joinSizeExact moves counts, not rows: both sides partial-aggregate below the join") {
    val li = graft.sources.Sources.readTable(spark, dir, "lineitem")
    val p = graft.ops.Stats.joinSizeExact(li, "l_partkey", li, "l_partkey")
      .queryExecution.executedPlan.toString
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0, s"expected a count-table join:\n${p.take(1500)}")
    // the join's subtree must aggregate before exchanging (map-side combine)
    assert(p.substring(joinIdx).contains("HashAggregate"),
      s"per-key counts must reduce below the join:\n${p.take(2000)}")
  }

  test("q_transitions: lead window + pair agg ride ONE user exchange") {
    val p = plan("q_transitions")
    val n = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(n == 1, s"expected 1 user_id exchange, found $n:\n${p.take(2000)}")
  }

  test("q_rolling_active: contribution explode is narrow; the max-period attaches via broadcast") {
    val p = plan("q_rolling_active")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row pmax must broadcast:\n${p.take(2000)}")
  }

  test("q_span_dedup: corpus exchange keys on the 8-byte span hash; survivors broadcast back") {
    val p = plan("q_span_dedup")
    // the corpus-wide aggregation must key on xxhash64(span), never on the
    // materialized span string (string shuffle = corpus-sized at 100 TB)
    assert(p.contains("xxhash64"),
      s"span aggregation must key on the 64-bit hash:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"rare survivors must rematerialize via broadcast at bench sf:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q_stratified: rank + quota windows stack on ONE stratum exchange") {
    val p = plan("q_stratified")
    // exactly two hash exchanges: the shared window partition + the
    // final status aggregation — a second windowing pass would add more
    val n = "Exchange hashpartitioning\\(o_orderstatus".r.findAllIn(p).length
    assert(n <= 2, s"expected <=2 o_orderstatus exchanges, found $n:\n${p.take(2000)}")
    assert(p.linesIterator.count(_.contains("Window [")) == 2,
      s"expected rank + quota Window nodes:\n${p.take(2000)}")
  }

  test("q_salted_join: the salt is a join key (hot keys spread across reducers)") {
    val p = plan("q_salted_join")
    assert(p.contains("__salt"),
      s"join must key on (l_orderkey, __salt):\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q_semdedup and q_group_split: banded-LSH pair source plans no cross product") {
    for (q <- Seq("q_semdedup", "q_group_split")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must source pairs from the bucket equi-join:\n${p.take(2000)}")
    }
  }

  test("q_triangles: wedge self-join reuses one oriented exchange; no cross product") {
    val p = plan("q_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle joins must all be equi-joins:\n${p.take(2000)}")
  }

  test("q_ewma: prefix sum and row index share one series exchange") {
    val p = plan("q_ewma")
    val n = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(n <= 2, // daily rollup + the shared window exchange
      s"expected <=2 user_id exchanges, found $n:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"ewma must not join:\n${p.take(1500)}")
  }

  test("q_substr_cut/q_span_mask: count() join-eliminates the census (why Bench null-sinks them)") {
    // The rewrite queries end in a LEFT join whose right side aggregates
    // ON the join key: under count() the key is provably unique and the
    // right columns unreferenced, so Catalyst eliminates the join and the
    // whole dedup census behind it. These queries MUST therefore be
    // benchmarked through the noop sink (Bench.countPrunableQueries) —
    // this test pins both the elimination (count side) and the presence
    // of the census under a real sink (noop side).
    for (q <- Seq("q_substr_cut", "q_span_mask")) {
      // marker: the native ShingleHash64 gram census only exists on the
      // un-eliminated side of the join
      val counted = SparkEntry.queries(q)(spark, dir)
        .groupBy().count().queryExecution.optimizedPlan.toString.toLowerCase
      assert(!counted.contains("shingle"),
        s"$q: count() no longer prunes the census — " +
          s"remove it from Bench.countPrunableQueries?\n${counted.take(1500)}")
      assert(!counted.contains("join"),
        s"$q: count() should eliminate the rewrite join:\n${counted.take(1500)}")
      val full = plan(q).toLowerCase
      assert(full.contains("shingle"),
        s"$q: full plan must contain the gram census:\n${full.take(1500)}")
      assert(Bench.countPrunableQueries.contains(q),
        s"$q must ride the null-sink pass")
    }
  }
}
