package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.{TempDirs, TestSpark}
import graft.testing.DfAssert.createDf

class TextStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("shingles produce overlapping n-grams; short docs yield empty") {
    val df = createDf(spark, Seq("t"), Seq(Seq("a b c d"), Seq("a b")))
    val got = df.select(TextStats.shingles(col("t"), 3)).collect()
      .map(_.getSeq[String](0).toSeq).toSet
    assert(got == Set(Seq("a b c", "b c d"), Seq.empty[String]))
  }

  test("charEntropy: uniform chars hit ln(k), constant runs hit 0, empty text 0") {
    val df = createDf(spark, Seq("t"),
      Seq(Seq("abcd"), Seq("aaaa"), Seq(""), Seq("aabb")))
    val got = df.select(TextStats.charEntropy(col("t"))).collect().map(_.getDouble(0))
    assert(got(0) == math.BigDecimal(math.log(4.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) // 4 distinct chars
    assert(got(1) == 0.0) // single symbol: no information
    assert(got(2) == 0.0) // empty text scores 0, not null
    assert(got(3) == math.BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) // two equiprobable chars
  }

  test("charEntropy is order-invariant and bounded by ln(L)") {
    val df = createDf(spark, Seq("t"), Seq(Seq("mississippi"), Seq("ippissimssi")))
    val got = df.select(TextStats.charEntropy(col("t"))).collect().map(_.getDouble(0))
    assert(got(0) == got(1)) // an anagram has the same distribution
    assert(got(0) > 0.0 && got(0) < math.log(11.0))
  }

  test("token/stopword/distinct counts and quality score bounds") {
    val df = createDf(spark, Seq("t"), Seq(Seq("the fast the fast a b")))
    val row = df.select(
      TextStats.tokenCount(col("t")),
      TextStats.stopwordCount(col("t"), Seq("the", "a")),
      TextStats.distinctTokenCount(col("t")),
      TextStats.qualityScore(col("t"))).head()
    assert(row.getInt(0) == 6 && row.getInt(1) == 3 && row.getInt(2) == 4)
    assert(row.getDouble(3) > 0.0 && row.getDouble(3) <= 1.0)
  }

  test("langId picks charset branches then stopword probe") {
    val df = createDf(spark, Seq("t"), Seq(
      Seq("the quick fox"), Seq("中文文本"), Seq("xyz abc")))
    val got = df.select(TextStats.langId(col("t"))).collect().map(_.getString(0)).toSet
    assert(got == Set("en", "zh", "unknown"))
  }

  test("charClassCount counts each script class by strip-difference") {
    val df = createDf(spark, Seq("t"), Seq(Seq("ab1 中文 Я!")))
    val row = df.select(
      TextStats.charClassCount(col("t"), "[A-Za-z]"),
      TextStats.charClassCount(col("t"), "[0-9]"),
      TextStats.charClassCount(col("t"), "[\\u4e00-\\u9fff]"),
      TextStats.charClassCount(col("t"), "[\\u0400-\\u04ff]")).head()
    assert(row.getInt(0) == 2 && row.getInt(1) == 1)
    assert(row.getInt(2) == 2 && row.getInt(3) == 1)
  }

  test("fingerprints: winnowing selects window minima, deduped") {
    val df = createDf(spark, Seq("t"),
      Seq(Seq("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")))
    val fp = df.select(TextStats.fingerprints(col("t"), 3, 2)).head().getSeq[Long](0)
    assert(fp.nonEmpty && fp.distinct.size == fp.size)
  }
}

class RedactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("redactPii replaces emails and IPv4s, leaves lookalikes alone") {
    val df = createDf(spark, "id int, t string", Seq(
      Seq[Any](1, "mail me at alice.smith+x@sub.example.co.uk thanks"),
      Seq[Any](2, "server 192.168.001.1 and 10.0.0.7 are up"),
      Seq[Any](3, "not-an-email @ nowhere and version 1.2 stays"),
      Seq[Any](4, "both bob@x.io on 127.0.0.1 now")))
    val out = df.select(col("id"), TextStats.redactPii(col("t")).as("r"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out(1) == "mail me at <EMAIL> thanks")
    assert(out(2) == "server <IP> and <IP> are up")
    assert(out(3) == "not-an-email @ nowhere and version 1.2 stays")
    assert(out(4) == "both <EMAIL> on <IP> now")
  }
}

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val docs = Seq(
    Seq(1L, "the quick brown fox jumps over the lazy dog today"),
    Seq(2L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 1
    Seq(3L, "the quick brown fox jumps over the lazy cat today"), // near dup
    Seq(4L, "completely different words appear in this document here now"))

  private def df = createDf(spark, "id bigint, text string", docs)

  test("dedupExact keeps min-id row per identical text") {
    val out = Dedup.dedupExact(df, "text", "id")
    assert(out.count() == 3)
    assert(out.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L))
  }

  test("exactGroups counts duplicate groups") {
    val g = Dedup.exactGroups(df, "text", "id").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(g == Map(1L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("minhash signatures identical for identical docs, similar for near-dups") {
    val sig = df.select(col("id"), Dedup.minhashSignature(col("text"), 16, 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) == sig(2L))
    val agree = sig(1L).zip(sig(3L)).count { case (a, b) => a == b }
    assert(agree > 0, "near-dups should share some minhashes")
    assert(sig(1L) != sig(4L))
  }

  test("short docs get null signatures and never pair up as near-dups") {
    val short = createDf(spark, "id bigint, text string", Seq(
      Seq[Any](1L, "too short"), Seq[Any](2L, "also tiny"), Seq[Any](3L, "a b c d e f g h")))
    val sigs = short.select(col("id"), Dedup.minhashSignature(col("text"), 8, 5).as("s"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(sigs(1L).isEmpty && sigs(2L).isEmpty && sigs(3L).nonEmpty)
    assert(Dedup.minhashCandidatePairs(short, "id", "text", 8, 4, 5).count() == 0)
  }

  test("minhashCandidatePairs surfaces the exact-dup pair with est 1.0") {
    val pairs = Dedup.minhashCandidatePairs(df, "id", "text", 16, 4, 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 1.0)
  }

  test("ngramJaccardPairs computes exact intersection/union") {
    val pairs = Dedup.ngramJaccardPairs(df, "id", "text", 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(pairs((1L, 2L)) == (8L, 8L)) // identical: 8 distinct 3-grams each
    assert(pairs.contains((1L, 3L)) && !pairs.contains((1L, 4L)))
  }

  test("connectedComponents matches driver-side union-find on a random graph") {
    val rnd = new scala.util.Random(31)
    val edges = (0 until 120).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.distinct
    val edf = createDf(spark, "id_a bigint, id_b bigint",
      edges.map { case (a, b) => Seq[Any](a, b) })
    val got = Dedup.connectedComponents(edf, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // union-find reference model
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val model = parent.keys.map(v => v -> find(v)).toMap
    assert(got == model)
    // labels are component minima
    assert(got.groupBy(_._2).forall { case (label, members) => members.keys.min == label })
  }

  test("connectedComponents converges on a chain (worst-case diameter)") {
    val chain = (0L until 30L).sliding(2).map(p => Seq[Any](p(0), p(1))).toSeq
    val got = Dedup.connectedComponents(
        createDf(spark, "id_a bigint, id_b bigint", chain), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.forall(_._2 == 0L), "every chain vertex must label to 0")
  }

  test("connectedComponents reads its edge input once: no Union above it") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { plans.add(qe.executedPlan); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val edges = createDf(spark, "id_a bigint, id_b bigint",
      Seq(Seq[Any](1L, 2L), Seq[Any](2L, 3L), Seq[Any](5L, 6L)))
    spark.listenerManager.register(listener)
    try graft.ops.Observe.release(Dedup.connectedComponents(edges, "id_a", "id_b"))
    finally {
      org.apache.spark.TestBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    // every node the actions ran, the plans of the cached frames they read included
    val h = new AdaptiveSparkPlanHelper {}
    def nodes(p: SparkPlan): Seq[SparkPlan] = h.collect(p) { case n => n }.flatMap {
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    val ran = plans.asScala.toSeq.flatMap(nodes)
    assert(ran.exists(_.isInstanceOf[InMemoryTableScanExec]), "the symmetric edge set is read from its cache")
    assert(!ran.exists(_.isInstanceOf[UnionExec]),
      s"the edge plan must run once, not once per direction:\n${plans.asScala.mkString("\n")}")
  }

  test("dedupByPairs keeps min-id per cluster plus unpaired rows") {
    val docs = createDf(spark, "doc_id bigint, text string",
      (1L to 6L).map(i => Seq[Any](i, s"doc $i")))
    val pairs = createDf(spark, "id_a bigint, id_b bigint",
      Seq(Seq[Any](1L, 2L), Seq[Any](2L, 3L), Seq[Any](5L, 6L)))
    val kept = Dedup.dedupByPairs(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L)) // {1,2,3}->1, {5,6}->5, 4 unpaired
  }

  test("dedupByPairsKeepBest keeps the highest score per cluster, tie to smaller id") {
    val docs = createDf(spark, "doc_id bigint, q bigint",
      Seq(Seq[Any](1L, 5L), Seq[Any](2L, 9L), Seq[Any](3L, 9L),
        Seq[Any](4L, 1L), Seq[Any](5L, 0L), Seq[Any](6L, 7L)))
    val pairs = createDf(spark, "id_a bigint, id_b bigint",
      Seq(Seq[Any](1L, 2L), Seq[Any](2L, 3L), Seq[Any](5L, 6L)))
    val kept = Dedup.dedupByPairsKeepBest(docs, "doc_id", pairs, col("q"))
      .collect().map(_.getLong(0)).toSet
    // cluster {1,2,3}: max q=9 tied between 2 and 3 -> 2; {5,6}: 6 wins
    // on score (min-id would keep 5); 4 unpaired survives
    assert(kept == Set(2L, 4L, 6L))
  }

  test("dedupByPairsKeepBest equals dedupByPairs when the score is -id") {
    val docs = createDf(spark, "doc_id bigint, text string",
      (1L to 6L).map(i => Seq[Any](i, s"doc $i")))
    val pairs = createDf(spark, "id_a bigint, id_b bigint",
      Seq(Seq[Any](1L, 2L), Seq[Any](2L, 3L), Seq[Any](5L, 6L)))
    val best = Dedup.dedupByPairsKeepBest(docs, "doc_id", pairs, -col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val minId = Dedup.dedupByPairs(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(best == minId)
  }

  test("crossCorpusOverlap flags docs sharing enough shingles with the benchmark") {
    val bench = createDf(spark, "b_id bigint, b_text string",
      Seq(Seq[Any](100L, "the quick brown fox jumps over the lazy dog today")))
    val got = Dedup.crossCorpusOverlap(df, "id", "text", bench, "b_id", "b_text",
        shingleSize = 3, minShared = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bench_id"),
        r.getAs[Long]("n_shared"))).toSet
    // docs 1,2 are identical to the benchmark text (8 shared 3-grams);
    // doc 3 shares the prefix 3-grams; doc 4 shares nothing
    assert(got.map(_._1) == Set(1L, 2L, 3L))
    assert(got.contains((1L, 100L, 8L)))
  }

  test("chunkTokens: overlap-windowed chunks cover all tokens; short docs = 1 chunk") {
    val d = createDf(spark, "id int, t string", Seq(
      Seq[Any](1, (1 to 10).map("t" + _).mkString(" ")), // 10 tokens, chunk 4 stride 3
      Seq[Any](2, "a b"))) // shorter than one window
    val got = d.select(col("id"), TextStats.chunkTokens(col("t"), 4, 1).as("ch"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    assert(got(1) == Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(got(2) == Seq("a b"))
    // every token appears in at least one chunk; consecutive chunks share 1 token
    assert(got(1).flatMap(_.split(" ")).toSet == (1 to 10).map("t" + _).toSet)
  }

  test("repetitionScore: 0 for unique or too-short docs, high for boilerplate") {
    val d = createDf(spark, "id int, t string", Seq(
      Seq[Any](1, "a b c d e f"),          // all distinct 3-grams -> 0
      Seq[Any](2, "spam spam spam spam spam spam"), // one distinct 3-gram of 4 -> 0.75
      Seq[Any](3, "x y")))                 // too short -> 0
    val got = d.select(col("id"), TextStats.repetitionScore(col("t"), 3).as("r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got(1) == 0.0)
    assert(got(2) == 0.75)
    assert(got(3) == 0.0)
  }

  test("ngramJaccardPairsPostings is row-identical to the join variant") {
    val viaJoin = Dedup.ngramJaccardPairs(df, "id", "text", 3)
      .collect().map(_.toSeq).toSet
    val viaPostings = Dedup.ngramJaccardPairsPostings(df, "id", "text", 3)
      .collect().map(_.toSeq).toSet
    assert(viaJoin == viaPostings)
    assert(viaJoin.nonEmpty)
  }

  test("simhash32 equal for dups, close for near-dups, fits in 32 bits") {
    val sh = df.select(col("id"), Dedup.simhash32(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(sh.values.forall(v => v >= 0 && v < (1L << 32)))
    val ham13 = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val ham14 = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(ham13 < ham14, s"near-dup hamming $ham13 should beat unrelated $ham14")
  }

  test("native simhash32 is bit-identical to the HOF formulation (incl. corpus docs)") {
    val fixture = df.select(Dedup.simhash32(col("text")).as("native"),
        Dedup.simhash32Hof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(fixture == 0)
    val corpus = graft.sources.Sources.readTable(spark, "/root/testdata/sf0.001", "documents")
      .select(Dedup.simhash32(col("text")).as("native"),
        Dedup.simhash32Hof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(corpus == 0)
    // null elements: both formulations hash them as the seed (42)
    val withNull = array(lit("a"), lit(null).cast("string"))
    val r = df.limit(1).select(
      graft.functions.ArrayMath.simhash32(withNull).as("native"),
      Dedup.simhash32HofTokens(withNull).as("hof")).head()
    assert(r.getLong(0) == r.getLong(1))
  }

  test("shingleHash64 is hash-equal to xxhash64 over the joined shingle strings") {
    import graft.functions.ArrayMath.shingleHash64
    val corpus = graft.sources.Sources.readTable(spark, "/root/testdata/sf0.001", "documents")
    // positional: one hash per shingle position, exactly xxhash64(shingle string)
    val positional = corpus.select(
        shingleHash64(TextStats.tokens(col("text")), 5, distinct = false).as("native"),
        transform(TextStats.shingles(col("text"), 5), s => xxhash64(s)).as("hof"))
      .filter(not(col("native") <=> col("hof"))).count()
    assert(positional == 0)
    // distinct: the sorted set of those hashes
    val distinctSet = corpus.select(
        shingleHash64(TextStats.tokens(col("text")), 5).as("native"),
        array_sort(array_distinct(
          transform(TextStats.shingles(col("text"), 5), s => xxhash64(s)))).as("hof"))
      .filter(not(col("native") <=> col("hof"))).count()
    assert(distinctSet == 0)
    // short doc → empty array (not null); null text → null
    val edge = df.limit(1).select(
      shingleHash64(split(lit("one two"), " "), 5).as("short"),
      shingleHash64(lit(null).cast("array<string>"), 5).as("nul")).head()
    assert(edge.getSeq[Long](0).isEmpty && edge.isNullAt(1))
  }

  test("minhashSignature over pre-hashed shingles is bit-identical to the string formulation") {
    val corpus = graft.sources.Sources.readTable(spark, "/root/testdata/sf0.001", "documents")
      .select(Dedup.minhashSignature(col("text")).as("fast"),
        Dedup.minhashSignatureStrings(col("text")).as("spec"))
      .filter(not(col("fast") <=> col("spec"))).count()
    assert(corpus == 0)
  }

  test("simhashCandidatePairs finds dup pair at hamming 0") {
    val got = Dedup.simhashCandidatePairs(df, "id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.contains((1L, 2L, 0)))
  }

  test("repeatedSpans: cross-document and within-document repeats, with counts") {
    val d = createDf(spark, "id bigint, text string", Seq(
      Seq[Any](1L, "a b c d"),
      Seq[Any](2L, "x a b c"),
      Seq[Any](3L, "a b c d"),
      Seq[Any](4L, "y y y"))) // within-doc repeat only
    val got = Dedup.repeatedSpans(d, "id", "text", spanTokens = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      "a b" -> (3L, 3L), "b c" -> (3L, 3L), "c d" -> (2L, 2L),
      "y y" -> (1L, 2L))) // 1 doc, 2 overlapping occurrences
  }

  test("maskRepeatedSpans removes exactly the cross-doc frequent-span occurrences") {
    val d = createDf(spark, "id bigint, text string", Seq(
      Seq[Any](1L, "a b c d"),   // "a b" and "b c" cross-doc frequent
      Seq[Any](2L, "x a b c"),
      Seq[Any](3L, "q r s"),     // untouched
      Seq[Any](4L, "y y y"),     // within-doc repeat only: NOT masked (minDocs=2)
      Seq[Any](5L, "a b"),       // fully masked
      Seq[Any](6L, "z a b")))
    val got = Dedup.maskRepeatedSpans(d, "id", "text", spanTokens = 2, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    // frequent 2-spans across >=2 docs: "a b" (docs 1,2,5,6), "b c" (1,2)
    assert(got(1L) == ((4, 1, "d")))      // a,b,c covered (starts 0,1)
    assert(got(2L) == ((4, 1, "x")))      // a,b,c covered (starts 1,2)
    assert(got(3L) == ((3, 3, "q r s")))  // no frequent span
    assert(got(4L) == ((3, 3, "y y y")))  // within-doc only, kept
    assert(got(5L) == ((2, 0, "")))       // fully masked
    assert(got(6L) == ((3, 1, "z")))
    assert(got.size == 6)                 // one row per input doc, always
  }

  test("repeatedSpans: docs shorter than the span contribute nothing") {
    val d = createDf(spark, "id bigint, text string", Seq(
      Seq[Any](1L, "a b"), Seq[Any](2L, "a b")))
    assert(Dedup.repeatedSpans(d, "id", "text", spanTokens = 3).count() == 0)
    // exactly span-length docs DO contribute their single span
    val e = createDf(spark, "id bigint, text string", Seq(
      Seq[Any](1L, "a b c"), Seq[Any](2L, "a b c")))
    val got = Dedup.repeatedSpans(e, "id", "text", spanTokens = 3).collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a b c", 2L, 2L)))
  }

  test("repeatedSpans: corpus aggregates on the span hash; AQE broadcasts survivors at runtime") {
    // the corpus MUST yield non-empty survivors ("a b" repeats across
    // docs): with zero survivors AQE propagates EmptyRelation and the
    // asserted BroadcastHashJoin vacuously disappears from the final
    // plan — the guard would go red on a healthy operator
    val d = createDf(spark, "id bigint, text string",
      Seq(Seq[Any](1L, "a b c"), Seq[Any](2L, "a b d")))
    val df = Dedup.repeatedSpans(d, "id", "text", 2)
    // collect() (not count()) finalizes THIS query's adaptive plan —
    // count() would execute a different plan and leave isFinalPlan=false
    assert(df.collect().nonEmpty, "plan guard needs non-empty survivors")
    // the survivor join is hint-free: the STATIC plan may pick SMJ, and
    // AQE must convert it from the measured (tiny) survivor size — assert
    // the runtime decision, as with the Outliers guard
    val p = df.queryExecution.executedPlan.toString
    // the corpus-wide exchange must key on xxhash64(span) — the span
    // STRINGS only move for survivors, through the broadcast join below
    assert(p.contains("xxhash64"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("exactSubstrSpans: maximal islands, within-doc repeats, multi-island docs") {
    val d = createDf(spark, "id bigint, text string", Seq(
      Seq[Any](1L, "a b c d e"),       // whole doc duplicated with doc 2
      Seq[Any](2L, "a b c d e"),
      Seq[Any](3L, "y y y"),           // within-doc repeat ("y y" twice) IS duplicated
      Seq[Any](4L, "a b q r s c d"),   // two separate islands
      Seq[Any](5L, "u v w")))          // nothing duplicated
    val got = Dedup.exactSubstrSpans(d, "id", "text", minTokens = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(got == Set(
      (1L, 0, 5, 5),  // starts 0..3 merge into one maximal span
      (2L, 0, 5, 5),
      (3L, 0, 3, 3),  // occurrence-based: 1 doc, 2 overlapping occurrences
      (4L, 0, 2, 2),  // "a b" (shared with docs 1,2)
      (4L, 5, 7, 2))) // "c d" — break: start 5 > 0 + 2
  }

  test("exactSubstrSpans: adjacent-but-not-overlapping coverage merges into one span") {
    // "a b" dup at start 0 and "c d" dup at start 2: windows [0,2) and
    // [2,4) touch — contiguous coverage, one maximal island [0,4)
    val d = createDf(spark, "id bigint, text string", Seq(
      Seq[Any](1L, "a b c d"),
      Seq[Any](2L, "x a b y"),
      Seq[Any](3L, "x c d y")))
    val got = Dedup.exactSubstrSpans(d, "id", "text", minTokens = 2)
      .filter(col("id") === 1L)
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
    assert(got == Set((0, 4)))
  }

  test("exactSubstrCut: rewrite matches the inventory; untouched and fully-cut docs") {
    val d = createDf(spark, "id bigint, text string", Seq(
      Seq[Any](1L, "a b c d e"),
      Seq[Any](2L, "a b c d e"),
      Seq[Any](3L, "y y y"),
      Seq[Any](4L, "a b q r s c d"),
      Seq[Any](5L, "u v w")))
    val got = Dedup.exactSubstrCut(d, "id", "text", minTokens = 2)
      .collect().map(r =>
        r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))))
      .toMap
    assert(got(1L) == ((5, 0, 1, "")))        // fully cut
    assert(got(2L) == ((5, 0, 1, "")))
    assert(got(3L) == ((3, 0, 1, "")))        // within-doc repeat cut too
    assert(got(4L) == ((7, 3, 2, "q r s")))   // both islands cut
    assert(got(5L) == ((3, 3, 0, "u v w")))   // untouched, n_spans 0
    assert(got.size == 5)                     // one row per input doc, always
    // conservation: tokens cut == sum of span widths from the inventory
    val spanSum = Dedup.exactSubstrSpans(d, "id", "text", minTokens = 2)
      .groupBy(col("id")).agg(sum(col("span_tokens")).as("cut")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, (before, after, _, _)) <- got)
      assert((before - after).toLong == spanSum.getOrElse(id, 0L))
  }

  test("exactSubstrSpans honors minOccurrences above 2") {
    val d = createDf(spark, "id bigint, text string", Seq(
      Seq[Any](1L, "a b x"), Seq[Any](2L, "a b y"), Seq[Any](3L, "a b z"),
      Seq[Any](4L, "c d x"), Seq[Any](5L, "c d y")))
    val got = Dedup.exactSubstrSpans(d, "id", "text",
        minTokens = 2, minOccurrences = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // "a b" occurs 3x (kept); "c d" only 2x (below the bar)
    assert(got == Set((1L, 0, 2), (2L, 0, 2), (3L, 0, 2)))
  }

  test("exactSubstrSpans: docs shorter than minTokens contribute nothing") {
    val d = createDf(spark, "id bigint, text string", Seq(
      Seq[Any](1L, "a b"), Seq[Any](2L, "a b")))
    assert(Dedup.exactSubstrSpans(d, "id", "text", minTokens = 3).count() == 0)
    assert(Dedup.exactSubstrSpans(d, "id", "text", minTokens = 2).count() == 2)
  }

  test("exactSubstrSpans matches an independent covered-token model on random corpora") {
    // Independent formulation: mark every token covered by a duplicated
    // L-gram, then take maximal runs of consecutive covered tokens —
    // no lag/running-sum logic shared with the engine. A tiny vocabulary
    // forces dense duplication, so merges and multi-island docs occur
    // constantly.
    def modelSpans(docs: Seq[(Long, String)], l: Int,
                   minOcc: Int): Set[(Long, Int, Int, Int)] = {
      val grams = docs.flatMap { case (id, t) =>
        val w = t.split(" ", -1)
        (0 to w.length - l).map(p => (id, p, w.slice(p, p + l).mkString(" ")))
      }
      val cnt = grams.groupBy(_._3).view.mapValues(_.size).toMap
      grams.filter(g => cnt(g._3) >= minOcc)
        .groupBy(_._1).flatMap { case (id, gs) =>
          val covered = gs.flatMap(g => g._2 until g._2 + l).toSet.toSeq.sorted
          val runs = covered.foldLeft(List.empty[(Int, Int)]) {
            case ((s, e) :: rest, t) if t == e => (s, t + 1) :: rest
            case (acc, t) => (t, t + 1) :: acc
          }
          runs.map { case (s, e) => (id, s, e, e - s) }
        }.toSet
    }
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 5; l <- Seq(2, 3)) {
      val docs = (0 until 6).map { i =>
        val n = rnd.nextInt(13)
        (i.toLong + trial * 10, (0 until n).map(_ => "abc" (rnd.nextInt(3)).toString).mkString(" "))
      }
      val df = createDf(spark, "id bigint, text string",
        docs.map { case (id, t) => Seq[Any](id, t) })
      val got = Dedup.exactSubstrSpans(df, "id", "text", minTokens = l)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
        .toSet
      assert(got == modelSpans(docs, l, 2),
        s"trial=$trial l=$l docs=$docs")
    }
  }

  test("exactSubstrContamination localizes benchmark leakage to maximal spans") {
    val corpus = createDf(spark, "id bigint, text string", Seq(
      Seq[Any](1L, "p q the exam answer is x r s"), // interior leak of bench 1
      Seq[Any](2L, "clean words only here today"),   // untouched
      Seq[Any](3L, "the exam answer is x"),          // whole doc = bench text
      Seq[Any](4L, "u v answer is x w")))            // 3-token overlap < minTokens: no flag
    val bench = createDf(spark, "b string", Seq(
      Seq[Any]("the exam answer is x")))
    val got = Dedup.exactSubstrContamination(corpus, "id", "text",
        bench, "b", minTokens = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    // bench 4-grams: "the exam answer is", "exam answer is x"
    assert(got == Set(
      (1L, 2, 7, 5),   // tokens 2..6 covered (starts 2 and 3 merge)
      (3L, 0, 5, 5)))  // full overlap
  }

  test("exactSubstrContamination: presence in bench suffices (no corpus-dup needed)") {
    // the leaked gram occurs ONCE in the corpus — exactSubstrSpans would
    // not flag it, the contamination probe must
    val corpus = createDf(spark, "id bigint, text string", Seq(
      Seq[Any](1L, "a b c d e")))
    val bench = createDf(spark, "b string", Seq(Seq[Any]("b c d e")))
    assert(Dedup.exactSubstrSpans(corpus, "id", "text", minTokens = 4).count() == 0)
    val got = Dedup.exactSubstrContamination(corpus, "id", "text",
        bench, "b", minTokens = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == Set((1L, 1, 5)))
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val vecs = Seq(
    Seq(1L, Seq(1.0f, 0.0f, 0.0f)),
    Seq(2L, Seq(0.9f, 0.1f, 0.0f)),
    Seq(3L, Seq(0.0f, 1.0f, 0.0f)),
    Seq(4L, Seq(0.0f, 0.0f, 1.0f)))
  private def df = createDf(spark, "vec_id bigint, v array<float>", vecs)

  test("cosine: orthogonal = 0, identical = 1") {
    val d2 = df.as("a").crossJoin(df.as("b"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        Similarity.cosine(col("a.v"), col("b.v")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(d2((1L, 1L)) - 1.0) < 1e-12)
    assert(math.abs(d2((1L, 3L))) < 1e-12)
    assert(d2((1L, 2L)) > 0.9)
  }

  test("bruteForceTopK ranks by cosine desc with id tiebreak") {
    val top = Similarity.bruteForceTopK(df.filter(col("vec_id") === 1), df, "vec_id", "v", 2)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank")))
    assert(top.toSeq.sortBy(_._2).map(_._1) == Seq(2L, 3L))
  }

  test("lshBucket: same bucket for identical vectors, deterministic planes") {
    val planes = Similarity.randomPlanes(4, 3)
    assert(planes == Similarity.randomPlanes(4, 3))
    val b = df.select(Similarity.lshBucket(Similarity.toDoubleArr(col("v")), planes))
      .collect().map(_.getInt(0))
    assert(b.forall(x => x >= 0 && x < 16))
  }

  test("ivfTopKDeterministic returns ranked neighbors from learned cells") {
    val manyVecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Seq(1.0f, 0.0f, 0.1f) else Seq(0.0f, 1.0f, 0.1f)
      Seq[Any](i.toLong, base.map(_ + (i % 7) * 0.01f))
    }
    val df = createDf(spark, "vec_id bigint, v array<float>", manyVecs)
    val top = Similarity.ivfTopKDeterministic(df.filter(col("vec_id") < 2), df, "vec_id", "v",
      k = 3, nCells = 2, nProbe = 1)
    val byQuery = top.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == Set(0L, 1L))
    // query 0 is an even (x-axis) vector: its cell holds even vecs only
    assert(byQuery(0L).forall(_.getAs[Long]("neighbor_id") % 2 == 0))
  }

  test("ivfTopKDeterministic probing every cell equals bruteForceTopK, ties and zero vector included") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 24).map { i =>
      val v =
        if (i == 0) Seq(0.0f, 0.0f, 0.0f) // zero vector: cos 0 against every row
        else if (i % 4 == 1) Seq(0.3f, 0.4f, 0.5f) // duplicates: tied cos, broken by id
        else Seq.fill(3)(rnd.nextFloat() - 0.5f)
      Seq[Any](i.toLong, v)
    } :+ Seq[Any](99L, null)
    val corpus = createDf(spark, "vec_id bigint, v array<float>", rows)
    val queries = corpus.filter(col("vec_id") < 6)
    def ranked(df: DataFrame): Set[(Long, Int, Long, Long)] = df.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"),
        java.lang.Double.doubleToRawLongBits(r.getAs[Double]("cos")))).toSet
    def ivf(k: Int) =
      Similarity.ivfTopKDeterministic(queries, corpus, "vec_id", "v", k, nCells = 4, nProbe = 4)
    val viaIvf = ranked(ivf(5))
    assert(viaIvf.size == 6 * 5)
    assert(viaIvf == ranked(Similarity.bruteForceTopK(queries, corpus, "vec_id", "v", 5)))
    // the tied duplicates of query 1 come back in id order
    assert(viaIvf.filter(_._1 == 1L).toSeq.sortBy(_._2).map(_._3) == Seq(5L, 9L, 13L, 17L, 21L))
    // the null-vector row never enters a cell, and brute force never
    // returns it either: past every real neighbor the two still agree
    val everyNeighbor = ranked(ivf(100))
    assert(everyNeighbor.size == 6 * 23 && !everyNeighbor.exists(_._3 == 99L))
    assert(everyNeighbor == ranked(Similarity.bruteForceTopK(queries, corpus, "vec_id", "v", 100)))
  }

  test("IVF index trains once and is reused across query sets") {
    val manyVecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Seq(1.0f, 0.0f, 0.1f) else Seq(0.0f, 1.0f, 0.1f)
      Seq[Any](i.toLong, base.map(_ + (i % 7) * 0.01f))
    }
    val corpus = createDf(spark, "vec_id bigint, v array<float>", manyVecs)
    val idx1 = Similarity.ivfIndexFor(corpus, "vec_id", "v", nCells = 2)
    val idx2 = Similarity.ivfIndexFor(corpus, "vec_id", "v", nCells = 2)
    assert(idx1 eq idx2, "semantically identical corpus + params must reuse the trained index")

    // Two different query sets probe the SAME index — no re-fit between them.
    val qa = Similarity.ivfProbe(idx1, corpus.filter(col("vec_id") < 2), "vec_id", "v", k = 3)
    val qb = Similarity.ivfProbe(idx1, corpus.filter(col("vec_id").between(2, 3)), "vec_id", "v", k = 3)
    assert(qa.select("query_id").distinct().count() == 2)
    assert(qb.select("query_id").distinct().count() == 2)
    // Different params → a different (still memoized) index.
    val idx3 = Similarity.ivfIndexFor(corpus, "vec_id", "v", nCells = 4)
    assert(!(idx3 eq idx1))
  }

  test("IVF memo is LRU-bounded and unpersists evicted indexes") {
    Similarity.clearIvfCache()
    val manyVecs = (0 until 20).map { i =>
      Seq[Any](i.toLong, Seq(1.0f + i * 0.01f, 0.5f, 0.1f))
    }
    val corpus = createDf(spark, "vec_id bigint, v array<float>", manyVecs)
    val first = Similarity.ivfIndexFor(corpus, "vec_id", "v", nCells = 2, latticeScale = 100)
    assert(first.cells.storageLevel.useMemory)
    // fill the cache past capacity with distinct keys (latticeScale varies)
    (1 to Similarity.maxIvfCacheEntries).foreach { i =>
      Similarity.ivfIndexFor(corpus, "vec_id", "v", nCells = 2, latticeScale = 100 + i)
    }
    assert(Similarity.memoEntryCount == Similarity.maxIvfCacheEntries)
    assert(first.cells.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "evicted eldest index must release its persisted cells")
    Similarity.clearIvfCache()
    assert(Similarity.memoEntryCount == 0)
  }

  test("IVF index round-trips through save/load with identical probe results") {
    val manyVecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Seq(1.0f, 0.0f, 0.1f) else Seq(0.0f, 1.0f, 0.1f)
      Seq[Any](i.toLong, base.map(_ + (i % 7) * 0.01f))
    }
    val corpus = createDf(spark, "vec_id bigint, v array<float>", manyVecs)
    val built = Similarity.ivfIndexFor(corpus, "vec_id", "v", nCells = 2, latticeScale = 500)
    val dir = TempDirs("graft-ivf").toString
    Similarity.ivfSave(built, dir)
    val loaded = Similarity.ivfLoad(spark, dir)
    assert(loaded.centers == built.centers)
    assert(loaded.latticeScale == 500)
    val queries = corpus.filter(col("vec_id") < 3)
    def probeRows(idx: Similarity.IvfIndex) =
      Similarity.ivfProbe(idx, queries, "vec_id", "v", k = 3)
        .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(probeRows(loaded) == probeRows(built))
    Similarity.clearIvfCache()
  }

  test("ivfLoad rejects centers with mixed lattice scales, gapped cluster ids or ragged centers") {
    import spark.implicits._
    def rejected(centers: Seq[(Int, Seq[Long], Int)]): String = {
      val dir = TempDirs("graft-ivf-bad").toString
      centers.toDF("cluster", "center", "lattice_scale").write.parquet(s"$dir/centers")
      intercept[IllegalArgumentException](Similarity.ivfLoad(spark, dir)).getMessage
    }
    assert(rejected(Seq((0, Seq(1L, 0L), 1000), (1, Seq(0L, 1L), 100)))
      .contains("one lattice_scale"))
    assert(rejected(Seq((0, Seq(1L, 0L), 1000), (2, Seq(0L, 1L), 1000)))
      .contains("cluster ids must be 0 until 2"))
    assert(rejected(Seq((0, Seq(1L, 0L), 1000), (1, Seq(0L), 1000)))
      .contains("centers of one length"))
  }

  test("cosineNearDupPairs finds only the near-identical pair at 0.9") {
    val pairs = Similarity.cosineNearDupPairs(df, "vec_id", "v", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("multi-probe LSH recall dominates single-bucket recall") {
    val rnd = new scala.util.Random(7)
    val many = (0 until 200).map { i =>
      Seq[Any](i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }
    val df = createDf(spark, "vec_id bigint, v array<float>", many)
    val queries = df.filter(col("vec_id") < 5)
    def hits(nProbe: Int): Set[(Long, Long)] =
      Similarity.lshTopK(queries, df, "vec_id", "v", k = 10,
          nPlanes = 5, dim = 16, nProbe = nProbe)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brute = Similarity.bruteForceTopK(queries, df, "vec_id", "v", 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val single = hits(1) intersect brute
    val multi = hits(4) intersect brute
    assert(multi.size >= single.size,
      s"multi-probe recall ${multi.size} must be >= single-bucket ${single.size}")
    assert(multi.nonEmpty)
  }

  test("quantize/dequantize: error within scale/2, zero vectors safe, top-k preserved") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 50).map(i =>
      Seq[Any](i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))) :+
      Seq[Any](50L, Seq.fill(16)(0.0f)) // zero vector must not divide by zero
    val df = createDf(spark, "vec_id bigint, v array<float>", rows)
    val checked = df.select(
        Similarity.toDoubleArr(col("v")).as("dv"),
        Similarity.quantize(col("v")).as("qv"))
      .select(col("qv.scale"),
        array_max(zip_with(col("dv"), Similarity.dequantize(col("qv")),
          (a, b) => abs(a - b))).as("err"))
      .collect()
    checked.foreach { r =>
      val (scale, err) = (r.getFloat(0), r.getDouble(1))
      assert(err <= scale * 0.5 * (1 + 1e-6) + 1e-12, s"err $err vs scale $scale")
    }
    // ranking survives quantization: exact top-5 vs top-5 on dequantized
    val dq = df.select(col("vec_id"),
      Similarity.dequantize(Similarity.quantize(col("v"))).as("v"))
    def top(d: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(d.filter(col("vec_id") < 3), d, "vec_id", "v", 5)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val overlap = (top(df.withColumn("v", Similarity.toDoubleArr(col("v")))) intersect top(dq)).size
    assert(overlap >= 12, s"quantized top-k overlap too low: $overlap/15")
  }

  test("lshNearDupPairs is a subset of brute force and finds the dup pair") {
    val brute = Similarity.cosineNearDupPairs(df, "vec_id", "v", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(df, "vec_id", "v", 0.9, nPlanes = 2, dim = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute))
    assert(lsh.contains((1L, 2L)), "near-identical vectors must share every bucket")
  }

  // 3 bands of 2 planes over 3 dims: 24 seeded vectors, an identical pair
  // (same buckets in every band), a zero vector and a null vector
  private val (bandPlanes, nBands, bandDim) = (2, 3, 3)
  private def banded: DataFrame = {
    val rnd = new scala.util.Random(7L)
    val drawn = (1L to 24L).map(i => Seq[Any](i, Seq.fill(bandDim)(rnd.nextGaussian().toFloat)))
    createDf(spark, "vec_id bigint, v array<float>", drawn ++ Seq(
      Seq[Any](100L, Seq(0.3f, -0.2f, 0.9f)), Seq[Any](101L, Seq(0.3f, -0.2f, 0.9f)),
      Seq[Any](102L, Seq(0.0f, 0.0f, 0.0f)), Seq[Any](103L, null)))
  }

  /** The banded generator as it stood before candidates moved onto ids:
    * vectors ride the `(band, bucket)` shuffle into the self-join, and a
    * `distinct` collapses a pair found in several bands.
    */
  private def vectorJoinPairs(d: DataFrame, threshold: Double): DataFrame = {
    val bands = Similarity.bandedPlanes(bandPlanes, nBands, bandDim)
    val bucketed = Similarity.normalized(d, "vec_id", "v", "__id", "__v")
      .select(col("__id"), col("__v"),
        explode(array(bands.zipWithIndex.map { case (planes, bi) =>
          struct(lit(bi).as("band"), Similarity.lshBucket(col("__v"), planes).as("bucket"))
        }: _*)).as("__bb"))
      .select(col("__id"), col("__v"),
        col("__bb.band").as("band"), col("__bb.bucket").as("bucket"))
      .repartition(col("band"), col("bucket"))
    val a = bucketed.select(col("band"), col("bucket"),
      col("__id").as("id_a"), col("__v").as("va"))
    val b = bucketed.select(col("band"), col("bucket"),
      col("__id").as("id_b"), col("__v").as("vb"))
    a.join(b, Seq("band", "bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), Similarity.dot(col("va"), col("vb")).as("cos"))
      .filter(col("cos") > threshold)
      .distinct()
  }

  private def bandedPairs(d: DataFrame, threshold: Double): DataFrame =
    Similarity.lshNearDupPairsBanded(d, "vec_id", "v", threshold,
      nPlanes = bandPlanes, nBands = nBands, dim = bandDim)

  private def triples(d: DataFrame): Seq[(Long, Long, Double)] =
    d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  test("lshNearDupPairsBanded equals the vector-carrying join with distinct") {
    // the fixture holds a pair whose buckets agree in every band and one
    // whose buckets agree only in the last band
    val buckets = Similarity.normalized(banded, "vec_id", "v", "id", "nv")
      .select(col("id"), array(Similarity.bandedPlanes(bandPlanes, nBands, bandDim)
        .map(Similarity.lshBucket(col("nv"), _)): _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val agreement = for {
      (a, ba) <- buckets.toSeq; (b, bb) <- buckets.toSeq if a < b
    } yield ba.zip(bb).map { case (x, y) => x == y }
    assert(agreement.contains(Seq(true, true, true)))
    assert(agreement.contains(Seq(false, false, true)))
    Seq(-1.0, 0.5).foreach { threshold =>
      val (got, ref) = (bandedPairs(banded, threshold), vectorJoinPairs(banded, threshold))
      assert(got.schema.map(f => f.name -> f.dataType) == ref.schema.map(f => f.name -> f.dataType))
      val want = triples(ref)
      assert(want.nonEmpty)
      assert(triples(got) == want, s"threshold $threshold")
    }
    // a zero vector scores 0 against everything; a null vector never pairs
    val loose = triples(bandedPairs(banded, -1.0))
    assert(loose.exists { case (a, _, c) => a == 100L && c > 0.999 })
    assert(loose.exists { case (_, b, c) => b == 102L && c == 0.0 })
    assert(!loose.exists { case (a, b, _) => a == 103L || b == 103L })
    val empty = createDf(spark, "vec_id bigint, v array<float>", Seq.empty[Seq[Any]])
    assert(bandedPairs(empty, -1.0).collect().isEmpty)
    assert(vectorJoinPairs(empty, -1.0).collect().isEmpty)
  }

  test("lshNearDupPairsBanded shuffles ids and buckets, never a vector") {
    // read back from parquet, as the corpus tables are: the scan's size
    // estimate lets the planner broadcast the normalized vectors
    val path = TempDirs("lsh-ids").resolve("vecs").toString
    banded.write.parquet(path)
    val pairs = bandedPairs(graft.sources.Sources.readParquet(spark, path), 0.5)
    pairs.collect()
    val shuffles = new AdaptiveSparkPlanHelper {}.collect(pairs.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty, "the (band, bucket) candidate shuffle is missing")
    val carrying = shuffles.filter(_.output.exists(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }))
    assert(carrying.isEmpty,
      s"a shuffle carries a vector: ${carrying.map(_.output.mkString(", ")).mkString("; ")}")
  }

  test("simpsonDiversity: uniform tokens diversify, repeats collapse, short docs null") {
    val df = createDf(spark, "text string",
      Seq(Seq[Any]("a b c d"), Seq[Any]("a a a a"), Seq[Any]("a a b b"), Seq[Any]("solo")))
    val got = df.select(col("text"), TextStats.simpsonDiversity(col("text")).as("d"))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got("a b c d").contains(1.0)) // all distinct: two draws always differ
    assert(got("a a a a").contains(0.0)) // one type: never differ
    // {a:2, b:2}: 1 - (2*1 + 2*1)/(4*3) = 1 - 4/12
    assert(math.abs(got("a a b b").get - (1.0 - 4.0 / 12.0)) < 1e-15)
    assert(got("solo").isEmpty) // < 2 tokens
  }

  test("readability counts: words, floored sentences, vowel groups") {
    val df = createDf(spark, Seq("t"), Seq(
      Seq("The cat sat. It purred!"),       // 5 words, 2 sentences
      Seq("no terminal punctuation here"),  // floor: 1 sentence
      Seq("xyzzy 404")))                    // y counts as vowel; 404 has none
    val got = df.select(
        TextStats.alnumWordCount(col("t")),
        TextStats.sentenceCount(col("t")),
        TextStats.vowelGroupCount(col("t")))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    assert(got(0) == ((5, 2, 6)))  // e-a-a-i-u-e nuclei
    assert(got(1) == ((4, 1, 9)))  // o / e-i-a / u-ua-io / e-e runs
    assert(got(2) == ((2, 1, 2)))  // x-y-zz-y: two y runs; 404 has none
  }

  test("fleschReadingEase: hand-checked and the no-words null") {
    val df = createDf(spark, "w long, s long, y long",
      Seq(Seq[Any](100L, 10L, 120L), Seq[Any](0L, 1L, 0L)))
    val got = df.select(
        round(TextStats.fleschReadingEase(col("w"), col("s"), col("y")), 6))
      .collect()
    // 206.835 - 1.015*10 - 84.6*1.2 = 95.165
    assert(got(0).getDouble(0) == 95.165)
    assert(got(1).isNullAt(0))
  }

}
