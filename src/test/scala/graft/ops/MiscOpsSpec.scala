package graft.ops

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.TestSpark
import graft.testing.DfAssert.{assertDfEquality, createDf}

class NegativePairsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ids(n: Int) = createDf(spark, "id bigint", (1L to n).map(i => Seq[Any](i)))

  test("pairs are deterministic across runs and layouts") {
    val a = Sampling.negativePairs(ids(200), "id", 2, 16).collect().toSet
    val b = Sampling.negativePairs(ids(200).repartition(7), "id", 2, 16).collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("no self-pairs; at most k DISTINCT partners per id (probe collisions dedupe)") {
    val rows = Sampling.negativePairs(ids(100), "id", 3, 8).collect()
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)))
    val perId = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSeq)
    assert(perId.values.forall(_.length <= 3))
    // with 8 buckets and 3 probes collisions are certain across 100 ids:
    // the dedup must leave partners unique per id
    assert(perId.values.forall(ps => ps.distinct.length == ps.length),
      "duplicate partners must collapse to one row")
  }

  test("partners are valid corpus ids") {
    val valid = (1L to 50L).toSet
    val rows = Sampling.negativePairs(ids(50), "id", 2, 8).collect()
    assert(rows.forall(r => valid.contains(r.getLong(2))))
  }

  test("plan is a broadcast join against representatives — no cartesian, no corpus shuffle") {
    val p = Sampling.negativePairs(ids(100), "id", 2, 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), s"must not be a cross product:\n${p.take(1500)}")
  }
}

class CapPerGroupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def df = createDf(spark, "g string, id bigint",
    (1L to 23L).map(i => Seq[Any](if (i <= 20) "big" else "small", i)))

  test("groups above the cap shrink to exactly k; smaller groups are untouched") {
    val out = Sampling.capPerGroup(df, Seq("g"), "id", 5)
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("big" -> 5L, "small" -> 3L))
  }

  test("the kept subset is deterministic across runs and layouts") {
    val a = Sampling.capPerGroup(df, Seq("g"), "id", 5).collect().toSet
    val b = Sampling.capPerGroup(df.repartition(7), Seq("g"), "id", 5).collect().toSet
    assert(a == b)
  }

  test("hash selection is not head-of-input selection") {
    val kept = Sampling.capPerGroup(df, Seq("g"), "id", 5)
      .filter(col("g") === "big").collect().map(_.getLong(1)).toSet
    assert(kept != (1L to 5L).toSet, "cap must not just keep the first k ids")
  }

  test("rank filter is pushed below the sort (WindowGroupLimit)") {
    val p = Sampling.capPerGroup(df, Seq("g"), "id", 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit pushdown:\n${p.take(1500)}")
  }
}

class OovVocabSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("fixed-vocabulary OOV path matches the corpus-derived path's counts") {
    val docs = createDf(spark, "id int, text string", Seq(
      Seq[Any](1, "a a a b"), Seq[Any](2, "a b zzz")))
    // corpus top-2 vocabulary is {a, b} — inject it explicitly
    val fixed = graft.text.TextStats.oovRateWithVocab(docs, "id", "text", Seq("a", "b"))
    val derived = graft.text.TextStats.oovRate(docs, "id", "text", 2)
    assertDfEquality(fixed, derived, ignoreRowOrder = true)
  }

  test("fixed-vocabulary path plans no shuffle at all") {
    val docs = createDf(spark, "id int, text string", Seq(Seq[Any](1, "a b")))
    val p = graft.text.TextStats.oovRateWithVocab(docs, "id", "text", Seq("a"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"narrow map expected:\n${p.take(1000)}")
  }
}

class CogroupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.StructType

  private def left = createDf(spark, "k string, v int",
    Seq(Seq[Any]("a", 1), Seq[Any]("a", 2), Seq[Any]("b", 10)))
  private def right = createDf(spark, "k string, v int",
    Seq(Seq[Any]("a", 100), Seq[Any]("c", 7)))

  private def counts = Grouped.cogroupApply(left, right, Seq("k"),
    StructType.fromDDL("n_l bigint, n_r bigint")) { (_, l, r) =>
    Iterator(Row(l.size.toLong, r.size.toLong))
  }

  test("f sees both sides' groups; one-sided keys get an empty iterator") {
    val got = counts.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map("a" -> (2L, 1L), "b" -> (1L, 0L), "c" -> (0L, 1L)))
  }

  test("key columns are prepended exactly (no first-row sampling)") {
    assert(counts.columns.toSeq == Seq("k", "n_l", "n_r"))
  }

  test("plan: one exchange per side feeding CoGroup — no join pair explosion") {
    val p = counts.queryExecution.executedPlan.toString
    assert(p.contains("CoGroup"), s"expected CoGroup node:\n${p.take(1200)}")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 2, s"expected exactly 2 exchanges (one per side), found $n")
  }
}

class EvolveSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def df = createDf(spark, "a int, b string, extra double",
    Seq(Seq[Any](1, "x", 9.5), Seq[Any](2, "y", 8.5)))

  test("evolveTo casts, adds typed nulls, drops extras, reorders") {
    val out = graft.schema.Types.evolveTo(df, "b string, a bigint, c double")
    assert(out.columns.toSeq == Seq("b", "a", "c"))
    assert(out.schema("a").dataType.simpleString == "bigint")
    assert(out.schema("c").dataType.simpleString == "double")
    val rows = out.orderBy("a").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(rows.forall(_.isNullAt(2)))
  }

  test("evolving to the same schema is the identity") {
    val out = graft.schema.Types.evolveTo(df, "a int, b string, extra double")
    assertDfEquality(out, df)
  }

  test("diffSchemas reports added/removed/retyped, omits unchanged, case-insensitive") {
    val from = createDf(spark, "a int, b string, gone double", Seq(Seq[Any](1, "x", 1.0)))
    val to = createDf(spark, "A bigint, b string, fresh boolean", Seq(Seq[Any](1L, "x", true)))
    val got = graft.schema.Types.diffSchemas(from, to)
    assert(got == Seq(
      ("fresh", "added", None, Some("boolean")),
      ("gone", "removed", Some("double"), None),
      ("A", "retyped", Some("int"), Some("bigint")),
    ))
  }

  test("diffSchemas of identical schemas is empty") {
    assert(graft.schema.Types.diffSchemas(df, df).isEmpty)
  }

  test("column matching is case-insensitive and keeps the target spelling") {
    val src = createDf(spark, "Price double, Name string",
      Seq(Seq[Any](9.5, "x")))
    val out = graft.schema.Types.evolveTo(src, "price double, name string")
    assert(out.columns.toSeq == Seq("price", "name"))
    assert(out.head().getDouble(0) == 9.5) // data survives the case mismatch
  }

  test("source columns differing only in case are an ambiguous match — fail loudly") {
    val src = createDf(spark, "price double, Price double, name string",
      Seq(Seq[Any](1.0, 2.0, "x")))
    val e = intercept[IllegalArgumentException](
      graft.schema.Types.evolveTo(src, "price double, name string"))
    assert(e.getMessage.contains("ambiguous"))
  }
}

class ObserveSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("metrics ride the job: row count and null counts with no extra scan") {
    val df = createDf(spark, "k string, v double",
      Seq(Seq[Any]("a", 1.0), Seq[Any]("b", null), Seq[Any]("c", 3.0)))
    val (observedDf, obs) = Observe.qualityMetrics(df, Seq("v"))
    // the action that carries the metrics
    assert(observedDf.count() == 3)
    val m = obs.get
    assert(m("n_rows") == 3L)
    assert(m("nulls_v") == 1L)
  }

  test("custom metric expressions") {
    val df = createDf(spark, "v double", Seq(Seq[Any](2.0), Seq[Any](6.0)))
    val (odf, obs) = Observe.observed(df, "stats",
      Seq(min(col("v")).as("lo"), max(col("v")).as("hi")))
    odf.collect()
    assert(obs.get("lo") == 2.0 && obs.get("hi") == 6.0)
  }

  test("checkpointed: the metric rides the checkpoint job; an empty max reads 0") {
    val df = createDf(spark, "v bigint", Seq(Seq[Any](2L), Seq[Any](6L)))
    val (cp, mx) = Observe.checkpointed(df.select((col("v") * 2).as("w")), max(col("w")))
    assert(mx == 12L && cp.collect().map(_.getLong(0)).sorted.toSeq == Seq(4L, 12L))
    val (empty, none) = Observe.checkpointed(df.filter(col("v") < 0), max(col("v")))
    assert(none == 0L && empty.isEmpty)
  }

  test("checkpointed: several metrics ride the one checkpoint job, in order") {
    val df = createDf(spark, "v bigint", Seq(Seq[Any](2L), Seq[Any](6L), Seq[Any](7L)))
    var got: (org.apache.spark.sql.DataFrame, Seq[Long]) = null
    val actions = graft.testing.SparkActions.count {
      got = Observe.checkpointed(df, Seq(sum(col("v")), count(lit(1)), max(col("v"))))
    }
    assert(actions == 1 && got._2 == Seq(15L, 3L, 7L))
    assert(got._1.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 6L, 7L))
  }

  test("scalars: agg(...).head()'s row in one job, on a fixture, an empty and a cold cached frame") {
    val df = createDf(spark, "k string, v bigint, x double",
      Seq(Seq[Any]("a", 1L, 0.5), Seq[Any]("b", null, 2.5), Seq[Any]("a", 4L, -1.0)))
    def metrics = Seq(count(lit(1)).as("n"), sum(col("v")).as("s"),
      sum(col("v").cast("decimal(38,0)")).as("sd"), min(col("x")), max(col("k")),
      sum(when(col("k") === "a", 1L).otherwise(0L)).as("na"))
    def check(d: org.apache.spark.sql.DataFrame): Unit = {
      val expected = d.agg(metrics.head, metrics.tail: _*).head()
      var got: org.apache.spark.sql.Row = null
      val jobs = graft.testing.SparkActions.jobs { got = Observe.scalars(d, metrics: _*) }
      assert(got == expected && jobs == 1)
      assert(got.schema.map(_.dataType) == expected.schema.map(_.dataType))
    }
    check(df)
    val empty = df.filter(col("v") > 100L)
    check(empty)
    assert(Observe.scalars(empty, metrics: _*).toSeq == Seq(0L, null, null, null, null, null))
    val cold = df.filter(col("k").isNotNull).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var got: org.apache.spark.sql.Row = null
      val jobs = graft.testing.SparkActions.jobs { got = Observe.scalars(cold, metrics: _*) }
      assert(jobs == 1, "the cold cache builds in the one observed job")
      assert(got == df.filter(col("k").isNotNull).agg(metrics.head, metrics.tail: _*).head())
    } finally Observe.release(cold)
  }

  test("sortedCollect: orderBy's rows for int, string and date keys, nulls first") {
    val df = createDf(spark, "i int, s string, d date",
      Seq(Seq[Any](3, "b", java.sql.Date.valueOf("2024-03-01")),
        Seq[Any](null, "é", null),
        Seq[Any](-1, "a", java.sql.Date.valueOf("2023-12-31")),
        Seq[Any](10, null, java.sql.Date.valueOf("2024-01-15")),
        Seq[Any](2, "B", java.sql.Date.valueOf("1999-07-04"))))
    for (c <- Seq("i", "s", "d"))
      assert(Observe.sortedCollect(df, c).toSeq == df.orderBy(col(c)).collect().toSeq, c)
    assert(Observe.sortedCollect(df, "s", "i").toSeq ==
      df.orderBy(col("s"), col("i")).collect().toSeq)
    val grouped = df.groupBy(col("s")).count()
    assert(graft.testing.SparkActions.jobs { Observe.sortedCollect(grouped, "s"); () } == 2)
  }

  /** Halve every value until the sum stops moving: 7 -> 3 -> 1 -> 0 -> 0. */
  private def halving(maxRounds: Int) = {
    val init = createDf(spark, "x bigint", Seq(Seq[Any](7L))).localCheckpoint(true)
    Observe.fixpoint("halving", init, start = 7L, maxRounds) { cur =>
      Observe.checkpointed(cur.select(expr("x div 2").as("x")), sum(col("x")))
    }(_ == _)
  }

  test("fixpoint: stops at the first round whose metric is unchanged and records its rounds") {
    assert(halving(maxRounds = 4).head().getLong(0) == 0L)
    assert(Observe.rounds("halving") == 4)
  }

  test("fixpoint: raises at the backstop instead of returning a non-fixpoint") {
    val e = intercept[IllegalStateException](halving(maxRounds = 3))
    assert(e.getMessage.contains("halving did not converge within 3 rounds"))
  }

  test("iterate: stops after the first round where done holds and records its rounds") {
    var steps = 0
    val (last, n) = Observe.iterate("halve", 40L, maxRounds = 10) { x => steps += 1; x / 2 }(_ == _)
    // 40 -> 20 -> 10 -> 5 -> 2 -> 1 -> 0 -> 0: the unchanged round is the seventh
    assert((last, n, steps) == ((0L, 7, 7)))
    assert(Observe.rounds("halve") == 7)
  }

  test("iterate: stops at maxRounds when done never holds; zero rounds return init") {
    val (last, n) = Observe.iterate("count", 0, maxRounds = 5)(_ + 1)((_, _) => false)
    assert((last, n) == ((5, 5)) && Observe.rounds("count") == 5)
    val (same, none) = Observe.iterate("count", 3, maxRounds = 0)(_ => fail("no round runs"))(_ == _)
    assert((same, none) == ((3, 0)) && Observe.rounds("count") == 0)
  }

  test("release drops a local checkpoint's blocks; releasing frees on a throw") {
    val cp = spark.range(10).toDF("x").localCheckpoint(true)
    val id = cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    Observe.release(cp)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
    val cached = spark.range(5).toDF("y").persist()
    intercept[IllegalArgumentException] {
      Observe.releasing(cached) { cached.count(); require(false, "contract error") }
    }
    assert(cached.storageLevel == StorageLevel.NONE)
  }

  private def checksum(df: org.apache.spark.sql.DataFrame, cols: String*) =
    Observe.tableChecksum(df, cols).head()

  test("tableChecksum: invariant to row order and partitioning") {
    val rows = (1 to 50).map(i => Seq[Any](i, s"s$i"))
    val df = createDf(spark, "id int, s string", rows)
    val a = checksum(df, "id", "s")
    val b = checksum(df.orderBy(col("s").desc).repartition(7), "id", "s")
    assert(a == b)
  }

  test("tableChecksum: any value change, row loss, or duplication shifts the triple") {
    val df = createDf(spark, "id int, s string",
      Seq(Seq[Any](1, "a"), Seq[Any](2, "b")))
    val base = checksum(df, "id", "s")
    val changed = checksum(createDf(spark, "id int, s string",
      Seq(Seq[Any](1, "a"), Seq[Any](2, "c"))), "id", "s")
    val lost = checksum(df.filter(col("id") === 1), "id", "s")
    val duped = checksum(df.unionAll(df), "id", "s")
    assert(base != changed && base != lost && base != duped)
    // duplication is invisible to XOR alone — count and sum catch it
    assert(duped.getLong(0) == 4L && duped.getLong(1) == 0L)
  }

  test("tableChecksum: null placement is distinguished") {
    val a = checksum(createDf(spark, "x string, y string",
      Seq(Seq[Any](null, "a"))), "x", "y")
    val b = checksum(createDf(spark, "x string, y string",
      Seq(Seq[Any]("a", null))), "x", "y")
    assert(a.getLong(1) != b.getLong(1))
  }

  test("tableChecksum: one aggregate, no shuffle beyond the final combine") {
    val df = createDf(spark, "id int", Seq(Seq[Any](1)))
    val p = Observe.tableChecksum(df, Seq("id")).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p.take(1200))
  }
}
