package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testing.TestSpark
import graft.testing.DfAssert.createDf

class RankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // 4 docs, hand-checkable: N=4, avgdl = (3+4+2+3)/4 = 3.0
  private def docs = createDf(spark, "id int, text string", Seq(
    Seq[Any](1, "cat dog cat"),        // dl=3, tf(cat)=2
    Seq[Any](2, "cat fish bird fish"), // dl=4, tf(cat)=1
    Seq[Any](3, "dog dog"),            // dl=2
    Seq[Any](4, "bird bird bird"),     // dl=3
  ))

  private def scores(terms: String*) =
    Rank.bm25Scores(docs, "id", "text", terms)
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(5)).toMap

  test("scores match the closed-form BM25 (rational idf) on a hand-checked fixture") {
    val s = scores("cat")
    // doc 1: tf=2, dl=3, df=2, N=4 → idfR=(4-2+0.5)/(2+0.5)=1.0
    //   score = 1.0 * (2*2.2) / (2 + 1.2*(0.25 + 0.75*(3/3))) = 4.4/3.2
    assert(math.abs(s((1, "cat")) - 4.4 / 3.2) < 1e-12)
    // doc 2: tf=1, dl=4 → 1.0 * 2.2 / (1 + 1.2*(0.25 + 0.75*(4/3)))
    val expected2 = 2.2 / (1.0 + 1.2 * (0.25 + 0.75 * (4.0 / 3.0)))
    assert(math.abs(s((2, "cat")) - expected2) < 1e-12)
    // docs without the term yield no row
    assert(!s.contains((3, "cat")) && !s.contains((4, "cat")))
  }

  test("bm25SearchAll: distinctive vocabulary retrieves the right doc at rank 1") {
    val corpus = createDf(spark, "cid int, ctext string", Seq(
      Seq[Any](10, "quantum physics entangles photon states"),
      Seq[Any](11, "gothic cathedrals vault stone arches"),
      Seq[Any](12, "sourdough bread ferments wild yeast"),
      Seq[Any](13, "photon states decohere in quantum noise"),
    ))
    val qs = createDf(spark, "qid int, qtext string", Seq(
      Seq[Any](1, "quantum photon"),
      Seq[Any](2, "stone cathedrals"),
      Seq[Any](3, "wild sourdough yeast"),
    ))
    val got = Rank.bm25SearchAll(corpus, "cid", "ctext", qs, "qid", "qtext")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // every (query, doc) pair sharing a term is scored; disjoint pairs absent
    assert(!got.contains((1, 11)) && !got.contains((2, 12)) && !got.contains((3, 10)))
    // both quantum docs match query 1 on both terms
    assert(got((1, 10))._2 == 2L && got((1, 13))._2 == 2L)
    // the positive control: per query, the topic doc wins rank 1
    def top1(q: Int): Int =
      got.collect { case ((`q`, c), (s, _)) => (s, c) }.toSeq.sortBy { case (s, c) => (-s, c) }.head._2
    assert(top1(2) == 11 && top1(3) == 12)
    assert(Set(10, 13).contains(top1(1))) // both quantum docs legitimately lead
  }

  test("bm25SearchAll total equals the sum of per-term nano-quantized scores") {
    val corpus = createDf(spark, "cid int, ctext string", Seq(
      Seq[Any](1, "cat dog cat fish"), Seq[Any](2, "dog dog bird")))
    val qs = createDf(spark, "qid int, qtext string", Seq(Seq[Any](7, "cat dog bird")))
    val rows = Rank.bm25SearchAll(corpus, "cid", "ctext", qs, "qid", "qtext").collect()
    // recompute from bm25Scores (the literal-terms baseline): quantize each
    // per-term double to nano-units, then exact integer addition
    val base = Rank.bm25Scores(corpus, "cid", "ctext", Seq("cat", "dog", "bird"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(5)).toMap
    rows.foreach { r =>
      val (cid, score) = (r.getInt(1), r.getLong(2)) // col0=qid, col1=cid
      val expected = Seq("bird", "cat", "dog")
        .flatMap(t => base.get((cid, t))).map(s => math.round(s * 1e9)).sum
      assert(score == expected, s"cid $cid: $score != $expected")
    }
  }

  test("rarer terms score higher at equal tf and dl (idf monotone in df)") {
    val s = scores("cat", "dog")
    // doc 1 has tf=2 of cat (df=2) and... use doc3: dog tf=2 dl=2 df=2 —
    // instead compare same doc/term shape: cat in doc2 (tf=1, dl=4, df=2)
    // vs fish would need fish query; simplest: bird (df=2) vs cat (df=2)
    // have equal idf, so craft df difference with "fish" (df=1):
    val s2 = scores("cat", "fish")
    // doc 2 contains cat tf=1 and fish tf=2, both dl=4. fish is rarer
    // (df=1 vs df=2) AND more frequent in-doc — strictly higher score.
    assert(s2((2, "fish")) > s2((2, "cat")))
  }

  test("term frequency saturates: score grows sublinearly in tf") {
    val d = createDf(spark, "id int, text string", Seq(
      Seq[Any](1, "w x x x"),
      Seq[Any](2, "w w x x"), // same dl, tf(w) 1 vs 2
      Seq[Any](3, "y y y y")))
    val s = Rank.bm25Scores(d, "id", "text", Seq("w"))
      .collect().map(r => r.getInt(0) -> r.getDouble(5)).toMap
    assert(s(2) > s(1))          // more occurrences → higher
    assert(s(2) < 2.0 * s(1))    // but sublinear (k1 saturation)
  }

  test("length normalization: same tf scores lower in a longer document") {
    val d = createDf(spark, "id int, text string", Seq(
      Seq[Any](1, "w a"),
      Seq[Any](2, "w a a a a a a a")))
    val s = Rank.bm25Scores(d, "id", "text", Seq("w"))
      .collect().map(r => r.getInt(0) -> r.getDouble(5)).toMap
    assert(s(1) > s(2))
  }

  test("precomputed corpus stats (index-time artifact) reproduce the derived scores exactly") {
    val derived = Rank.bm25Scores(docs, "id", "text", Seq("cat", "dog"))
    // N=4, sum dl = 3+4+2+3 = 12
    val injected = Rank.bm25Scores(docs, "id", "text", Seq("cat", "dog"),
      corpusStats = Some((4L, 12L)))
    graft.testing.DfAssert.assertDfEquality(injected, derived, ignoreRowOrder = true)
    // and the stats branch (an extra aggregation) is gone from the plan
    val p = injected.queryExecution.executedPlan.toString
    val aggs = "HashAggregate".r.findAllIn(p).length
    val pDerived = derived.queryExecution.executedPlan.toString
    assert(aggs < "HashAggregate".r.findAllIn(pDerived).length,
      "injecting stats should remove the stats aggregation branch")
  }

  test("tfidfTopTerms ranks distinctive terms above ubiquitous ones") {
    val d = createDf(spark, "id int, text string", Seq(
      Seq[Any](1, "common rare1 common common rare1 rare1"),
      Seq[Any](2, "common rare2 common"),
      Seq[Any](3, "common x y")))
    // 'common' is in every doc (df=3); rare1 df=1 (pruned at minDf=2)
    val top = Rank.tfidfTopTerms(d, "id", "text", 1, minDf = 1)
      .collect().map(r => r.getInt(0) -> r.getString(2)).toMap
    assert(top(1) == "rare1") // tf=3, df=1 beats common tf=3, df=3
    assert(top(2) == "rare2" || top(2) == "common") // tf 1*idf(2) vs 2*idf(1)
    val pruned = Rank.tfidfTopTerms(d, "id", "text", 3, minDf = 2)
      .collect().map(_.getString(2)).toSet
    assert(!pruned.contains("rare1") && !pruned.contains("rare2"),
      "minDf must prune hapax terms")
  }

  test("bigramPmi: hand-checked contingency PMI on 'a b a b'") {
    // bigrams: (a,b)x2, (b,a)x1; N=3; left marginals a=2,b=1; right b=2,a=1
    val df = createDf(spark, "text string", Seq(Seq[Any]("a b a b")))
    val got = Rank.bigramPmi(df, col("text"), minCount = 1)
      .orderBy("w1", "w2").collect()
    assert(got.length == 2)
    // pmi(a,b) = ln2 + ln3 - ln2 - ln2 = ln(3/2)
    assert(got(0).getAs[Long]("c12") == 2L)
    assert(got(0).getAs[Double]("pmi") == 0.405465)
    // pmi(b,a) = ln1 + ln3 - ln1 - ln1 = ln3
    assert(got(1).getAs[Double]("pmi") == 1.098612)
  }

  test("bigramPmi: minCount filters pairs but NOT the marginals they feed") {
    val df = createDf(spark, "text string", Seq(Seq[Any]("a b a b"), Seq[Any]("a c")))
    // (a,b)=2, (b,a)=1, (a,c)=1; minCount=2 keeps only (a,b), but its
    // left marginal must still count the dropped (a,c): c1(a)=3
    val got = Rank.bigramPmi(df, col("text"), minCount = 2).collect()
    assert(got.length == 1)
    // pmi = ln2 + ln4 - ln3 - ln2 = ln(4/3)
    assert(got(0).getAs[Double]("pmi") ==
      BigDecimal(math.log(2.0) + math.log(4.0) - math.log(3.0) - math.log(2.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("bigramPmi: single-token docs contribute no bigrams and don't crash") {
    val df = createDf(spark, "text string", Seq(Seq[Any]("solo"), Seq[Any]("x y")))
    val got = Rank.bigramPmi(df, col("text"), minCount = 1).collect()
    assert(got.length == 1 && got(0).getAs[String]("w1") == "x")
  }

  test("zipfFit: an exact 1/r frequency law fits slope -1 with r2 = 1") {
    // counts 12, 6, 4, 3 = 12/r for r = 1..4
    val textParts = Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++
      Seq.fill(4)("cc") ++ Seq.fill(3)("dd")
    val d = createDf(spark, "g int, text string",
      Seq(Seq[Any](1, textParts.mkString(" "))))
    val r = Rank.zipfFit(d, Seq("g"), col("text")).head()
    assert(r.getLong(1) == 4L && r.getLong(2) == 25L)
    assert(r.getDouble(3) == -1.0 && r.getDouble(5) == 1.0)
    // intercept = ln 12
    assert(r.getDouble(4) == BigDecimal(math.log(12.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("zipfFit: uniform frequencies have no rank signal -> dy = 0 nulls r2, slope 0") {
    val d = createDf(spark, "g int, text string",
      Seq(Seq[Any](1, "aa bb cc dd aa bb cc dd")))
    val r = Rank.zipfFit(d, Seq("g"), col("text")).head()
    assert(r.getDouble(3) == 0.0 && r.isNullAt(5)) // flat: slope 0, r2 undefined
  }

  test("heapsLaw: all-unique vocabularies grow with beta exactly 1 and K = tokens/doc") {
    // doc i contributes 3 tokens nobody else has: V(n) = 3n at every prefix
    val d = createDf(spark, "id int, text string",
      (0 until 64).map(i => Seq[Any](i, s"t${i}a t${i}b t${i}c")))
    val r = Rank.heapsLaw(d, col("id"), col("text")).head()
    assert(r.getLong(0) == 64L && r.getLong(1) == 192L)
    assert(r.getLong(2) >= 3L)
    assert(r.getDouble(3) == 1.0)
    assert(math.abs(r.getDouble(4) - 3.0) < 1e-3, r.getDouble(4).toString)
  }

  test("heapsLaw: a one-token vocabulary is flat (beta 0); partitioning-invariant") {
    val d = createDf(spark, "id int, text string",
      (0 until 32).map(i => Seq[Any](i, "x x x")))
    val r = Rank.heapsLaw(d, col("id"), col("text")).head()
    assert(r.getLong(1) == 1L && r.getDouble(3) == 0.0)
    val big = createDf(spark, "id int, text string",
      (0 until 200).map(i => Seq[Any](i, s"w${i % 37} w${(i * 7) % 51} common")))
    val one = Rank.heapsLaw(big.coalesce(1), col("id"), col("text")).head()
    val many = Rank.heapsLaw(big.repartition(9), col("id"), col("text")).head()
    assert(one == many)
  }

  test("conditionalEntropy: alternation is perfectly predictable (h_cond 0, ppl 1)") {
    val d = createDf(spark, "g string, text string",
      Seq(Seq[Any]("s", "a b a b a")))
    val r = Rank.conditionalEntropy(d, Seq("g"), col("text")).head()
    assert(r.getLong(1) == 4L)
    assert(r.getDouble(2) == BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getDouble(3) == 0.0)
    assert(r.getDouble(4) == 1.0)
  }

  test("conditionalEntropy: hand-checked branching text; invariant to partitioning") {
    // "a a b b": bigrams aa/ab/bb once each; H(w2|w1) = (2/3)ln2
    val d = createDf(spark, "g string, text string", Seq(Seq[Any]("s", "a a b b")))
    val r = Rank.conditionalEntropy(d, Seq("g"), col("text")).head()
    assert(r.getLong(1) == 3L)
    assert(r.getDouble(3) == 0.462098)
    assert(r.getDouble(2) > r.getDouble(3)) // conditioning can only sharpen
    val big = createDf(spark, "g string, text string",
      (0 until 150).map(i => Seq[Any](s"s${i % 3}", s"w${i % 11} w${(i * 7) % 13} w${i % 5}")))
    val one = Rank.conditionalEntropy(big.coalesce(1), Seq("g"), col("text"))
      .orderBy(col("g")).collect().toSeq
    val many = Rank.conditionalEntropy(big.repartition(9), Seq("g"), col("text"))
      .orderBy(col("g")).collect().toSeq
    assert(one == many)
  }

  test("exactGroups cluster histogram: sizes, clusters, and removable counts") {
    val d = createDf(spark, "doc_id int, text string",
      Seq("x", "x", "x", "y", "y", "z").zipWithIndex
        .map { case (t, i) => Seq[Any](i, t) })
    val hist = Dedup.exactGroups(d, "text", "doc_id")
      .groupBy(col("n_dups").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("n_dups")).as("n_docs"))
      .withColumn("docs_removable", col("n_docs") - col("n_clusters"))
      .orderBy(col("cluster_size"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(hist.toSeq == Seq((1L, 1L, 1L, 0L), (2L, 1L, 2L, 1L), (3L, 1L, 3L, 2L)))
  }

  test("hillNumbers: a uniform vocabulary has all three Hill numbers equal") {
    // 4 tokens x 3 each: q0 = 4, shannon = ln 4, hill1 = 4, hill2 = 144/36
    val d = createDf(spark, "g string, text string",
      Seq(Seq[Any]("s", "aa bb cc dd aa bb cc dd aa bb cc dd")))
    val r = Rank.hillNumbers(d, Seq("g"), col("text")).head()
    assert(r.getLong(1) == 12L && r.getLong(2) == 4L)
    assert(r.getDouble(3) == BigDecimal(math.log(4.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getDouble(4) == 4.0)
    assert(r.getDouble(5) == 4.0)
  }

  test("hillNumbers: a dominated vocabulary orders q0 >= hill1 >= hill2") {
    val d = createDf(spark, "g string, text string",
      Seq(Seq[Any]("s", (Seq.fill(50)("top") ++ Seq("a", "b", "c", "d")).mkString(" "))))
    val r = Rank.hillNumbers(d, Seq("g"), col("text")).head()
    assert(r.getLong(2) == 5L)
    assert(r.getDouble(4) > r.getDouble(5))
    assert(r.getLong(2).toDouble > r.getDouble(4))
    val big = createDf(spark, "g string, text string",
      (0 until 120).map(i => Seq[Any](s"s${i % 3}", s"w${i % 17} w${(i * 7) % 29} x")))
    val one = Rank.hillNumbers(big.coalesce(1), Seq("g"), col("text"))
      .orderBy(col("g")).collect().toSeq
    val many = Rank.hillNumbers(big.repartition(9), Seq("g"), col("text"))
      .orderBy(col("g")).collect().toSeq
    assert(one == many)
  }

  test("burstiness: hand-checked VMR ordering — bursty beats uniform") {
    // a: 3x in one doc (vmr 3.0); c: 1x in two docs (2/3); b: 1x everywhere (0)
    val d = createDf(spark, "id int, text string", Seq(
      Seq[Any](1, "a a a b"), Seq[Any](2, "b c"),
      Seq[Any](3, "b c"), Seq[Any](4, "b")))
    val rows = Rank.burstiness(d, col("id"), col("text"), minDocs = 1, topK = 10)
      .collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "c", "b"))
    assert(rows(0).getDouble(4) == 3.0)
    assert(rows(1).getDouble(4) == 0.666667)
    assert(rows(2).getDouble(4) == 0.0)
    assert(rows(0).getLong(1) == 1L && rows(0).getLong(2) == 3L)
  }

  test("burstiness: minDocs prunes rare tokens and topK caps the cut") {
    val d = createDf(spark, "id int, text string", Seq(
      Seq[Any](1, "a a a b"), Seq[Any](2, "b c"),
      Seq[Any](3, "b c"), Seq[Any](4, "b")))
    val pruned = Rank.burstiness(d, col("id"), col("text"), minDocs = 2, topK = 10)
      .collect()
    assert(pruned.map(_.getString(0)).toSeq == Seq("c", "b"))
    val capped = Rank.burstiness(d, col("id"), col("text"), minDocs = 1, topK = 2)
      .collect()
    assert(capped.map(_.getString(0)).toSeq == Seq("a", "c"))
  }

  test("vocabularyOverlap: hand-checked jaccard and directional containment") {
    val d = createDf(spark, "g string, tk string",
      Seq("a" -> "x", "a" -> "y", "a" -> "x", // dup collapses
        "b" -> "x", "b" -> "y", "b" -> "z", "b" -> "w")
        .map { case (g, t) => Seq[Any](g, t) })
    val r = graft.ops.Drift.vocabularyOverlap(d, "g", "tk").head()
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((2L, 4L, 2L)))
    assert(r.getDouble(5) == 0.5) // 2 / (2+4-2)
    assert(r.getDouble(6) == 1.0) // a fully inside b
    assert(r.getDouble(7) == 0.5)
  }

  test("vocabularyOverlapPreDeduped drops null tokens like the public entry") {
    // already distinct per (group, token); the null token in each group
    // would otherwise count toward both sizes: n_a 3, n_b 2, jaccard 0.25
    val d = createDf(spark, "g string, tk string",
      Seq(Seq[Any]("a", "x"), Seq[Any]("a", "y"), Seq[Any]("a", null),
        Seq[Any]("b", "x"), Seq[Any]("b", null)))
    val r = graft.ops.Drift.vocabularyOverlapPreDeduped(d, "g", "tk").head()
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((2L, 1L, 1L)))
    assert(r.getDouble(5) == 0.5 && r.getDouble(6) == 0.5 && r.getDouble(7) == 1.0)
    assert(r == graft.ops.Drift.vocabularyOverlap(d, "g", "tk").head())
  }

  test("rakeTopPhrase: hand-checked deg/freq scores favor the long phrase") {
    val d = createDf(spark, "id int, text string", Seq(Seq[Any](1,
      "deep learning of deep systems and the deep learning stack")))
    val r = Rank.rakeTopPhrase(d, "id", col("text"),
      Seq("of", "and", "the")).head()
    // deg(deep)=2+2+3=7 freq=3 -> 2333333333; learning 5/2 -> 2500000000;
    // stack 3/1 -> 3000000000: "deep learning stack" = 7833333333
    assert(r.getString(1) == "deep learning stack")
    assert(r.getLong(2) == 3L && r.getLong(3) == 7833333333L)
  }

  test("rakeTopPhrase: punctuation delimits tokens; all-stopword docs vanish; ties break lexicographically") {
    val d = createDf(spark, "id int, text string", Seq(
      Seq[Any](1, "Salt! pepper, salt."), // two 1-word phrases + repeat
      Seq[Any](2, "the of and"),          // nothing survives
      Seq[Any](3, "zebra the apple")))    // two score-1e9 singletons
    val got = Rank.rakeTopPhrase(d, "id", col("text"), Seq("of", "and", "the"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    // salt: deg 1+1=2, freq 2 -> 1e9; pepper 1e9: tie -> "pepper" < "salt"
    assert(got == Map(1 -> "pepper", 3 -> "apple"))
  }

  test("postings are filtered before aggregation (plan has no full-token shuffle)") {
    val df = Rank.bm25Scores(docs, "id", "text", Seq("cat"))
    val p = df.queryExecution.executedPlan.toString
    // the only wide operations are the (doc,term) count and the tiny df
    // agg + broadcasts; the term filter must sit below the first exchange
    val firstExchange = p.indexOf("Exchange")
    val filterPos = p.indexOf("cat")
    assert(firstExchange >= 0 && filterPos > firstExchange,
      s"query-term filter must be below (printed after) the first exchange:\n${p.take(2000)}")
  }
}
