package graft.text

import org.scalatest.funsuite.AnyFunSuite

import graft.testing.{SparkActions, TestSpark}
import graft.testing.DfAssert.createDf

class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def corpus(lines: String*) =
    createDf(spark, "text string", lines.map(l => Seq[Any](l)))

  private def merges(rounds: Int, lines: String*): Seq[(Int, String, String, Long)] =
    Bpe.trainMerges(corpus(lines: _*), "text", rounds)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(_._1)

  test("merge order: counts first, lexicographic (left, right) tiebreak") {
    // vocab: aaab×2, abab×1
    // round 1 pairs: (a,a)=4, (a,b)=4, (b,a)=1 — tie broken toward (a,a)
    // round 2 (after aaab→[aa,a,b]): (a,b)=4 wins over (aa,a)=2
    // round 3: aaab→[aa,ab], abab→[ab,ab]: (aa,ab)=2 over (ab,ab)=1
    val got = merges(3, "aaab aaab", "abab")
    assert(got == Seq(
      (1, "a", "a", 4L), (2, "a", "b", 4L), (3, "aa", "ab", 2L)))
  }

  test("greedy-left within runs: lllll merges to [ll, ll, l], not [ll, l, ll]") {
    val got = merges(2, "lllll")
    assert(got.head == ((1, "l", "l", 4L)))
    // [ll, ll, l] yields pairs (ll,ll) and (ll,l); tiebreak picks (ll,l).
    // A wrong fold ([ll, l, ll]) would surface (l,ll) instead.
    assert(got(1) == ((2, "ll", "l", 1L)))
  }

  test("single-symbol vocabulary dries out early with a stable schema") {
    val out = Bpe.trainMerges(corpus("a b a"), "text", rounds = 5)
    assert(out.columns.toSeq == Seq("round", "left", "right", "n"))
    assert(out.count() == 0)
  }

  test("training releases every vocabulary checkpoint, dried out or not") {
    assert(SparkActions.leftPersisted(merges(3, "aaab aaab abab")).isEmpty)
    assert(SparkActions.leftPersisted(merges(5, "a b a")).isEmpty)
  }

  test("word counts weight pair counts (frequency, not document presence)") {
    // "xy" appears 3 times across 2 docs: (x,y) = 3
    val got = merges(1, "xy xy", "xy z")
    assert(got == Seq((1, "x", "y", 3L)))
  }

  test("merged symbols participate in later rounds (multi-char pairs)") {
    val got = merges(3, "abc abc abc")
    // (a,b) and (b,c) tie at 3 → (a,b); then (ab,c)=3
    assert(got.take(2) == Seq((1, "a", "b", 3L), (2, "ab", "c", 3L)))
    assert(got.size == 2) // fully merged: no pairs remain for round 3
  }

  private def encoded(rules: Seq[(String, String)], lines: String*) =
    Bpe.encodeTokenCounts(
        createDf(spark, "id bigint, text string",
          lines.zipWithIndex.map { case (l, i) => Seq[Any](i.toLong, l) }),
        "id", "text", rules)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("encodeTokenCounts: rules apply in order with greedy-left semantics") {
    // rules (a,b) then (ab,c): "abc" → [ab, c] → [abc] = 1 token;
    // "ab ac" → [ab] + [a, c] = 3 tokens
    val got = encoded(Seq("a" -> "b", "ab" -> "c"), "abc ab", "ab ac")
    assert(got(0L) == ((2L, 5L, 2L))) // abc→1 token, ab→1 token
    assert(got(1L) == ((2L, 4L, 3L)))
  }

  test("encodeTokenCounts: unmerged text tokenizes to one token per character") {
    val got = encoded(Seq("q" -> "q"), "xyz wv")
    assert(got(0L) == ((2L, 5L, 5L)))
  }

  test("encodeTokenCounts: consecutive spaces drop empty words; no-word docs emit no row") {
    val got = encoded(Seq("a" -> "b"), "ab  ab", "")
    assert(got == Map(0L -> ((2L, 4L, 2L))))
  }

  test("encodeTokenCounts: matches occurrence-by-occurrence folding (train→encode round trip)") {
    val lines = Seq("aaab aaab abab", "abab aaab", "banana bandana")
    val df = createDf(spark, "id bigint, text string",
      lines.zipWithIndex.map { case (l, i) => Seq[Any](i.toLong, l) })
    val rules = Bpe.trainMerges(df, "text", rounds = 4)
      .orderBy(org.apache.spark.sql.functions.col("round"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val got = Bpe.encodeTokenCounts(df, "id", "text", rules).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // reference: fold every occurrence independently in plain Scala
    def fold(word: String): Int = {
      var syms = word.map(_.toString).toVector
      for ((l, r) <- rules) {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (out.nonEmpty && out.last == l && syms(i) == r) {
            out(out.length - 1) = l + r; i += 1
          } else { out += syms(i); i += 1 }
        }
        syms = out.toVector
      }
      syms.length
    }
    val expect = lines.zipWithIndex.map { case (l, i) =>
      i.toLong -> l.split(" ", -1).filter(_.nonEmpty).map(fold(_).toLong).sum
    }.toMap
    assert(got == expect)
  }
}
