package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.testing.TestSpark

/** Per-query shuffle budgets for the most expensive registered queries
  * (VERDICT r8 #2): the registry guard forbids catastrophic SHAPES, but
  * a refactor could still silently add an Exchange to a headline query
  * and hide under the 2× total bench gate. These pins make that fail BY
  * NAME: the exact (ShuffleExchange, BroadcastExchange) node counts of
  * each query's planned physical tree are asserted against the audited
  * r9 values (PLANS.md documents why each plan is the one we want).
  *
  * Counting happens on the PLANNED tree (post-EnsureRequirements,
  * pre-execution — the AQE initial plan), so the pin is deterministic
  * and independent of runtime re-optimization; AQE can only improve on
  * it. Iterative queries (pagerank/ppr/gk/tpd) materialize their
  * checkpointed state when the query builds, so their final plan
  * legitimately shows the post-checkpoint tail — the pin covers exactly
  * the stages a regression would add to.
  *
  * If a pin fails after an INTENTIONAL plan change: re-audit the plan
  * (PLANS.md), then update the number in the same commit.
  */
class ExchangeBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def counts(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val s = df.queryExecution.executedPlan.toString
    def lead(l: String) = l.replaceAll("^[^A-Za-z]*", "")
    (s.linesIterator.count(lead(_).startsWith("Exchange ")),
      s.linesIterator.count(lead(_).startsWith("BroadcastExchange")))
  }

  /** name -> (shuffle exchanges, broadcast exchanges), audited r9. */
  private val pins: Map[String, (Int, Int)] = Map(
    "q_pmi" -> ((6, 1)),
    "q_retrieval_eval" -> ((9, 5)),
    // r14: single-pass endpoint explode — the tagged edge list (scan +
    // two label joins) used to be recomputed 4× (28 planned shuffles)
    "q_modularity" -> ((2, 1)),
    "q_ppr" -> ((1, 0)),
    // r14: zero-fill deferred to one union+agg readout (was a per-
    // normalization nodes join; the readout join is gone too).
    // r15: each normalization's max rides the checkpoint job as an
    // Observation metric and inlines as a literal divisor — the two
    // max-aggregation subtrees and their 1-row broadcast cross joins
    // left the plan (4+2 -> 2+0)
    "q_hits" -> ((2, 0)),
    "q_curate" -> ((6, 1)),
    "q_tpd_index" -> ((1, 0)),
    "q_semdedup" -> ((3, 0)),
    "q_pagerank" -> ((1, 0)),
    // the ADC scan: one broadcast of the query LUTs, the per-query top-k
    // window exchange and the output sort's range exchange
    "q_pq" -> ((2, 1)),
    "q_gk_index" -> ((1, 0)),
    // round-9 second wave: the classifier-chain consumers are the only
    // newcomers above 2s in the bench — pin their scoring-pass plans
    "q_pr_auc" -> ((4, 1)),
    "q_isotonic" -> ((1, 0)),
    "q_brier" -> ((4, 1)),
  )

  test("headline queries keep their audited exchange budgets") {
    val failures = pins.toSeq.sortBy(_._1).flatMap { case (name, (s, b)) =>
      Caches.clearAll() // memoizing queries must pin their COLD plan
      val got = counts(SparkEntry.queries(name)(spark, dir))
      if (got == ((s, b))) None
      else Some(s"$name: expected $s shuffle + $b broadcast exchanges, got " +
        s"${got._1} + ${got._2} — if intentional, re-audit PLANS.md and move the pin")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("negative control: an added repartition is caught by the counter") {
    Caches.clearAll()
    val base = counts(SparkEntry.queries("q_pmi")(spark, dir))._1
    Caches.clearAll()
    val padded = counts(SparkEntry.queries("q_pmi")(spark, dir).repartition(5))._1
    assert(padded == base + 1,
      s"repartition must add exactly one counted shuffle (base=$base, padded=$padded)")
  }
}
