package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derives a ×N scale corpus from a driver testdata dir (VERDICT r8 #1:
  * "prove the 100 TB design with data") — unions each table N times
  * with replica-specific perturbations chosen so WORKLOAD STATISTICS
  * scale the way a real corpus would, not degenerately:
  *
  *   - fact/entity keys offset by replica·1e9, so key cardinality and
  *     join fanout scale linearly and replicas never collide;
  *   - dimension tables (region, nation) stay 1× — category domains
  *     don't grow with data;
  *   - document TEXT passes through a replica-keyed caesar `translate`,
  *     so vocabulary grows ~linearly and near-dup cluster sizes stay
  *     FLAT (verbatim duplication would grow every dup cluster ×N and
  *     quadratically inflate LSH candidate pairs — an adversarial,
  *     not-representative scale-up);
  *   - embeddings get a small deterministic per-(replica, dim) additive
  *     perturbation, so ANN bucket occupancy scales without exact-dup
  *     vector clusters (pure scaling would leave cosine unchanged);
  *   - timestamps/values/measures are untouched — distributions hold.
  *
  * Replica 0 is the identity, so the scaled corpus CONTAINS the
  * original. Usage:
  *   `sbt "runMain graft.ScaleCorpus /root/testdata/sf0.1 /tmp/graft_sf1 10"`
  */
object ScaleCorpus {

  private val abc = "abcdefghijklmnopqrstuvwxyz"
  private val OFF = 1000000000L

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleCorpus <srcDir> <dstDir> [factor]")
    val (src, dst) = (args(0), args(1))
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    require(factor >= 1 && factor <= 100, s"factor out of range: $factor")
    val spark = GraftSession.local("graft-scale-corpus")

    def table(name: String): DataFrame = graft.sources.Sources.readTable(spark, src, name)
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"scaled $name")
    }
    def scaled(df: DataFrame)(perReplica: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => perReplica(df, i)).reduce(_ unionAll _)
    def off(i: Int, cols: String*): DataFrame => DataFrame = df =>
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * OFF)))

    // dimensions: category domains don't grow
    write(table("region"), "region")
    write(table("nation"), "nation")

    write(scaled(table("customer"))((d, i) => off(i, "c_custkey")(d)), "customer")
    write(scaled(table("supplier"))((d, i) => off(i, "s_suppkey")(d)), "supplier")
    write(scaled(table("part"))((d, i) => off(i, "p_partkey")(d)), "part")
    write(scaled(table("orders"))((d, i) => off(i, "o_orderkey", "o_custkey")(d)), "orders")
    write(scaled(table("lineitem"))((d, i) =>
      off(i, "l_orderkey", "l_partkey", "l_suppkey")(d)), "lineitem")
    write(scaled(table("events"))((d, i) => off(i, "event_id", "user_id")(d)), "events")

    write(scaled(table("documents")) { (d, i) =>
      val rot = abc.drop(i % 26) + abc.take(i % 26)
      off(i, "doc_id")(d).withColumn("text", translate(col("text"), abc, rot))
    }, "documents")

    write(scaled(table("embeddings")) { (d, i) =>
      off(i, "vec_id")(d).withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          x + ((lit(i * 31) + j) % 7 - lit(3)).cast("float") * lit(0.001f)))
    }, "embeddings")

    spark.stop()
    println(s"done: $dst at x$factor")
  }
}
