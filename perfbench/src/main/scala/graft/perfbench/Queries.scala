package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import graft.SparkEntry

/** The `queries_sf0.1` workload: oracle-exact `SparkEntry` queries, each
  * result fully materialised and fingerprinted. */
object Queries {

  /** Shuffle- and multi-job-bound queries, with their operator family. */
  val Heavy: Seq[(String, String)] = Seq(
    "dedup_minhash_lsh" -> "dedup",
    "profile_orders" -> "relational",
    "graph_label_prop" -> "graph",
    "ann_ivf_probe_live" -> "similarity")

  /** Queries bound by fixed per-query and per-task overhead. */
  val Light: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "relational",
    "q6_forecast_revenue" -> "relational",
    "q10_returned_items" -> "relational",
    "q14_promo_revenue" -> "relational",
    "events_interval_union" -> "events_text",
    "text_zipf_slope" -> "events_text")

  val All: Seq[(String, String)] = Heavy ++ Light
  val Families: Seq[String] = Seq("dedup", "graph", "similarity", "relational", "events_text")

  /** The run order for a seed: the heavy half, then the light half, each
    * in the seed's permutation. The light queries always come after every
    * heavy one: their times depend on what the JVM has compiled before
    * them, and that must not depend on the seed. */
  def order(seed: Long): Seq[(String, String)] = {
    val rng = new scala.util.Random(seed)
    rng.shuffle(Heavy) ++ rng.shuffle(Light)
  }

  final case class Result(name: String, family: String, wallS: Double,
      fingerprint: Option[Fingerprint], error: Option[String],
      counters: SparkProbe.Counters, sortAggregates: Int, exchanges: Int)

  private val SortAggregate = "SortAggregate".r
  private val ShuffleExchange = "(?<!Broadcast)Exchange (?:hash|range|Single|RoundRobin)".r

  /** Runs one query: builds it, collects every row, fingerprints the rows
    * and counts aggregate and exchange operators in the executed plan. */
  def run(spark: SparkSession, probe: SparkProbe, dataDir: String,
      name: String, family: String): Result = {
    val c0 = probe.snapshot(spark.sparkContext)
    val t0 = System.nanoTime()
    val (fp, err, plan) =
      try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        val fp = Fingerprint.collect(df)
        (Some(fp), None, df.queryExecution.executedPlan.toString)
      } catch { case e: Throwable => (None, Some(String.valueOf(e.getMessage)), "") }
    val wall = (System.nanoTime() - t0) / 1e9
    val c1 = probe.snapshot(spark.sparkContext)
    Result(name, family, wall, fp, err, c1 - c0,
      SortAggregate.findAllIn(plan).size, ShuffleExchange.findAllIn(plan).size)
  }

  /** Drops state a query leaves behind (checkpointed RDD blocks, cached
    * plans), so it does not burden later queries. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  /** Expected fingerprints: the `name rows:hash` lines of
    * `expected_fingerprints.txt`. */
  def expected(path: java.nio.file.Path): Map[String, String] =
    java.nio.file.Files.readAllLines(path).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+", 2); k -> v }.toMap
}
