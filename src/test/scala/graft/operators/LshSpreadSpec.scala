package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate,
  RepartitionByExpression}
import org.apache.spark.sql.functions._

/** Plan shape of the LSH spreads and the MinHash index bands: spreads
  * are sized to the task slots (not the full shuffle width), and the
  * index's band keys are derived per row from the token-hash sets
  * without a token explode or a signature aggregate. */
class LshSpreadSpec extends SparkSpec {

  private def widths(df: DataFrame): Seq[Option[Int]] =
    df.queryExecution.analyzed.collect {
      case r: RepartitionByExpression => r.optNumPartitions
    }

  private def bands: DataFrame = {
    import spark.implicits._
    (1 to 20).map(i => (i.toLong, s"${i % 4}_k")).toDF("id", "band_key")
  }

  test("spreadBy width is min(shuffle.partitions, 2 x defaultParallelism)") {
    val slots = spark.sparkContext.defaultParallelism
    // the test session: 4 shuffle partitions on local[4] stay 4
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(widths(Lsh.spreadBands(bands)) === Seq(Some(4)))
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try {
      val want = Seq(Some(math.min(200, 2 * slots)))
      assert(widths(Lsh.spreadBands(bands)) === want)
      assert(widths(Lsh.spreadBands(bands, saltById = false)) === want)
      assert(widths(Lsh.spreadBy(bands, col("id"))) === want)
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("minhashIndex bands have no explode and no aggregate") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta"),
      (3L, "gamma beta alpha"), (4L, null)).toDF("doc_id", "text")
    val index = TextOps.minhashIndex(docs, "doc_id", "text", 8, 4)
    try {
      val plan = index.repBands.queryExecution.analyzed
      assert(plan.collect { case g: Generate => g }.isEmpty, plan)
      assert(plan.collect { case a: Aggregate => a }.isEmpty, plan)
      // reps 1 and 2 get one row per band; null text gets none
      assert(index.repBands.select("id").as[Long].collect().sorted.toSeq ===
        Seq.fill(4)(1L) ++ Seq.fill(4)(2L))
    } finally graft.engine.Caches.drain(spark)
  }
}
