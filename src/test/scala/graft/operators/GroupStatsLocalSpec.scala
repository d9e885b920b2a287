package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

/** Pins `ZonalStats.groupStatsLocalFrame` (the driver-side rollup
  * every zonal path finishes with) against a Spark algebraic rollup
  * (the engine's former `groupStats`, kept here as the reference, +
  * the finishStats column ordering) — values (bitwise doubles), schema
  * (names, types, nullability), and row order, on randomized
  * FRACTIONAL inputs so float fold-order differences cannot hide
  * behind integer-exact sums.
  */
class GroupStatsLocalSpec extends SparkSpec {

  /** Spark FID→group rollup + finalize (`runner.py:848-917`):
    * sums/counts add unconditionally; min/max merge only from fids
    * with valid_count > 0; population stdev from sum/sumsq with
    * variance clamped at 0; every group present in the zone table
    * appears (zero-filled) even with no pixels. */
  private def groupStats(fidStatsDf: DataFrame,
      zonesDf: DataFrame): DataFrame = {
    val joined = fidStatsDf.join(broadcast(zonesDf), Seq("fid"))
    val validFid = col("cnt") - col("nodata")
    val g = joined.groupBy("group").agg(
      sum(col("cnt")).as("count"),
      sum(col("nodata")).as("nodata_count"),
      sum(col("sum")).as("sum"),
      sum(col("sumsq")).as("sumsq"),
      min(when(validFid > 0, col("mn"))).as("min"),
      max(when(validFid > 0, col("mx"))).as("max"))
    val spark = fidStatsDf.sparkSession
    val groupRows = zonesDf.select("group").collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0)).distinct
    val groupsDf = spark.createDataFrame(
      java.util.Arrays.asList(groupRows.map(g =>
        org.apache.spark.sql.Row(g: Any)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("group",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val gRen = g.withColumnRenamed("group", "g_group")
    val filled = groupsDf.join(gRen, col("group") <=> col("g_group"),
        "left_outer")
      .drop("g_group")
      .withColumn("count", coalesce(col("count"), lit(0L)))
      .withColumn("nodata_count", coalesce(col("nodata_count"), lit(0L)))
      .withColumn("sum", coalesce(col("sum"), lit(0.0)))
      .withColumn("sumsq", coalesce(col("sumsq"), lit(0.0)))
    val valid = col("count") - col("nodata_count")
    val mean = col("sum") / valid
    val variance = greatest(col("sumsq") / valid - mean * mean, lit(0.0))
    filled.withColumn("valid_count", valid)
      .withColumn("stdev", when(valid > 0, sqrt(variance)))
      .withColumn("min", when(valid > 0, col("min")))
      .withColumn("max", when(valid > 0, col("max")))
      .drop("sumsq")
  }

  private def sparkRollup(rows: Seq[ZonalStats.FidStatRow],
      zones: Seq[(Long, Option[String])])
      : (org.apache.spark.sql.types.StructType, Array[Row]) = {
    import spark.implicits._
    val df = ZonalStats.fidStatsFrame(spark, rows)
    val zonesDf = zones.toDF("fid", "group")
    val g = groupStats(df, zonesDf)
    val ordered = g.select("group", ZonalEngine.statFields(Nil): _*)
    (ordered.schema, ordered.collect())
  }

  private def sortKey(r: Row): String =
    if (r.isNullAt(0)) "￿<null>" else r.getString(0)

  private def assertSame(tag: String,
      sparkOut: (org.apache.spark.sql.types.StructType, Array[Row]),
      local: org.apache.spark.sql.DataFrame): Unit = {
    assert(local.schema == sparkOut._1, s"$tag schema")
    val lr = local.collect()
    assert(lr.length == sparkOut._2.length, s"$tag row count")
    // row order: both paths emit zone-table first-seen group order
    lr.zip(sparkOut._2).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a.length == b.length, s"$tag arity row $i")
      (0 until a.length).foreach { c =>
        val (x, y) = (a.get(c), b.get(c))
        (x, y) match {
          case (xd: java.lang.Double, yd: java.lang.Double) =>
            assert(java.lang.Double.doubleToLongBits(xd) ==
              java.lang.Double.doubleToLongBits(yd),
              s"$tag row $i col $c: $xd != $yd (bitwise)")
          case _ =>
            assert(x == y, s"$tag row $i col $c: $x != $y")
        }
      }
    }
  }

  test("randomized fractional inputs: local ≡ Spark rollup") {
    val rnd = new scala.util.Random(20260822L)
    for (iter <- 0 until 20) {
      val nZones = 1 + rnd.nextInt(12)
      val groups: Seq[Option[String]] = (0 until nZones).map { i =>
        if (rnd.nextInt(8) == 0) None
        else Some(s"g${rnd.nextInt(1 + nZones / 2)}")
      }
      val zones = (0 until nZones).map(i => (i.toLong + 1, groups(i)))
      // stats rows for a SUBSET of fids (zero-fill exercises the rest)
      val rows = zones.filter(_ => rnd.nextBoolean()).map { case (fid, _) =>
        val cnt = 1L + rnd.nextInt(1000)
        val nd = rnd.nextInt(cnt.toInt + 1).toLong
        val valid = cnt - nd
        if (valid == 0)
          // all-nodata sentinel shape (fidStats min/max of no rows)
          ZonalStats.FidStatRow(fid, cnt, nd, Double.PositiveInfinity,
            Double.NegativeInfinity, 0.0, 0.0)
        else {
          val mn = rnd.nextDouble() * 100 - 50
          val mx = mn + rnd.nextDouble() * 100
          ZonalStats.FidStatRow(fid, cnt, nd, mn, mx,
            rnd.nextDouble() * 1e6 - 5e5, rnd.nextDouble() * 1e7)
        }
      }
      val local = ZonalStats.groupStatsLocalFrame(spark, rows, zones)
      assertSame(s"iter $iter", sparkRollup(rows, zones), local)
    }
  }

  test("edge: empty stats, single null group, shared groups") {
    val zones = Seq((1L, Option("a")), (2L, None), (3L, Option("a")))
    val local0 = ZonalStats.groupStatsLocalFrame(spark, Nil, zones)
    assertSame("empty", sparkRollup(Nil, zones), local0)

    val rows = Seq(
      ZonalStats.FidStatRow(1L, 10, 2, -1.25, 7.5, 12.375, 99.0625),
      ZonalStats.FidStatRow(3L, 4, 4, Double.PositiveInfinity,
        Double.NegativeInfinity, 0.0, 0.0),
      ZonalStats.FidStatRow(2L, 6, 0, 0.5, 0.5, 3.0, 1.5))
    val local = ZonalStats.groupStatsLocalFrame(spark, rows, zones)
    assertSame("edge", sparkRollup(rows, zones), local)
  }
}
