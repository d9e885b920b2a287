package graft.operators

import graft.SparkSpec
import graft.engine.{Caches, Fixtures}
import graft.geom.Zone
import graft.sources.TileTable
import graft.synth.Synth
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The head every zonal path shares ([[ZonalEngine.ZoneRun]],
  * [[ZonalEngine.BandScan]]): one zone index per run, released with
  * the run's other caches, and the manifest-prune check of the
  * unset-FID fallback on every table path. */
class ZonalRunSpec extends SparkSpec {
  private val grid = Synth.testGrid
  private val nodata = Some(-9999.0)

  private def tileRow = regexp_extract(col("image_id"),
    "tile_(\\d+)_(\\d+)", 1).cast("int")

  /** A table of the grid's north half only (v1). */
  private def northTable(): String = {
    val dir = Files.createTempDirectory("graft-zrun").toString + "/t"
    TileTable.write(spark,
      Synth.tiles(spark, grid).where(tileRow < lit(grid.tilesY / 2)),
      grid, nodata, dir, cellLevel = 8, numFiles = 2)
    dir
  }

  test("runIncremental releases its zone index with the run: no " +
      "pending cache is left behind") {
    val dir = northTable()
    TileTable.appendBatch(spark, dir,
      Synth.tiles(spark, grid).where(tileRow >= lit(grid.tilesY / 2)),
      batchId = 0L) // v2
    val zones = Fixtures.zonesBasic(grid)
    Caches.drain(spark)
    val prev = ZonalEngine.fidStatsFor(spark,
      TileTable.openAt(dir, 1).read(spark), zones, grid, nodata)
    val before = Caches.pending(spark)
    val inc = ZonalEngine.runIncremental(spark, TileTable.open(dir),
      zones, prev, fromVersion = 1)
    assert(inc.count() > 0)
    assert(Caches.pending(spark) === before)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    Caches.drain(spark)
  }

  /** `f`'s result and the number of SQL queries it executed. A scan
    * of no file is an empty relation, which Spark answers without a
    * job, so a skipped fallback pass shows as one query fewer. */
  private def countingQueries[T](f: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui
            .SparkListenerSQLExecutionStart => n.incrementAndGet()
        case _ =>
      }
    }
    org.apache.spark.ListenerBusSync.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.ListenerBusSync.drain(spark.sparkContext)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("runTable skips the fallback scan when no table file meets the " +
      "unset zones, and equals run with both fallback closures") {
    val table = TileTable.open(northTable())
    val south = Synth.rectPx(grid, 3, "south", 70, 100, 100, 120)
    val zones = Seq(Synth.rectPx(grid, 1, "north", 2, 2, 20, 12),
      Synth.rectPx(grid, 2, "north", 40, 30, 60, 44), south)
    // precondition: the zone without pixels lies beyond every file
    assert(table.prunedFiles(south.geom.getEnvelopeInternal).isEmpty)
    val scan = table.readPruned(spark, Zone.totalEnvelope(zones))
    def explicit(withCheck: Boolean) = ZonalEngine.run(spark, scan,
      zones, grid, nodata,
      fallbackTiles = Some(table.readPruned(spark, _)),
      fallbackHasTiles =
        if (withCheck) Some(table.prunedFiles(_).nonEmpty) else None)
      .collect()
    val ((viaTable, jobsTable), queriesTable) = countingQueries(
      countingJobs(ZonalEngine.runTable(spark, table, zones).collect()))
    val ((viaRun, jobsRun), queriesRun) = countingQueries(
      countingJobs(explicit(withCheck = true)))
    val (_, queriesUnchecked) = countingQueries(explicit(withCheck = false))
    assert(viaTable.toSeq === viaRun.toSeq)
    assert(jobsTable === jobsRun)
    assert(queriesTable === queriesRun)
    assert(queriesTable < queriesUnchecked,
      "runTable ran the fallback scan over no file")
  }
}
