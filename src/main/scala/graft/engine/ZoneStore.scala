package graft.engine

import graft.geom.Zone
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** Zone ("aggregate vector") storage: a parquet file with
  * `(fid: long, <attribute fields...>, geom_wkb: binary)` — the
  * projection the reference reads from its GPKG layer
  * (`/root/reference/runner.py:391-401`). Zone tables are
  * dimension-sized: they are collected to the driver, simplified and
  * broadcast as a [[graft.geom.ZoneIndex]].
  */
object ZoneStore {

  /** Attribute field names (parquet footer scan, no Spark session) —
    * used by config validation (agg_field presence). */
  def fields(path: String): Seq[String] =
    footer(path).getSchema.getFields.asScala.map(_.getName).toSeq

  /** The Spark schema of the layer, read from its footer the way a
    * schema-inferring read derives it (the Spark-written row schema
    * when present) — but on the driver, without a Spark job. */
  private def sparkSchema(path: String): StructType = {
    val m = footer(path)
    Option(m.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(SQLConf.get)
        .convert(m.getSchema))
  }

  private def footer(path: String): FileMetaData = {
    // Spark writes parquet "files" as directories of part files —
    // read the footer of the first part in that case
    val p = java.nio.file.Paths.get(path)
    val file =
      if (java.nio.file.Files.isDirectory(p)) {
        val parts = java.nio.file.Files.list(p).iterator()
        var found: String = null
        while (parts.hasNext && found == null) {
          val f = parts.next().toString
          if (f.endsWith(".parquet")) found = f
        }
        require(found != null, s"no parquet part files in $path")
        found
      } else path
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), new Configuration())
    val reader = ParquetFileReader.open(in)
    try reader.getFooter.getFileMetaData finally reader.close()
  }

  def write(spark: SparkSession, zones: Seq[Zone], groupField: String,
      path: String, srs: Option[String] = None): Unit = {
    import spark.implicits._
    zones.map(z => (z.fid, Option(z.group), Zone.toWkb(z.geom)))
      .toDF("fid", groupField, "geom_wkb")
      .coalesce(1).write.mode("overwrite").parquet(path)
    // layer SRS sidecar ("_"-prefixed → invisible to parquet readers);
    // serialized with Jackson so SRS tags containing quotes/backslashes
    // stay valid JSON
    srs.foreach { s =>
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val o = m.createObjectNode()
      o.put("srs", s)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(path, "_srs.json"), m.writeValueAsString(o))
    }
  }

  /** The layer's SRS tag, if recorded (reference: layer spatial ref,
    * `runner.py:331`). */
  def srs(path: String): Option[String] = {
    val p = java.nio.file.Paths.get(path, "_srs.json")
    if (!java.nio.file.Files.exists(p)) None
    else {
      val j = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(p))
      Option(j.get("srs")).map(_.asText())
    }
  }

  /** Load zones with `groupField` as the grouping value. */
  def load(spark: SparkSession, path: String,
      groupField: String): Seq[Zone] = {
    spark.read.schema(sparkSchema(path)).parquet(path)
      .select("fid", groupField, "geom_wkb")
      .collect()
      .map { r =>
        val g = if (r.isNullAt(1)) null else String.valueOf(r.get(1))
        Zone(r.getLong(0), g, Zone.fromWkb(r.getAs[Array[Byte]](2)))
      }.toSeq
  }

  def asDf(spark: SparkSession, zones: Seq[Zone]): DataFrame = {
    import spark.implicits._
    zones.map(z => (z.fid, Option(z.group))).toDF("fid", "group")
  }
}
