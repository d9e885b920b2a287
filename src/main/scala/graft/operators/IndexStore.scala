package graft.operators

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}

/** The one on-disk layout of every persisted dedup index (MinHash,
  * dHash, SRP, IVF): each named frame as parquet under `<dir>/<name>/`,
  * optional named sidecar files, and `params.json` — the index's
  * integer parameters and every frame's schema — published atomically
  * and LAST, so a directory holding params is complete.
  *
  * The parameters travel with the data because an index is only
  * meaningful under them: a batch banded, bucketed or assigned under
  * different ones shares no keys with the index and silently loses
  * every pair against it. A load reads each frame under its recorded
  * schema, so it lists files but runs no Spark job (a schema-inferring
  * parquet read runs one per frame). A directory saved before schemas
  * were recorded (params without `schemas`; an IVF directory without
  * params) loads by inference.
  *
  * Plain parquet; a catalog deployment should `bucketBy` the per-batch
  * join keys (band key, id) via saveAsTable so the incremental joins
  * are shuffle-free on the corpus side. */
object IndexStore {

  /** An index that saves itself through [[IndexStore.save]]. */
  trait Persisted {
    def save(dir: String): Unit
  }

  private val mapper = new ObjectMapper()

  def save(dir: String, frames: Seq[(String, DataFrame)],
      params: Seq[(String, Int)],
      files: Seq[(String, String)] = Nil): Unit = {
    frames.foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$n")
    }
    files.foreach { case (n, s) =>
      graft.engine.AtomicFile.write(Paths.get(dir, n), s)
    }
    val o = mapper.createObjectNode()
    params.foreach { case (k, v) => o.put(k, v) }
    val schemas = o.putObject("schemas")
    frames.foreach { case (n, df) =>
      schemas.set[JsonNode](n, mapper.readTree(df.schema.json))
    }
    graft.engine.AtomicFile.write(Paths.get(dir, "params.json"),
      mapper.writeValueAsString(o))
  }

  /** A loaded index directory: its frames (lazy reads) and params. */
  final case class Stored(dir: String, params: JsonNode,
      frames: Map[String, DataFrame]) {
    def int(key: String): Int = Option(params.get(key))
      .getOrElse(sys.error(s"$dir/params.json lacks $key")).asInt()
  }

  def load(spark: SparkSession, dir: String,
      names: Seq[String]): Stored = {
    val p = Paths.get(dir, "params.json")
    val params =
      if (Files.exists(p)) mapper.readTree(Files.readString(p))
      else mapper.createObjectNode()
    val frames = names.map { n =>
      val schema = Option(params.get("schemas")).flatMap(s => Option(s.get(n)))
        .map(s => DataType.fromJson(s.toString).asInstanceOf[StructType])
      n -> schema.fold(spark.read)(spark.read.schema(_)).parquet(s"$dir/$n")
    }.toMap
    Stored(dir, params, frames)
  }
}
