package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see perfbench/README.md).
  * `layers` are the per-layer metrics (name, unit) BENCHMARK.json lists;
  * `coldSetups` the set-up walls of the set-up-only JVMs of this run and
  * `fixtureBuildS` the time they spent building fixtures. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, srcHash: String, launch: Path,
    layers: Seq[(String, String)], coldSetups: Seq[Double], fixtureBuildS: Double,
    setupOnly: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    def list(k: String) = m.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work")).toAbsolutePath,
      need("--src-hash"), Paths.get(need("--launch")).toAbsolutePath,
      list("--layers").map { l =>
        val i = l.lastIndexOf(':'); (l.take(i), l.drop(i + 1))
      },
      list("--cold-setups").map(_.toDouble),
      m.get("--fixture-build-s").fold(0.0)(_.toDouble), m.get("--setup-only").contains("1"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val i = math.floor(pos).toInt
    if (i + 1 >= s.size) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val k = s.size - 11
      Some((100.0 * (k + 1) / s.size, s(k)))
    }
}

/** Cumulative Spark counters, read from a listener the benchmark
  * attaches. Scan tasks are the tasks that read input bytes. */
final case class Snap(jobs: Long, stages: Long, tasks: Long,
    scanTasks: Long, scanRunMs: Long, scanCpuNs: Long, inputBytes: Long,
    shuffleWriteBytes: Long, nStageIntervals: Int) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, scanTasks - o.scanTasks, scanRunMs - o.scanRunMs,
    scanCpuNs - o.scanCpuNs, inputBytes - o.inputBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, nStageIntervals)
}

final class Meter extends SparkListener {
  private val jobs, stages, tasks, scanTasks, scanRunMs, scanCpuNs,
    inputBytes, shuffleWriteBytes = new AtomicLong()
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime)
      intervals.synchronized { intervals += ((a, b)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      val in = m.inputMetrics.bytesRead
      if (in > 0) {
        scanTasks.incrementAndGet()
        scanRunMs.addAndGet(m.executorRunTime)
        scanCpuNs.addAndGet(m.executorCpuTime)
        inputBytes.addAndGet(in)
      }
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snap(spark: SparkSession): Snap = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Snap(jobs.get, stages.get, tasks.get, scanTasks.get, scanRunMs.get,
      scanCpuNs.get, inputBytes.get, shuffleWriteBytes.get,
      intervals.synchronized(intervals.size))
  }

  /** Seconds of [t0Ms, t1Ms] in which no stage ran, counting stages
    * recorded after the `from` snapshot. */
  def driverOnlySeconds(from: Snap, t0Ms: Long, t1Ms: Long): Double = {
    val iv = intervals.synchronized(intervals.drop(from.nStageIntervals)
      .toVector).map { case (a, b) => (math.max(a, t0Ms), math.min(b, t1Ms)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = t0Ms
    iv.foreach { case (a, b) =>
      val s = math.max(a, end)
      if (b > s) { covered += b - s; end = b }
    }
    math.max(0L, (t1Ms - t0Ms) - covered) / 1e3
  }
}

/** In-memory spans around the benchmark's calls into each layer. A
  * span's layer is its name up to the first dot; the root span of an
  * op is named "op". Nothing is recorded when tracing is off. */
final class Tracer {
  var on: Boolean = false
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      t0: Long, var t1: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var op: Int = 0

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), op, name,
        System.nanoTime(), 0L)
      spans += s
      stack = s.id :: stack
      try body
      finally { s.t1 = System.nanoTime(); stack = stack.tail }
    }

  /** Root span of op `op`; returns the op body's value. */
  def rootOp[T](opId: Int)(body: => T): T = { op = opId; apply("op")(body) }

  private def ops: Seq[Span] = spans.filter(_.name == "op").toSeq

  /** Per layer: self seconds summed over all op trees, divided by the
    * number of ops. A span's self time is its duration minus that of
    * its children (children never overlap: one thread records). */
  def selfPerOp: Map[String, Double] = {
    val opIds = ops.map(_.op).toSet
    if (opIds.isEmpty) return Map.empty
    val child = spans.groupBy(_.parent)
    spans.filter(s => opIds(s.op)).groupBy(_.name.takeWhile(_ != '.'))
      .map { case (layer, ss) =>
        layer -> ss.map { s =>
          (s.t1 - s.t0) - child.getOrElse(s.id, Nil).map(c => c.t1 - c.t0).sum
        }.sum / 1e9 / opIds.size
      }
  }

  /** Seconds in spans named `name`, per traced op. */
  def perOp(name: String): Double =
    spans.filter(_.name == name).map(s => (s.t1 - s.t0) / 1e9).sum /
      math.max(1, ops.size)

  /** Mean seconds of one span named `name`. */
  def perCall(name: String): Double = {
    val d = spans.filter(_.name == name).map(s => (s.t1 - s.t0) / 1e9)
    if (d.isEmpty) 0.0 else d.sum / d.size
  }

  /** Σ layer self time ÷ op wall, over all traced ops. */
  def coverage: Double = {
    val self = selfPerOp
    val wall = ops.map(s => s.t1 - s.t0).sum / 1e9 / math.max(1, ops.size)
    if (wall <= 0) 0.0 else (wall - self.getOrElse("op", 0.0)) / wall
  }

  def write(p: Path): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","t0_ns":${s.t0},"t1_ns":${s.t1}}""").asJava)
  }
}

object Session {
  /** A session configured exactly as `graft.Main` configures its own. */
  def mainStyle(app: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(sys.props.getOrElse("spark.master",
        sys.env.getOrElse("SPARK_MASTER", "local[*]")))
      .appName(app)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    graft.engine.Caches.drain(s)
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Host, JVM and Spark settings a result was measured under; results
  * with different records are not comparable. */
object Host {
  /** The checkout's path is written as `<checkout>`, so records of two
    * checkouts on one host compare equal. */
  def record(spark: SparkSession): String = {
    val home = sys.props("user.dir")
    def rel(v: String) = Json.str(v.replace(home, "<checkout>"))
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val gcs = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getName)
    val confs = spark.sparkContext.getConf.getAll
      .filterNot { case (k, _) => Set("spark.app.id", "spark.app.startTime",
        "spark.driver.port", "spark.driver.host", "spark.app.name",
        "spark.executor.id", "spark.app.submitTime").contains(k) }
      .sortBy(_._1)
    Json.obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "jdk" -> Json.str(s"${sys.props("java.vm.name")} " +
        sys.props("java.runtime.version")),
      "gc" -> gcs.map(Json.str).mkString("[", ",", "]"),
      "jvm_flags" -> rt.getInputArguments.asScala.map(rel)
        .mkString("[", ",", "]"),
      "spark_master" -> Json.str(spark.sparkContext.master),
      "spark_confs" -> Json.obj(confs.map { case (k, v) => k -> rel(v) })
    ))
  }
}

/** One timed operation: wall, whether its output checked out, and the
  * JVM/host telemetry of its interval. */
final case class OpRec(wall: Double, ok: Boolean, gcS: Double,
    stealPct: Double, heapPeakMb: Double, spark: Snap, driverOnlyS: Double,
    jitMs: Long)

/** Times `body` with BenchTelemetry and the listener; body returns
  * whether the operation's output was correct. */
final class OpTimer(spark: () => SparkSession, meter: Meter) {
  def apply(body: => Boolean): OpRec = {
    val s0 = meter.snap(spark())
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val j0 = jit.getTotalCompilationTime
    val t0 = System.currentTimeMillis()
    var ok = false
    val rep = graft.BenchTelemetry.timed {
      ok = try body catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] op failed: $e")
          e.printStackTrace()
          false
      }
    }
    val t1 = System.currentTimeMillis()
    val s1 = meter.snap(spark())
    OpRec(rep.wall, ok, rep.gcMs / 1e3, rep.stealPct,
      rep.heapPeakMb.toDouble, s1 - s0, meter.driverOnlySeconds(s0, t0, t1),
      jit.getTotalCompilationTime - j0)
  }
}

/** Cached fixtures under `<work>/fixtures/<name>-<key>`; the key hashes
  * everything the fixture's bytes depend on, including the program's
  * source tree, so a writer change rebuilds instead of reusing an old
  * layout. A fixture counts only once its completion marker exists. */
object Fixtures {
  def key(parts: Any*): String =
    f"${graft.functions.XXHash64.hashString(parts.mkString("|"), 17L)}%016x"

  /** Returns (dir, seconds spent building; 0 when cached). */
  def ensure(work: Path, name: String, key: String)(
      build: Path => Unit): (Path, Double) = {
    val root = work.resolve("fixtures")
    val dir = root.resolve(s"$name-$key")
    if (Files.exists(dir.resolve("_COMPLETE"))) return (dir, 0.0)
    Files.createDirectories(root)
    Files.list(root).iterator().asScala
      .filter(_.getFileName.toString.startsWith(name + "-"))
      .toList.foreach(Files2.deleteTree)
    val t0 = System.nanoTime()
    Files.createDirectories(dir)
    build(dir)
    Files.writeString(dir.resolve("_COMPLETE"), key)
    (dir, (System.nanoTime() - t0) / 1e9)
  }
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      graft.engine.Checkpoints.deleteRecursively(p)

  def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    } finally w.close()
  }

  /** (regular files, bytes) under p. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally w.close()
    }
}
