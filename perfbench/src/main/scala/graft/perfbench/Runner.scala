package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What a workload reports: the result line's fields plus a detail
  * record printed on the line before it. */
final case class Result(correct: Boolean, attempted: Int, failed: Int,
    metrics: Seq[(String, Double, String)], detail: Seq[(String, String)])

/** Shared state of one run. */
final class Ctx(val args: Args) {
  val run: Path = args.work.resolve("run").resolve(args.workload)
  val tracer = new Tracer
  val meter = new Meter
  var spark: SparkSession = _
  val timer = new OpTimer(() => spark, meter)
  val detail = ArrayBuffer.empty[(String, String)]
  var fixtureBuildS = 0.0
  var setupS = 0.0

  def session(): SparkSession = {
    spark = Session.mainStyle(s"perfbench-${args.workload}")
    spark
  }

  /** Builds (or finds) a cached fixture in a session of its own. */
  def fixture(name: String, params: String)(build: (SparkSession, Path) => Unit): Path = {
    var s: SparkSession = null
    val (dir, secs) = Fixtures.ensure(args.work, name,
      Fixtures.key(args.srcHash, name, params)) { d =>
      s = Session.mainStyle(s"perfbench-fixture-$name")
      build(s, d)
    }
    if (s != null) Session.stop(s)
    fixtureBuildS += secs
    dir
  }
}

/** A workload whose operations run in the benchmark's own JVM, one at
  * a time (closed loop, one operation in flight). */
abstract class InProcess {
  type State
  /** Prepares fixtures (cached across runs). */
  def fixtures(c: Ctx): Unit
  /** The repeated set-up after the session exists: restore state,
    * generate inputs, compute expected outputs. */
  def setup(c: Ctx): State
  /** One operation; false when its output is wrong. */
  def op(c: Ctx, s: State, k: Int): Boolean
  /** End-of-run check over all ops; ops it rejects count as failed. */
  def verify(c: Ctx, s: State): Boolean = true
  /** Per-layer probes taken after the ops of a traced run. */
  def probes(c: Ctx, s: State, ops: Seq[OpRec]): Seq[(String, Double)]
  /** Most ops a run can make (daily_append runs out of tile rows). */
  def maxOps: Int = Int.MaxValue
  def extraDetail(c: Ctx, s: State, walls: Seq[Double]): Seq[(String, String)] = Nil

  /** Ops run (and checked) before the measured window: the JIT and
    * Spark's code generation warm up over the first few ops, and a
    * long-lived session's user does not pay that per op. */
  def WarmupOps: Int

  /** Fewest measured ops a run makes, however long they take. */
  def MinOps: Int = 1

  /** Cold set-up: JVM start to the first op (session, fixture check or
    * restore, input generation, expected outputs), without the time
    * spent building fixtures, which is reported on its own. */
  private def coldSetup(c: Ctx): State = {
    Files2.deleteTree(c.run)
    Files.createDirectories(c.run)
    fixtures(c)
    c.session()
    val state = setup(c)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    c.setupS = (System.currentTimeMillis() - jvmStart) / 1e3 - c.fixtureBuildS
    state
  }

  /** Only the cold set-up; run.py starts one of these before each run. */
  def setupOnly(c: Ctx): Double = {
    coldSetup(c)
    Session.stop(c.spark)
    c.setupS
  }

  def run(c: Ctx): Result = {
    val state = coldSetup(c)
    // this JVM's set-up and those of the set-up-only JVMs run.py started
    val setupWalls = c.setupS +: c.args.coldSetups
    c.spark.sparkContext.addSparkListener(c.meter)
    val recs = ArrayBuffer.empty[(OpRec, Boolean)] // (record, traced)
    var deadline = Long.MaxValue
    var k = 0
    var pendingCaches = 0
    // a traced run makes at least one untraced, traced, traced, untraced round
    val minOps = math.max(MinOps, if (c.args.trace) 4 else 1)
    while ((System.nanoTime() < deadline || k < WarmupOps + minOps) && k < maxOps) {
      // the measured window opens once the warm-up ops are done
      if (k == WarmupOps) deadline = System.nanoTime() + c.args.seconds * 1000000000L
      // untraced, traced, traced, untraced, ...: each pair is run in
      // both orders, so a still-falling op time does not bias the overhead
      val traced = c.args.trace && k >= WarmupOps && Set(1, 2)((k - WarmupOps) % 4)
      c.tracer.on = traced
      val rec = c.timer {
        if (traced) c.tracer.rootOp(k)(op(c, state, k)) else op(c, state, k)
      }
      c.tracer.on = false
      pendingCaches = math.max(pendingCaches, graft.engine.Caches.pending(c.spark))
      graft.engine.Caches.drain(c.spark)
      recs += ((rec, traced))
      k += 1
    }
    val verified = verify(c, state)
    val all = recs.map(_._1).toSeq
    val ops = all.drop(WarmupOps)
    val failed = if (!verified) all.size
      else all.count(r => !r.ok || r.spark.tasks <= 0)
    val liveHeapMb = InProcess.liveHeapMb()
    val walls = ops.map(_.wall)
    c.detail ++= Seq(
      "setup_walls_s" -> setupWalls.map(Json.num).mkString("[", ",", "]"),
      "warmup_walls_s" -> all.take(WarmupOps).map(r => Json.num(r.wall)).mkString("[", ",", "]"),
      "op_walls_s" -> walls.map(Json.num).mkString("[", ",", "]"),
      "op_gc_s" -> ops.map(r => Json.num(r.gcS)).mkString("[", ",", "]"),
      "op_jit_ms" -> all.map(_.jitMs).mkString("[", ",", "]"),
      "op_steal_pct" -> ops.map(r => Json.num(r.stealPct)).mkString("[", ",", "]"),
      "high_steal_ops" -> ops.count(_.stealPct > 2.0).toString,
      "fixture_build_s" -> Json.num(c.fixtureBuildS + c.args.fixtureBuildS),
      "fail_share" -> Json.num(failed.toDouble / all.size),
      "host" -> Host.record(c.spark))
    c.detail ++= extraDetail(c, state, walls)
    val metrics =
      if (!c.args.trace) Seq(
        ("setup_s", Stats.median(setupWalls), "s"),
        ("op_p50_s", Stats.median(walls), "s"),
        ("live_heap_mb", liveHeapMb, "MB"))
      else {
        val traced = recs.drop(WarmupOps).filter(_._2).map(_._1.wall).toSeq
        val untraced = recs.drop(WarmupOps).filterNot(_._2).map(_._1.wall).toSeq
        val p = probes(c, state, ops)
        c.tracer.write(c.args.work.resolve(s"trace-${c.args.workload}-${c.args.seed}.jsonl"))
        Layers.common(c, ops, p :+ ("engine.caches_pending" -> pendingCaches.toDouble),
          Stats.median(traced) - Stats.median(untraced))
      }
    Session.stop(c.spark)
    Result(failed == 0, all.size, failed, metrics, c.detail.toSeq)
  }
}

object InProcess {
  /** Heap used after full GCs. Spark's ContextCleaner frees blocks
    * whose handles the first GC found dead, so GC repeats after it has
    * had time to run. */
  def liveHeapMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(150) }
    graft.BenchTelemetry.heapUsedMb().toDouble
  }
}
