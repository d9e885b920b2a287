package graft.perfbench

/** Benchmark entry point, launched by perfbench/run.py. Prints a
  * detail line (`PERFBENCH_DETAIL {...}`) and then, as the last line of
  * stdout, the result object; with `--setup-only 1`, only the cold
  * set-up's wall and the time spent building fixtures
  * (`PERFBENCH_SETUP <s> <fixture s>`). */
object PerfMain {
  val Workloads: Map[String, InProcess] = Map(
    "world_scan" -> WorldScan,
    "admin_job" -> AdminJob,
    "daily_append" -> DailyAppend,
    "corpus_dedup" -> CorpusDedup)

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val w = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    if (args.setupOnly) {
      val c = new Ctx(args)
      val setupS = w.setupOnly(c)
      println(s"PERFBENCH_SETUP $setupS ${c.fixtureBuildS}")
      System.out.flush()
      sys.exit(0)
    }
    val r = w.run(new Ctx(args))
    val metrics = Json.obj(r.metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    println("PERFBENCH_DETAIL " + Json.obj(
      Seq("workload" -> Json.str(args.workload), "seed" -> args.seed.toString) ++
        r.detail))
    println(Json.obj(Seq("correct" -> r.correct.toString,
      "attempted" -> r.attempted.toString, "failed" -> r.failed.toString,
      "metrics" -> metrics)))
    System.out.flush()
    sys.exit(0)
  }
}
