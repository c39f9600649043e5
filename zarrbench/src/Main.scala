package zarrbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The zarr connector benchmark.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --cpus <n>
  * }}}
  *
  * Each workload is a closed loop with one client that cycles its
  * operation templates round-robin for `--seconds`, checking every
  * answer. The last stdout line is one JSON object: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
  * Every metric is described in `zarrbench/README.md`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, cpus: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workload.names.contains(w), s"unknown workload $w; one of ${Workload.names.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")), need("cpus").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("zarrbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.fs.simfs.impl", classOf[SimStoreFs].getName)
      .config("spark.plugins", classOf[TaskTagPlugin].getName)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val b = new Bench(spark, a.seed)
      val w = Workload(a.workload, b)

      // set-up: session start, input generation, the program's
      // preparation of the inputs, warm-up
      val g0 = System.nanoTime()
      val stores = w.generate("/gen")
      val genS = (System.nanoTime() - g0) / 1e9
      val u0 = System.nanoTime()
      w.use(stores)
      val useS = (System.nanoTime() - u0) / 1e9
      val w0 = System.nanoTime()
      w.warmup()
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + genS + useS + warmS
      val nWarm = b.results.size

      SimStore.latencyMs = w.latencyMs
      SimStore.bandwidthMiBps = w.bandwidthMiBps
      val report =
        if (!a.trace) {
          loop(b, w, a.seconds)
          w.finish()
          SimStore.latencyMs = 0
          EndToEnd.metrics(w, b.results.drop(nWarm).toSeq, setupS)
        } else Trace.run(b, w, a)

      val all = b.results.toSeq
      val info = Json.obj(
        "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
        "seconds" -> a.seconds.toString, "trace" -> a.trace.toString,
        "cpus" -> a.cpus.toString, "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
        "spark" -> Json.str(spark.version), "java" -> Json.str(System.getProperty("java.version")),
        "store_checksums" -> Json.obj(stores.map(s => s.root.split('/').last -> Json.str(s.checksum)): _*),
        "setup" -> Json.obj("session_s" -> Json.num(sessionS),
          "generate_s" -> Json.num(genS), "prepare_s" -> Json.num(useS),
          "warmup_s" -> Json.num(warmS)),
        "warmup_ops" -> nWarm.toString,
        "templates" -> Json.obj(all.drop(nWarm).groupBy(_.t.name).toSeq.sortBy(_._1).map { case (n, rs) =>
          n -> Json.obj("ops" -> rs.size.toString,
            "median_s" -> Json.num(Bench.median(rs.map(_.seconds))),
            "s" -> Json.arr(rs.map(r => f"${r.seconds}%.4f")),
            "failed" -> rs.count(!_.ok).toString)
        }: _*),
        "errors" -> Json.arr(all.flatMap(_.error).distinct.take(5).map(Json.str)))
      println(Json.obj("info" -> info))
      report.extra.foreach(println)
      val failed = all.count(!_.ok)
      println(Json.obj(
        "correct" -> (failed == 0).toString,
        "attempted" -> all.size.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(report.metrics.map { case (n, v, u) =>
          n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
        }: _*)))
    } finally spark.stop()
  }

  /** Closed loop: one operation at a time, templates round-robin, until
    * the time is up and the workload is at a cycle boundary, so every
    * cycle is whole. */
  def loop(b: Bench, w: Workload, seconds: Double): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end || !w.atBoundary) b.run(w.next())
  }
}

/** Metrics of one run, plus lines printed before the result line. */
final case class Report(metrics: Seq[(String, Double, String)], extra: Seq[String] = Nil)

/** End-to-end metrics. Each template counts once however many times it
  * ran, so a run that stops mid-cycle weighs no template more. */
object EndToEnd {
  private def templates(ops: Seq[OpResult]): Seq[Seq[OpResult]] = ops.groupBy(_.t.name).values.toSeq
  private def medianS(rs: Seq[OpResult]): Double = Bench.median(rs.map(_.seconds))

  /** Median latency per template, geometric mean across templates. */
  def queryP50(ops: Seq[OpResult]): Double = Bench.geomean(templates(ops.filter(_.t.inMedian)).map(medianS))

  def metrics(w: Workload, ops: Seq[OpResult], setupS: Double): Report = {
    val reads = templates(ops.filter(o => o.t.inMedian && o.t.kind == "read"))
    val all = templates(ops)
    def perOp(f: OpResult => Double): Double = all.map(rs => rs.map(f).sum / rs.size).sum / all.size
    Report(Seq(
      ("query_s_p50", queryP50(ops), "s"),
      ("rows_per_s", reads.map(rs => rs.map(_.t.rows).sum.toDouble / rs.size).sum / reads.map(medianS).sum,
        "rows/s"),
      ("get_requests_per_query", perOp(_.store.gets), "count"),
      ("fetched_mb_per_query", perOp(_.store.getBytes) / 1048576.0, "MiB"),
      ("store_requests_per_op", perOp(_.store.requests), "count"),
      ("stored_bytes_per_user_byte", w.storedRatio, "ratio"),
      ("alloc_mb_per_query", perOp(_.allocBytes) / 1048576.0, "MiB"),
      ("setup_s", setupS, "s")))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
