package zarrbench

import java.net.URI

import graft.zarr.{ChunkColumn, ZarrMaintenance}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: `python3 zarrbench/test.py`. */
object SelfTest {
  private var failed = 0
  private var passed = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"PASS $name") }
    catch { case e: Throwable => failed += 1; println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  def main(args: Array[String]): Unit = {
    check("simulated store counts every request exactly") {
      val conf = new Configuration()
      conf.set("fs.simfs.impl", classOf[SimStoreFs].getName)
      val fs = org.apache.hadoop.fs.FileSystem.get(URI.create("simfs:///"), conf)
      val s0 = SimStore.c.snapshot
      val out = fs.create(new Path("/st/a"), true)
      out.write(Array.tabulate[Byte](10)(_.toByte)); out.close()
      val in = fs.open(new Path("/st/a")); in.readAllBytes(); in.close()
      val buf = new Array[Byte](3)
      val r = fs.open(new Path("/st/a")); r.readFully(2L, buf); r.close()
      eq(buf.toSeq, Seq[Byte](2, 3, 4), "ranged bytes")
      try { fs.open(new Path("/st/missing")); throw new AssertionError("absent object opened") }
      catch { case _: java.io.FileNotFoundException => }
      eq(fs.listStatus(new Path("/st")).map(_.getPath.getName).toSeq, Seq("a"), "listing")
      eq(fs.rename(new Path("/st/a"), new Path("/st/b")), true, "rename")
      eq(fs.exists(new Path("/st/b")), true, "renamed object")
      eq(fs.delete(new Path("/st"), true), true, "delete")
      val d = SimStore.c.snapshot - s0
      eq((d.puts, d.putBytes, d.gets, d.rangedGets, d.absentGets, d.getBytes),
        (1L, 10L, 3L, 1L, 1L, 13L), "puts, put bytes, gets, ranged, absent, get bytes")
      eq((d.lists, d.renames, d.deletes, d.heads), (1L, 1L, 1L, 1L), "lists, renames, deletes, heads")
    }

    check("same seed gives the same stores, another seed other stores") {
      val a = Gen.refStore("/seed/a", 7)
      val b = Gen.refStore("/seed/b", 7)
      val c = Gen.refStore("/seed/c", 8)
      eq(a.checksum, b.checksum, "checksum of seed 7 twice")
      eq(a.objects, 8 * 4096 + 9, "objects")
      if (a.checksum == c.checksum) throw new AssertionError("seeds 7 and 8 gave the same store")
      val cube = Gen.Cube(16, 8, 8, 8, 4, 4)
      eq(Gen.cubeStore("/seed/d", 3, cube).checksum, Gen.cubeStore("/seed/e", 3, cube).checksum, "cube")
      Seq("a", "b", "c", "d", "e").foreach(k => SimStore.deleteUnder(s"/seed/$k"))
    }

    check("theta-join row count matches a brute-force join") {
      for (n <- 1L to 60L) {
        val brute = (0L until n).filter(_ % 12 == 0).map(v => (0L until n).count(u => v < u + 1 && v >= u - 1)).sum
        eq(Expect.thetaRows(n), brute.toLong, s"theta rows for n=$n")
      }
    }

    val spark = SparkSession.builder().master("local[2]").appName("zarrbench-test")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.hadoop.fs.simfs.impl", classOf[SimStoreFs].getName)
      .config("spark.plugins", classOf[TaskTagPlugin].getName)
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val b = new Bench(spark, 5)

      check("generated values decode to the closed-form sums") {
        val c = Gen.Cube(16, 8, 8, 8, 4, 4)
        Gen.cubeStore("/sum/cube", 5, c)
        val store = b.store("/sum/cube")
        val meta = store.readMeta("temp")
        var got = 0.0
        for (t <- 0 until 2; i <- 0 until 2; j <- 0 until 2) {
          val col = ChunkColumn.decode(meta, store.readChunk("temp", s"c/$t/$i/$j"))
          for (e <- 0 until 8 * 4 * 4) got += col.get(e).asInstanceOf[Double]
        }
        eq(got, Gen.sumK(5, c, 0, 16) / 16.0, "sum of decoded chunks")
        b.view("sumcube", "/sum/cube")
        val r = spark.sql("SELECT sum(temp), count(*) FROM sumcube WHERE lat BETWEEN -63.5 AND -62.0").head()
        eq((r.getDouble(0), r.getLong(1)), (Gen.sumK(5, c, 0, 16, 1, 4) / 16.0, 16L * 4 * 8), "box sum")
        SimStore.deleteUnder("/sum")
      }

      check("ingest slabs match their closed-form sums") {
        val w = new CubeIngest(b)
        w.generate("/ingest")
        val t = w.next()
        eq(t.name, "create", "first operation")
        eq(b.run(t).ok, true, "create")
        for (_ <- 0 until 2) { val r = b.run(w.next()); eq(r.ok, true, r.t.name) }
        w.finish()
        eq(b.results.forall(_.ok), true, "maintenance and read-back")
        SimStore.deleteUnder("/ingest")
      }

      check("traced shares match the scan tasks' run time and their GET spans") {
        val w = new TinyScan(b)
        w.use(w.generate("/trace"))
        w.templates.foreach(b.run)
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        SimStore.spans.clear()
        SimStore.tracing = true
        val ops = try w.templates.map(b.run) finally SimStore.tracing = false
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        eq(ops.forall(_.ok), true, "answers")
        val m = Trace.layers(b, w, ops, Trace.planPass(b, w), Trace.replayChunks(b, w))
          .map(x => x._1 -> x._2).toMap
        // figures taken straight from the listener and the store
        val scan = b.listener.tasksOf(ops.map(_.op).toSet).filter(_.scan)
        val scanIds = scan.map(_.id).toSet
        val spans = SimStore.spans.toArray(Array.empty[SimStore.Span]).toSeq.filter(s => ops.exists(_.op == s.op))
        val temp = spans.filter(_.array == "temp")
        val scanRunS = scan.map(_.runMs).sum / 1e3
        val scanGetS = spans.filter(s => s.kind == "get" && scanIds(s.task)).map(s => (s.endNs - s.startNs) / 1e9).sum
        def near(got: Double, want: Double, what: String): Unit =
          if (math.abs(got - want) > 1e-9 * math.max(1.0, math.abs(want)))
            throw new AssertionError(s"$what: got $got, want $want")
        val partitions = ops.map(o => spark.sql(o.t.sql).queryExecution.sparkPlan.collect {
          case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s.inputPartitions.size
        }.sum)
        eq(ops.map(o => scan.count(_.op == o.op)), partitions, "scan tasks against planned input partitions")
        eq(temp.nonEmpty && temp.forall(s => scanIds(s.task)), true, "every data GET tied to a scan task")
        near(m("reader.task_run_s") * ops.size, scanRunS, "scan-task run time")
        near(m("reader.get_share") * scanRunS, scanGetS, "GET time on scan tasks")
        val layers = Seq("stats" -> "stats.parse_s", "codec" -> "codec.decode_s", "reader" -> "reader.self_s")
        for ((l, self) <- layers) near(m(s"$l.scan_share") * m("reader.task_run_s"), m(self), s"$l share")
        near(m("chunk.scan_share") * m("reader.task_run_s"), m("chunk.decode_s") + m("chunk.assemble_s"), "chunk share")
        near(m("reader.get_share") + m("stats.scan_share") + m("codec.scan_share") + m("chunk.scan_share") +
          m("reader.scan_share") + m("trace.unexplained_share"), 1.0, "shares and remainder")
        SimStore.deleteUnder("/trace")
      }

      check("stats pruning reads exactly the chunks of the selected slab") {
        val c = Gen.Cube(16, 8, 8, 8, 4, 4)
        val s = Gen.cubeStore("/prune/cube", 9, c)
        ZarrMaintenance.analyze(spark, b.url(s.root))
        b.view("prune", s.root)
        SimStore.spans.clear()
        SimStore.tracing = true
        val r = try spark.sql(s"SELECT sum(temp), count(*) FROM prune WHERE time >= ${Gen.T0 + 8}").head()
          finally SimStore.tracing = false
        val temp = SimStore.spans.toArray(Array.empty[SimStore.Span]).filter(_.array == "temp")
        eq(r.getLong(1), 8L * 8 * 8, "rows")
        eq(r.getDouble(0), Gen.sumK(9, c, 8, 16) / 16.0, "sum")
        eq(temp.length, 4, "temp chunk GETs")
        val want = (for (i <- 0 until 2; j <- 0 until 2)
          yield SimStore.objects.get(s"/prune/cube/temp/c/1/$i/$j").bytes.length.toLong).sum
        eq(temp.map(_.bytes).sum, want, "temp chunk bytes")
        SimStore.deleteUnder("/prune")
      }
    } finally spark.stop()

    println(s"$passed passed, $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}

/** A read workload on a 16×8×8 cube: sums, a time slab and every column
  * into the `noop` sink. */
final class TinyScan(b: Bench) extends ReadWorkload(b) with CubeChecks {
  def name = "tiny_scan"
  val c = Gen.Cube(16, 8, 8, 8, 4, 4)
  def generate(dir: String) = Seq(Gen.cubeStore(s"$dir/cube", seed, c))
  def use(s: Seq[Gen.Store]): Unit = { stores = s; b.view("tiny", s.head.root) }
  def dataArrays = Set("temp")
  def rowsPerDataByte = c.cells.toDouble / stores.head.storedBytes
  def chunksPerRow = 1.0 / (c.ct * c.cy * c.cx)
  val templates = Seq(
    sumTemplate("full_sum", "tiny", c, "", 0, c.nt),
    b.noopTemplate("materialize", c.cells, "SELECT time, lat, lon, temp FROM tiny", c.cells),
    sumTemplate("time_slab", "tiny", c, s"WHERE time >= ${Gen.T0 + 8}", 8, 16),
    sumTemplate("box_sum", "tiny", c, boxWhere(0, 3, 4, 7), 0, c.nt, 0, 3, 4, 7))
}
