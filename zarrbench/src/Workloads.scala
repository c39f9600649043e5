package zarrbench

import graft.zarr.ZarrMaintenance

/** A seeded workload: inputs, operation templates and the closed-form
  * answer each one is checked against. */
abstract class Workload(val b: Bench) {
  def name: String
  val seed: Long = b.seed
  /** GET first-byte latency (ms) and per-stream bandwidth (MiB/s) of the
    * simulated store while operations are timed; 0 = none. */
  def latencyMs: Int = 0
  def bandwidthMiBps: Int = 0
  /** Puts the inputs under the store key `dir`. */
  def generate(dir: String): Seq[Gen.Store]
  /** Makes the generated stores the ones the templates read, after any
    * preparation the program does on them. */
  def use(stores: Seq[Gen.Store]): Unit
  def templates: Seq[Template]
  private var i = 0
  def next(): Template = { val t = templates(i % templates.size); i += 1; t }
  /** Whether the next operation starts a cycle: a round of every
    * template. The loop stops only here, so templates run equally often. */
  def atBoundary: Boolean = i % templates.size == 0
  /** Warm-up cycles: enough that the JIT has compiled the hot paths, so
    * the timed loop measures the steady state rather than the warm-up
    * curve (templates still sped up by 30-45% over the first ten cycles
    * after a single warm-up cycle). Counted, not timed, so every run
    * starts the timed loop at the same point of that curve. */
  def warmCycles: Int = 1
  def warmup(): Unit = for (_ <- 0 until warmCycles) templates.foreach(b.run)
  /** Operations that close the run (after the timed loop). */
  def finish(): Unit = ()
  /** Stored bytes over raw cell bytes. */
  def storedRatio: Double
  /** Table rows per data-chunk byte read, to turn GET bytes into rows decoded. */
  def rowsPerDataByte: Double
  def dataArrays: Set[String]
  /** Data-chunk objects (inner chunks when sharded) per table row. */
  def chunksPerRow: Double
  /** Stores whose chunks the traced run replays. */
  def replayStores: Seq[String]
}

object Workload {
  val names = Seq("ref_s3bench", "objstore_pruned", "cube_ingest")
  def apply(name: String, b: Bench): Workload = name match {
    case "ref_s3bench" => new RefS3Bench(b)
    case "objstore_pruned" => new ObjstorePruned(b)
    case "cube_ingest" => new CubeIngest(b)
  }
}

/** Closed-form answers. */
object Expect {
  /** Rows of the reference theta join over a column holding each of
    * 0 until n once: every multiple of 12 matches itself and its
    * successor, when the successor exists. */
  def thetaRows(n: Long): Long = {
    val m = (n - 1) / 12 + 1
    2 * m - (if ((m - 1) * 12 + 1 >= n) 1 else 0)
  }
}

abstract class ReadWorkload(b: Bench) extends Workload(b) {
  protected var stores: Seq[Gen.Store] = Nil
  def storedRatio: Double =
    stores.map(s => SimStore.bytesUnder(s.root)).sum.toDouble / stores.map(_.rawBytes).sum
  def replayStores: Seq[String] = stores.map(_.root)
}

/** The reference's criterion bench (`s3_bench.rs`). */
final class RefS3Bench(b: Bench) extends ReadWorkload(b) {
  def name = "ref_s3bench"
  override def warmCycles = 7
  private val n = Gen.RefCells
  def generate(dir: String) = Seq(Gen.refStore(s"$dir/ref", seed))
  def use(s: Seq[Gen.Store]): Unit = { stores = s; b.view("ref", s.head.root) }
  def dataArrays = (1 to 8).map(k => s"var$k").toSet
  def rowsPerDataByte = n.toDouble / stores.head.storedBytes
  def chunksPerRow = 8.0 / (Gen.RefChunk * Gen.RefChunk)
  val templates = Seq(
    b.noopTemplate("theta_join", 2 * n,
      """SELECT t1.*, t2.* FROM ref t1 JOIN ref t2
        |ON t1.var1 % 12 = 0 AND t1.var1 < t2.var1 + 1 AND t1.var1 >= t2.var1 - 1""".stripMargin,
      Expect.thetaRows(n)),
    b.noopTemplate("union_all", 2 * n, "SELECT * FROM ref UNION ALL SELECT * FROM ref", 2 * n))
}

/** Sums, counts and a box average over a cube whose answer is closed-form. */
trait CubeChecks {
  def b: Bench
  def seed: Long
  /** `sum(temp), count(*)` of `view` under `where`, checked against the
    * cells of times [t0, t1) in the index box. */
  def sumTemplate(name: String, view: String, c: Gen.Cube, where: String, t0: Long, t1: Long,
      i0: Int = 0, i1: Int = -1, j0: Int = 0, j1: Int = -1): Template = {
    val q = s"SELECT sum(temp), count(*) FROM $view $where"
    val ie = if (i1 < 0) c.ny - 1 else i1
    val je = if (j1 < 0) c.nx - 1 else j1
    Template(name, c.cells, sql = q)(() => {
      val r = b.rows(q).head
      r.getLong(1) == (t1 - t0) * (ie - i0 + 1) * (je - j0 + 1) &&
        Bench.close(r.getDouble(0), Gen.sumK(seed, c, t0, t1, i0, i1, j0, j1) / 16.0)
    })
  }
  def boxWhere(i0: Int, i1: Int, j0: Int, j1: Int): String =
    s"WHERE lat BETWEEN ${Gen.lat(i0)} AND ${Gen.lat(i1)} AND lon BETWEEN ${Gen.lon(j0)} AND ${Gen.lon(j1)}"
  /** A box of `h`×`w` cells at a seeded position aligned to `h`×`w`. */
  def seededBox(c: Gen.Cube, h: Int, w: Int, salt: Long): (Int, Int, Int, Int) = {
    val i0 = (Math.floorMod(Gen.mix(seed + salt), (c.ny / h).toLong) * h).toInt
    val j0 = (Math.floorMod(Gen.mix(seed + salt + 1), (c.nx / w).toLong) * w).toInt
    (i0, i0 + h - 1, j0, j0 + w - 1)
  }
}

/** An object store with first-byte latency and a bandwidth cap: pruning,
  * ranged shard reads and IO concurrency do the work. */
final class ObjstorePruned(b: Bench) extends ReadWorkload(b) with CubeChecks {
  def name = "objstore_pruned"
  override def warmCycles = 4
  override def latencyMs = 10
  override def bandwidthMiBps = 64
  val c = Gen.Cube(64, 256, 256, 8, 64, 64)
  val cs = c.copy(shard = Some((8, 128, 128)))
  def generate(dir: String) = Seq(Gen.cubeStore(s"$dir/plain", seed, c),
    Gen.cubeStore(s"$dir/analyzed", seed, c), Gen.cubeStore(s"$dir/sharded", seed, cs))
  def use(s: Seq[Gen.Store]): Unit = {
    ZarrMaintenance.analyze(b.spark, b.url(s(1).root))
    ZarrMaintenance.analyze(b.spark, b.url(s(2).root))
    stores = s
    b.view("plain", s(0).root); b.view("analyzed", s(1).root); b.view("sharded", s(2).root)
    val days = (0 until 3).map(k => Gen.T0 + dayAt(k))
    b.spark.createDataFrame(b.spark.sparkContext.parallelize(days.map(Tuple1(_)), 1))
      .toDF("time").createOrReplaceTempView("days")
  }
  def dataArrays = Set("temp")
  def rowsPerDataByte = 3.0 * c.cells / stores.map(_.storedBytes).sum
  private def dayAt(k: Int): Long = Math.floorMod(Gen.mix(seed * 7 + k), c.nt.toLong / 3) * 3 + k
  private val slab = Math.floorMod(Gen.mix(seed + 5), (c.nt / 8).toLong) * 8
  private val (bi0, bi1, bj0, bj1) = seededBox(c, 64, 64, 13)
  private def slabWhere = s"WHERE time BETWEEN ${Gen.T0 + slab} AND ${Gen.T0 + slab + 7}"
  def chunksPerRow = 1.0 / (c.ct * c.cy * c.cx)
  private val dppSql = "SELECT sum(a.temp), count(*) FROM analyzed a JOIN days d ON a.time = d.time"
  val templates = Seq(
    sumTemplate("slab_sidecar", "analyzed", c, slabWhere, slab, slab + 8),
    sumTemplate("slab_plain", "plain", c, slabWhere, slab, slab + 8),
    sumTemplate("box_ranged", "sharded", c, boxWhere(bi0, bi1, bj0, bj1), 0, c.nt, bi0, bi1, bj0, bj1),
    sumTemplate("full_shard", "sharded", c, "", 0, c.nt),
    Template("dpp_join", c.cells + 3, sql = dppSql)(() => {
      val r = b.rows(dppSql).head
      val want = (0 until 3).map(k => Gen.sumK(seed, c, dayAt(k), dayAt(k) + 1)).sum
      r.getLong(1) == 3L * c.ny * c.nx && Bench.close(r.getDouble(0), want / 16.0)
    }))
}

/** Daily ingest: create a cube, append time slabs, read each one back,
  * then compact the stats sidecar and vacuum. */
final class CubeIngest(b: Bench) extends Workload(b) with CubeChecks {
  def name = "cube_ingest"
  val ny = 128
  val nx = 128
  val slabCells = 8L * ny * nx
  /** Slabs per store: the create and three appends. */
  val slabsPerStore = 4
  private val off = Math.floorMod(Gen.mix(seed), 1024L)
  private var dir: String = _
  private var life = 0
  private var store: String = _
  private var slabs = 0
  private var closed = true
  private var pending = Iterator.empty[Template]
  private val ratios = scala.collection.mutable.ArrayBuffer.empty[Double]

  def generate(d: String) = { dir = d; Nil }
  def use(s: Seq[Gen.Store]): Unit = ()
  def dataArrays = Set("temp")
  def chunksPerRow = 1.0 / (8 * 64 * 64)
  def rowsPerDataByte = slabCells.toDouble * slabs / SimStore.bytesUnder(s"$store/temp")
  def replayStores = Seq(store)

  private def k(t: String, i: String, j: String) =
    s"2048 + ($t % 24) * 8 + $i DIV 4 + $j DIV 8 + (($t * 131 + $i * 31 + $j * 17 + $off) & 63)"
  def ingestK(t: Long, i: Int, j: Int): Long =
    2048 + (t % 24) * 8 + i / 4 + j / 8 + ((t * 131 + i * 31 + j * 17 + off) & 63)

  private def slabDf(s: Int) = {
    val t = s"(${8 * s} + id DIV ${ny * nx})"
    val i = s"((id DIV $nx) % $ny)"
    val j = s"(id % $nx)"
    b.spark.range(slabCells).selectExpr(
      s"CAST(${Gen.T0} + $t AS BIGINT) AS time",
      s"-64.0D + $i * 0.5D AS lat",
      s"-128.0D + $j * 0.5D AS lon",
      s"CAST(${k(t, i, j)} AS DOUBLE) / 16.0D AS temp")
  }

  private def sumSlabs(s0: Int, s1: Int, i0: Int, i1: Int, j0: Int, j1: Int): Long = {
    var acc = 0L
    for (t <- 8L * s0 until 8L * s1; i <- i0 to i1; j <- j0 to j1) acc += ingestK(t, i, j)
    acc
  }

  private def readView(): Unit = b.view("ingest", store)
  private val (bi0, bi1, bj0, bj1) = seededBox(Gen.Cube(8, ny, nx, 8, 64, 64), 64, 64, 17)

  private def reads(s: Int): Seq[Template] = {
    val cells = slabCells * (s + 1)
    val lastSql = s"SELECT count(*), sum(temp) FROM ingest WHERE time >= ${Gen.T0 + 8 * s}"
    val boxSql = s"SELECT avg(temp), count(*) FROM ingest ${boxWhere(bi0, bi1, bj0, bj1)}"
    Seq(
      Template("last_slab", cells, sql = lastSql)(() => {
        readView()
        val r = b.rows(lastSql).head
        r.getLong(0) == slabCells &&
          Bench.close(r.getDouble(1), sumSlabs(s, s + 1, 0, ny - 1, 0, nx - 1) / 16.0)
      }),
      Template("box_avg", cells, sql = boxSql)(() => {
        readView()
        val r = b.rows(boxSql).head
        val n = 8L * (s + 1) * (bi1 - bi0 + 1) * (bj1 - bj0 + 1)
        r.getLong(1) == n &&
          Bench.close(r.getDouble(0), sumSlabs(0, s + 1, bi0, bi1, bj0, bj1) / 16.0 / n)
      }))
  }

  private def write(s: Int): Template =
    if (s == 0) Template("create", slabCells, "write", inMedian = false)(() => {
      slabDf(0).write.format("zarr").mode("append").option("dims", "time,lat,lon")
        .option("chunk_shape", "8,64,64").save(b.url(store))
      true
    })
    else Template("append", slabCells, "write")(() => {
      slabDf(s).write.format("zarr").mode("append").option("append_dim", "time").save(b.url(store))
      true
    })

  private val maint = Template("maint", 0, "maint", inMedian = false)(() => {
    val (before, after) = ZarrMaintenance.compactStats(b.spark, b.url(store))
    ZarrMaintenance.vacuum(b.spark, b.url(store)).collect()
    after >= 1 && after <= before
  })

  private def verify(s: Int) = Template("verify", slabCells * (s + 1), inMedian = false)(() => {
    readView()
    val r = b.rows("SELECT count(*), sum(temp) FROM ingest").head
    r.getLong(0) == slabCells * (s + 1) &&
      Bench.close(r.getDouble(1), sumSlabs(0, s + 1, 0, ny - 1, 0, nx - 1) / 16.0)
  })

  private def newLife(appends: Int): Iterator[Template] = {
    if (store != null) SimStore.deleteUnder(store)
    store = s"$dir/life$life"; life += 1
    slabs = 0
    closed = false
    (0 to appends).iterator.flatMap(s => Iterator(write(s)) ++ reads(s)).map { t =>
      if (t.kind == "write") slabs += 1
      t
    }
  }

  private var warming = false

  /** Closes the current store: maintenance, a full read-back, and, for a
    * timed life with every slab, the stored-size ratio. */
  private def close(): Unit = if (!closed) {
    b.run(maint)
    b.run(verify(slabs - 1))
    if (!warming && slabs == slabsPerStore)
      ratios += SimStore.bytesUnder(store).toDouble / (slabCells * slabs * 8)
    closed = true
  }

  /** Two whole lives: appends still sped up by about 15% from the second
    * life to the fourth. */
  override def warmup(): Unit = {
    warming = true
    for (_ <- 0 until 2) {
      newLife(slabsPerStore - 1).foreach(b.run)
      close()
    }
    warming = false
  }

  override def atBoundary: Boolean = !pending.hasNext
  override def next(): Template = {
    if (!pending.hasNext) { close(); pending = newLife(slabsPerStore - 1) }
    pending.next()
  }
  override def finish(): Unit = close()
  def templates = write(1) +: reads(1)
  def storedRatio: Double = Bench.median(ratios.toSeq)
}
