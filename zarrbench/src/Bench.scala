package zarrbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark operation template: the rows it ranges over (logical
  * table rows before pruning; cells committed for a write), its query
  * text when it is one query, and a body that runs it once and says
  * whether the answer is right. */
final case class Template(name: String, rows: Long, kind: String = "read", inMedian: Boolean = true,
    sql: String = "")(val body: () => Boolean)

/** The result of one operation. */
final case class OpResult(t: Template, op: Long, seconds: Double, ok: Boolean,
    store: SimStore.Snap, allocBytes: Long, endMs: Long, error: Option[String])

/** Session, listener and operation runner shared by the workloads. */
final class Bench(val spark: SparkSession, val seed: Long) {
  val listener = new OpListener
  spark.sparkContext.addSparkListener(listener)
  private var nextOp = 0L
  val results = scala.collection.mutable.ArrayBuffer.empty[OpResult]

  def url(root: String): String = "simfs://" + root
  def store(root: String): graft.zarr.ZarrStore =
    graft.zarr.ZarrStore(url(root), Seq("fs.simfs.impl" -> classOf[SimStoreFs].getName))

  def view(name: String, store: String, options: (String, String)*): Unit = {
    val r = options.foldLeft(spark.read.format("zarr"))((r, o) => r.option(o._1, o._2))
    r.load(url(store)).createOrReplaceTempView(name)
  }

  def rows(q: String): Array[Row] = spark.sql(q).collect()

  @volatile private var written = -1L
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      qe.executedPlan.foreach {
        case w: V2TableWriteExec => w.commitProgress.foreach(p => written = p.numOutputRows)
        case _ =>
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Runs `q` into the `noop` sink, checked by the rows it committed. */
  def noopTemplate(name: String, rows: Long, q: String, expect: Long): Template =
    Template(name, rows, sql = q)(() => {
      written = -1L
      spark.sql(q).write.format("noop").mode("overwrite").save()
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      written == expect
    })

  /** Runs one operation: counters and Spark jobs are tied to it, its
    * answer is checked, and an exception counts as a wrong answer. */
  def run(t: Template): OpResult = {
    val op = nextOp; nextOp += 1
    SimStore.currentOp = op
    spark.sparkContext.setLocalProperty(OpListener.OpProperty, op.toString)
    val before = SimStore.c.snapshot
    val alloc0 = Bench.allocated
    val t0 = System.nanoTime()
    val (ok, err) =
      try (t.body(), None)
      catch { case e: Exception => (false, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    val sec = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val delta = SimStore.c.snapshot - before
    val alloc = Bench.allocated - alloc0
    spark.sparkContext.setLocalProperty(OpListener.OpProperty, null)
    SimStore.currentOp = -1L
    if (!ok) System.err.println(s"[zarrbench] op $op ${t.name} WRONG ${err.getOrElse("")}")
    val r = OpResult(t, op, sec, ok, delta, alloc, endMs, err)
    results += r
    r
  }
}

object Bench {
  private val threads =
    java.lang.management.ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  /** Heap bytes allocated by every thread since the JVM started. */
  def allocated: Long = threads.getTotalThreadAllocatedBytes
  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)
}
