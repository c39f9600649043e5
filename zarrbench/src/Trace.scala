package zarrbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.zarr.{ChunkColumn, ChunkStats, Codecs, ColumnRole, CoordCol, DataCol, Sharding, ZarrArrayMeta,
  ZarrStore}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

/** The traced run. After warm-up it runs the closed loop with cycles
  * alternately traced and untraced (at least one of each), then derives
  * per-layer metrics from the traced cycles: store spans from the
  * simulated object store, job/stage/task spans from the listener,
  * planning from direct calls, and codec/chunk/stats/meta costs from
  * replaying the same chunks through those layers' public functions.
  * Every per-layer metric is per operation unless its name says
  * otherwise. */
object Trace {
  final case class Replay(codecS: Double, decodeS: Double, assembleS: Double,
      encodeS: Double, bytesIn: Double, bytesOut: Double, statsParseS: Double, rangedS: Double,
      rangedGets: Double, metaS: Double, metaDocs: Double)

  def run(b: Bench, w: Workload, a: Main.Args): Report = {
    // cycles alternate untraced and traced, so both see the same JIT and
    // machine state
    val end = System.nanoTime() + (a.seconds * 1e9).toLong
    val traced = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    val untraced = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    SimStore.spans.clear()
    def record(into: scala.collection.mutable.ArrayBuffer[OpResult])(body: => Unit): Unit = {
      val n = b.results.size
      body
      into ++= b.results.drop(n)
    }
    while (System.nanoTime() < end || !w.atBoundary || untraced.isEmpty) {
      if (w.atBoundary) SimStore.tracing = !SimStore.tracing
      record(if (SimStore.tracing) traced else untraced)(b.run(w.next()))
    }
    SimStore.tracing = true
    record(traced)(w.finish())
    SimStore.tracing = false
    SimStore.latencyMs = 0
    SimStore.bandwidthMiBps = 0
    org.apache.spark.BenchBus.drain(b.spark.sparkContext)
    val ops = traced.toSeq
    val overhead = EndToEnd.queryP50(ops) / EndToEnd.queryP50(untraced.toSeq) - 1
    val plan = planPass(b, w)
    val replay = replayChunks(b, w)
    val m = layers(b, w, ops, plan, replay) :+ (("trace.overhead_frac", overhead, "ratio"))
    val spansFile = writeSpans(b, w, a, ops)
    Report(m, Seq(Json.obj("trace_report" -> report(m, spansFile))))
  }

  /** Planning time, input partitions and the reader's own time per query. */
  final case class Plan(s: Double, partitions: Double, readerS: Double)

  /** Plans each query template three times, then replays its scans:
    * every input partition read to the end through the scan's reader
    * factory on this thread, outside Spark (the reader without the
    * operators above it). A runtime-filtered scan is replayed over all
    * its partitions. */
  def planPass(b: Bench, w: Workload): Plan = {
    val qs = w.templates.filter(_.sql.nonEmpty)
    val per = qs.map { t =>
      val times = (0 until 3).map(_ => timeS(b.spark.sql(t.sql).queryExecution.executedPlan))
      val scans = b.spark.sql(t.sql).queryExecution.sparkPlan.collect { case s: BatchScanExec => s }
      val read = timeS(scans.foreach(s => s.inputPartitions.foreach(readAll(s.readerFactory, _))))
      (Bench.median(times), scans.map(_.inputPartitions.size).sum.toDouble, read)
    }
    Plan(mean(per.map(_._1)), mean(per.map(_._2)), mean(per.map(_._3)))
  }

  /** Reads one input partition to the end; returns its rows. */
  def readAll(f: PartitionReaderFactory, p: InputPartition): Long =
    if (f.supportColumnarReads(p)) {
      val r = f.createColumnarReader(p)
      try { var n = 0L; while (r.next()) n += r.get().numRows(); n } finally r.close()
    } else {
      val r = f.createReader(p)
      try { var n = 0L; while (r.next()) { r.get(); n += 1 }; n } finally r.close()
    }

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Replays up to 64 chunks of each data array of the workload's stores
    * through the codec, chunk and stats layers, and times the metadata
    * path of each store; costs are per chunk (per segment, per store). */
  def replayChunks(b: Bench, w: Workload): Replay = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double, Long, Long)]
    val ranged = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    val parse = scala.collection.mutable.ArrayBuffer.empty[Double]
    val metaT = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    for (root <- w.replayStores) {
      val store = b.store(root)
      val all = store.listArrays().map(store.readMeta)
      val metas = all.filter(m => w.dataArrays(m.name))
      metaT += metaResolve(store)
      for (meta <- metas) {
        val keys = SimStore.objects.subMap(s"$root/${meta.name}/c/", s"$root/${meta.name}/c/￿")
          .keySet.asScala.toSeq
        val step = math.max(1, keys.size / 64)
        for (k <- keys.indices by step) {
          val key = keys(k).substring(root.length + meta.name.length + 2)
          val raw = store.readChunk(meta.name, key).get
          // coordinate columns broadcast over this chunk: (column, meta, dim)
          val coords = for {
            cm <- all if !w.dataArrays(cm.name)
            d = meta.dimensionNames.getOrElse(Nil).indexOf(cm.name) if d >= 0
          } yield (ChunkColumn.decode(cm, store.readChunk(cm.name, cm.chunkKey(Array(0)))), cm, d)
          meta.shardingSpec match {
            case None => acc += chunkCosts(meta, raw, coords)
            case Some(spec) =>
              val shardShape = meta.chunkShape
              val n = Sharding.innerCount(shardShape, spec)
              val needed = Array.tabulate(n)(_ == 0)
              val before = SimStore.c.snapshot
              val t = timeS(Sharding.readRanged(store, meta.name, key, spec, shardShape, needed))
              ranged += ((t, (SimStore.c.snapshot - before).gets))
              val d = timeS(ChunkColumn.decode(meta, Some(raw)))
              acc += ((0.0, d / n, assemble(meta, ChunkColumn.decode(meta, Some(raw)), coords) / n, 0.0,
                raw.length.toLong / n, meta.chunkShape.product.toLong * meta.dataType.byteWidth / n))
          }
        }
      }
      val ztOf = metas.map(m => m.name -> m.dataType).toMap.get _
      for ((first, count) <- store.listStatsSegments()) {
        val json = store.readText(ChunkStats.segmentKey(first, count)).get
        parse += timeS(ChunkStats.parse(first, count, json, ztOf))
      }
    }
    def med(f: ((Double, Double, Double, Double, Long, Long)) => Double) = Bench.median(acc.map(f).toSeq)
    Replay(med(_._1), med(_._2), med(_._3), med(_._4), med(_._5.toDouble), med(_._6.toDouble),
      if (parse.isEmpty) 0.0 else Bench.median(parse.toSeq),
      if (ranged.isEmpty) 0.0 else Bench.median(ranged.map(_._1).toSeq),
      if (ranged.isEmpty) 1.0 else Bench.median(ranged.map(_._2.toDouble).toSeq),
      metaT.map(_._1).sum, metaT.map(_._2.toDouble).sum)
  }

  /** Codec decode, chunk decode (self: without the codec), assembly into
    * column vectors, and re-encode of one unsharded chunk, medians of 3. */
  private def chunkCosts(meta: ZarrArrayMeta, raw: Array[Byte], coords: Seq[(ChunkColumn, ZarrArrayMeta, Int)]) = {
    val ts = math.max(1, meta.dataType.byteWidth)
    val codecs = Codecs.bytesCodecs(meta.codecs, ts)
    var plain: Array[Byte] = null
    val codec = Bench.median((0 until 3).map(_ => timeS { plain = codecs.reverse.foldLeft(raw)((x, c) => c.decode(x)) }))
    var col: ChunkColumn = null
    val decode = Bench.median((0 until 3).map(_ => timeS { col = ChunkColumn.decode(meta, Some(raw)) }))
    val asm = Bench.median((0 until 3).map(_ => assemble(meta, col, coords)))
    val enc = Bench.median((0 until 3).map(_ => timeS(codecs.foldLeft(plain)((x, c) => c.encode(x)))))
    (codec, math.max(0.0, decode - codec), asm, enc, raw.length.toLong, plain.length.toLong)
  }

  /** Time to fill one chunk's rows: the data column and every coordinate
    * column broadcast over it, each through its row mapping. */
  private def assemble(meta: ZarrArrayMeta, col: ChunkColumn,
      coords: Seq[(ChunkColumn, ZarrArrayMeta, Int)]): Double = {
    val shape = meta.chunkShape
    val n = shape.product
    val cols = (col, DataCol(meta): ColumnRole, meta) +: coords.map { case (c, cm, d) => (c, CoordCol(cm, d): ColumnRole, cm) }
    val vecs = cols.map(c => new OnHeapColumnVector(n, c._3.dataType.sparkType))
    try timeS {
      cols.zip(vecs).foreach { case ((c, role, _), v) => c.writeTo(v, ChunkColumn.mapping(role, shape, shape), n, 0) }
    } finally vecs.foreach(_.close())
  }

  /** Time and metadata GETs of resolving a store's schema and manifest,
    * median of 5. */
  private def metaResolve(store: ZarrStore): (Double, Long) = {
    val runs = (0 until 5).map { _ =>
      val before = SimStore.c.snapshot
      val t = timeS {
        store.listArrays().foreach(store.readMeta)
        store.readConsolidatedMetas()
        store.readChunkManifest()
      }
      (t, (SimStore.c.snapshot - before).metaGets)
    }
    (Bench.median(runs.map(_._1)), runs.head._2)
  }

  /** Each layer's share of the scan-task time `scanS` given the layers'
    * self times, and the unexplained remainder (negative when the
    * layers' estimates exceed the task time). */
  def split(scanS: Double, selfS: Seq[Double]): (Seq[Double], Double) =
    if (scanS <= 0) (selfS.map(_ => 0.0), 0.0)
    else {
      val shares = selfS.map(_ / scanS)
      (shares, (scanS - selfS.sum) / scanS)
    }

  /** Per-layer metrics of the traced operations `ops`. */
  def layers(b: Bench, w: Workload, ops: Seq[OpResult], plan: Plan, r: Replay): Seq[(String, Double, String)] = {
    val n = ops.size.toDouble
    val ids = ops.map(_.op).toSet
    val reads = ops.filter(_.t.kind == "read")
    val writes = ops.filter(_.t.kind == "write")
    val maints = ops.filter(_.t.kind == "maint")
    val st = ops.map(_.store).foldLeft(SimStore.Snap.zero)(_ + _)
    val tasks = b.listener.tasksOf(ids)
    val scan = b.listener.tasksOf(reads.map(_.op).toSet).filter(_.scan)
    val scanIds = scan.map(_.id).toSet
    val spans = SimStore.spans.asScala.toSeq.filter(s => ids(s.op))
    val readIds = reads.map(_.op).toSet
    val getSpans = spans.filter(s => s.kind.startsWith("get") && readIds(s.op))
    val dataSpans = getSpans.filter(s => w.dataArrays(s.array))
    val dataGets = dataSpans.size.toDouble
    val dataBytes = dataSpans.map(_.bytes).sum.toDouble
    val dur = (s: SimStore.Span) => (s.endNs - s.startNs) / 1e9
    val scanRunS = scan.map(_.runMs).sum / 1e3
    val scanWallS = scan.map(_.wallMs).sum / 1e3
    val perRead = math.max(1, reads.size).toDouble

    // data-chunk decodes: data GET bytes over the bytes of one decode unit
    val decodes = if (r.bytesIn > 0) dataBytes / r.bytesIn / perRead else 0.0
    val chunksTotal = reads.map(_.t.rows * w.chunksPerRow).sum / perRead
    val rowsOut = scan.map(_.rowsIn).sum.toDouble
    val storeTaskS = getSpans.filter(s => scanIds.contains(s.task)).map(dur).sum / perRead
    val codecS = decodes * r.codecS
    val chunkS = decodes * (r.decodeS + r.assembleS)
    val statsS = reads.map(_.store.statsGets).sum / perRead * r.statsParseS
    val scanS = scanRunS / perRead
    // the reader's own work: its replay less the layers it calls
    val readerS = math.max(0.0, plan.readerS - codecS - chunkS - statsS)
    val (shares, unexplained) = split(scanS, Seq(storeTaskS, statsS, codecS, chunkS, readerS))

    val writeTasks = b.listener.tasksOf(writes.map(_.op).toSet)
    val nw = math.max(1, writes.size).toDouble
    val commits = writes.flatMap(o => b.listener.lastJobEnd(o.op).map(e => (o.endMs - e) / 1e3))
    val mib = 1048576.0
    Seq(
      ("store.get_count", st.gets / n, "count"),
      ("store.get_busy_s", st.getBusyNs / 1e9 / n, "s"),
      ("store.meta_get_count", st.metaGets / n, "count"),
      ("store.get_absent_count", st.absentGets / n, "count"),
      ("store.get_bytes", st.getBytes / n, "bytes"),
      ("store.get_ranged_count", st.rangedGets / n, "count"),
      ("store.put_count", st.puts / n, "count"),
      ("store.put_bytes", st.putBytes / n, "bytes"),
      ("store.put_busy_s", st.putBusyNs / 1e9 / n, "s"),
      ("store.rename_count", st.renames / n, "count"),
      ("store.list_count", st.lists / n, "count"),
      ("store.delete_count", st.deletes / n, "count"),
      ("meta.docs_read", r.metaDocs, "count"),
      ("meta.read_s", r.metaS, "s"),
      ("plan.s", plan.s, "s"),
      ("plan.partitions", plan.partitions, "count"),
      ("plan.chunks_total", chunksTotal, "count"),
      ("plan.chunks_fetched", dataGets / perRead, "count"),
      ("plan.chunks_fetched_frac", if (chunksTotal > 0) dataGets / perRead / chunksTotal else 0.0, "ratio"),
      ("stats.segments_read", reads.map(_.store.statsGets).sum / perRead, "count"),
      ("stats.parse_s", statsS, "s"),
      ("stats.scan_share", shares(1), "ratio"),
      ("reader.task_count", scan.size / perRead, "count"),
      ("reader.task_run_s", scanS, "s"),
      ("reader.task_cpu_s", scan.map(_.cpuNs).sum / 1e9 / perRead, "s"),
      ("reader.get_share", if (scanRunS > 0) storeTaskS * perRead / scanRunS else 0.0, "ratio"),
      ("reader.io_overlap", if (scanWallS > 0) getSpans.map(dur).sum / scanWallS else 0.0, "ratio"),
      ("reader.replay_s", plan.readerS, "s"),
      ("reader.self_s", readerS, "s"),
      ("reader.scan_share", shares(4), "ratio"),
      ("reader.useful_row_frac", if (dataBytes > 0) rowsOut / (dataBytes * w.rowsPerDataByte) else 0.0, "ratio"),
      ("codec.decode_s", codecS, "s"),
      ("codec.decode_mb_in", decodes * r.bytesIn / mib, "MiB"),
      ("codec.decode_mb_out", decodes * r.bytesOut / mib, "MiB"),
      ("codec.encode_s", writes.map(_.store.puts).sum / nw * r.encodeS, "s"),
      ("codec.scan_share", shares(2), "ratio"),
      ("chunk.decode_s", decodes * r.decodeS, "s"),
      ("chunk.assemble_s", decodes * r.assembleS, "s"),
      ("chunk.us_per_chunk", (r.codecS + r.decodeS + r.assembleS) * 1e6, "us"),
      ("chunk.ranged_read_s", reads.map(_.store.rangedGets).sum / perRead / r.rangedGets * r.rangedS, "s"),
      ("chunk.scan_share", shares(3), "ratio"),
      ("spark.jobs", b.listener.jobsOf(ids) / n, "count"),
      ("spark.stages", b.listener.stagesOf(ids) / n, "count"),
      ("spark.tasks", tasks.size / n, "count"),
      ("spark.run_s", tasks.filterNot(_.scan).map(_.runMs).sum / 1e3 / n, "s"),
      ("spark.cpu_s", tasks.filterNot(_.scan).map(_.cpuNs).sum / 1e9 / n, "s"),
      ("spark.shuffle_write_mb", tasks.map(_.shuffleWrite).sum / mib / n, "MiB"),
      ("spark.shuffle_read_mb", tasks.map(_.shuffleRead).sum / mib / n, "MiB"),
      ("spark.spill_mb", tasks.map(_.spill).sum / mib / n, "MiB"),
      ("spark.gc_s", tasks.map(_.gcMs).sum / 1e3 / n, "s"),
      ("spark.scheduler_delay_s", tasks.map(_.schedDelayMs).sum / 1e3 / n, "s"),
      ("spark.peak_exec_mem_mb", tasks.map(_.peakMem).maxOption.getOrElse(0L) / mib, "MiB"),
      ("write.task_run_s", writeTasks.map(_.runMs).sum / 1e3 / nw, "s"),
      ("write.shuffle_mb", writeTasks.map(_.shuffleWrite).sum / mib / nw, "MiB"),
      ("write.commit_s", if (commits.isEmpty) 0.0 else Bench.median(commits), "s"),
      ("write.put_count", writes.map(_.store.puts).sum / nw, "count"),
      ("write.ingest_rows_per_s",
        if (writes.isEmpty) 0.0 else writes.map(_.t.rows).sum / writes.map(_.seconds).sum, "rows/s"),
      ("maint.s", if (maints.isEmpty) 0.0 else maints.map(_.seconds).sum / maints.size, "s"),
      ("maint.bytes_rewritten", if (maints.isEmpty) 0.0 else maints.map(_.store.putBytes).sum / maints.size.toDouble, "bytes"),
      ("trace.unexplained_share", unexplained, "ratio"))
  }

  /** Each layer's self time per read and its share of scan-task time,
    * plus the layer-to-end-to-end map. */
  private def report(m: Seq[(String, Double, String)], spansFile: String): String = {
    val v = m.map(x => x._1 -> x._2).toMap
    Json.obj(
      "scan_task_s" -> Json.num(v("reader.task_run_s")),
      "self_s" -> Json.obj(
        "store" -> Json.num(v("reader.get_share") * v("reader.task_run_s")),
        "stats" -> Json.num(v("stats.parse_s")),
        "codec" -> Json.num(v("codec.decode_s")),
        "chunk" -> Json.num(v("chunk.decode_s") + v("chunk.assemble_s")),
        "reader" -> Json.num(v("reader.self_s"))),
      "share" -> Json.obj("store" -> Json.num(v("reader.get_share")),
        "stats" -> Json.num(v("stats.scan_share")), "codec" -> Json.num(v("codec.scan_share")),
        "chunk" -> Json.num(v("chunk.scan_share")), "reader" -> Json.num(v("reader.scan_share")),
        "unexplained" -> Json.num(v("trace.unexplained_share"))),
      "spans" -> Json.str(spansFile),
      "should_move" -> Json.obj(LayerMap.entries.map { case (l, e, wl) =>
        l -> Json.obj("end_to_end" -> Json.str(e), "workload" -> Json.str(wl)) }: _*))
  }

  /** Writes the run's spans: one line per operation, per Spark task, and
    * per (operation, task, kind) aggregate of store GET/PUT spans. */
  private def writeSpans(b: Bench, w: Workload, a: Main.Args, ops: Seq[OpResult]): String = {
    val dir = Paths.get(".bench_build", "traces")
    Files.createDirectories(dir)
    val f = dir.resolve(s"${w.name}-${a.seed}.jsonl")
    val ids = ops.map(_.op).toSet
    val lines = ops.map(o => Json.obj("span" -> Json.str("op"), "op" -> o.op.toString,
      "template" -> Json.str(o.t.name), "s" -> Json.num(o.seconds), "ok" -> o.ok.toString)) ++
      b.listener.tasksOf(ids).map(t => Json.obj("span" -> Json.str("task"), "op" -> t.op.toString,
        "task" -> t.id.toString, "scan" -> t.scan.toString, "run_ms" -> t.runMs.toString)) ++
      SimStore.spans.asScala.toSeq.filter(s => ids(s.op)).groupBy(s => (s.op, s.task, s.kind)).toSeq
        .sortBy(_._1).map { case ((op, task, kind), ss) =>
          Json.obj("span" -> Json.str(kind), "op" -> op.toString, "task" -> task.toString,
            "count" -> ss.size.toString, "busy_s" -> Json.num(ss.map(s => (s.endNs - s.startNs) / 1e9).sum),
            "bytes" -> ss.map(_.bytes).sum.toString)
        }
    Files.write(f, lines.asJava)
    f.toString
  }
}

/** Which end-to-end metric each layer's metrics should move, and on
  * which workload (the rest stay flat). */
object LayerMap {
  val entries: Seq[(String, String, String)] = Seq(
    ("store.get_*", "query_s_p50, get_requests_per_query", "ref_s3bench, objstore_pruned (flat on cube_ingest reads)"),
    ("store.get_bytes, store.get_ranged_count", "fetched_mb_per_query, query_s_p50", "objstore_pruned"),
    ("plan.*, stats.*", "get_requests_per_query, query_s_p50", "objstore_pruned, cube_ingest reads (flat on ref_s3bench, which has no stats)"),
    ("reader.*", "query_s_p50", "ref_s3bench for self_s; objstore_pruned for io_overlap and useful_row_frac"),
    ("codec.*", "rows_per_s (encode: cube_ingest rows_per_s)", "ref_s3bench; cube_ingest for encode_s"),
    ("chunk.*", "rows_per_s, query_s_p50", "ref_s3bench, objstore_pruned; objstore_pruned for ranged_read_s"),
    ("meta.*", "query_s_p50", "cube_ingest reads as the store grows; objstore_pruned"),
    ("spark.*", "query_s_p50, alloc_mb_per_query", "ref_s3bench theta_join, cube_ingest reads"),
    ("store.put_*, store.rename_count, store.list_count, write.*", "rows_per_s, store_requests_per_op",
      "cube_ingest (flat on every read workload)"),
    ("maint.*, store.delete_count", "stored_bytes_per_user_byte, query_s_p50 of later reads", "cube_ingest"),
    ("trace.overhead_frac", "none: guards the trace's own cost", "all"))
}
