package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import graft.zarr._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark DataSource V2 connector for Zarr v3 stores: the idiomatic-Spark
  * re-expression of the reference's DataFusion `TableProvider`
  * (`/root/reference/crates/arrow-zarr/src/table/table_provider.rs`).
  *
  *   spark.read.format("zarr").load("/path/to/store")
  *   CREATE TABLE z USING zarr LOCATION '/path/to/store'
  *
  * Cardinality caveat (inherent to the coordinate model, shared with the
  * reference): the projected column set determines the flattened grid —
  * `SELECT lat` yields the 1-D coordinate (8 rows on the canonical
  * fixture) while `SELECT lat, lon` yields the 64-row cross product, so
  * aggressive column pruning (e.g. `count()` over a join) can legally
  * reduce cardinality. The sharpest corner:
  * `df.filter($"time" >= x).count()` on an N-D cube prunes every column
  * but the predicate's, so it counts surviving COORDINATE values, not
  * cube rows — keep a data column in the aggregate
  * (`agg(count($"temp"))`) to count over the full grid
  * (pyzarr_smoke pins both behaviors).
  *
  * Scale design: one input partition per contiguous range of chunks
  * (reference `zarr_data_stream.rs:805-817`); Spark schedules them as
  * tasks across executors, so a 100 TB store with millions of chunks
  * fans out horizontally. Projection pushdown means unselected arrays
  * are never opened; filter pushdown is *inexact* (chunk-granularity
  * skip, `table_provider.rs:91-96`) with Spark's residual `Filter`
  * giving exact rows.
  */
class ZarrDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zarr"
  override def supportsExternalMetadata(): Boolean = true

  private def storeFor(options: CaseInsensitiveStringMap): ZarrStore = {
    val path = Option(options.get("path")).getOrElse(
      throw new ZarrException("zarr source requires a path"))
    // carry fs.* credentials/endpoints (e.g. s3a) and graft.zarr.* reader
    // toggles (e.g. graft.zarr.ranged.reads) from the driver conf to
    // executor-side FileSystem resolution. sessionState.newHadoopConf
    // (not sparkContext.hadoopConfiguration) so per-session overrides —
    // runtime-set spark.hadoop.* credentials — reach executors too,
    // the same one-source discipline the maintenance walks use.
    val hadoopPairs = SparkSession.active.sessionState.newHadoopConf()
      .iterator().asScala
      .map(e => e.getKey -> e.getValue)
      .filter(p => p._1.startsWith("fs.") || p._1.startsWith("graft.zarr."))
      .toSeq
    // per-SCAN override of the ranged-read policy: appended LAST so it
    // wins over any session-level `graft.zarr.ranged.reads` hadoop conf
    // (ZarrStore applies pairs in order). A scan-scoped option lets
    // concurrent readers of DIFFERENT stores disagree (object store vs
    // local mirror) without racing a shared session conf mutation.
    val rangedPairs = Option(options.get("ranged_reads")).map { v =>
      v match {
        case "always" | "never" | "auto" | "true" | "false" => ()
        case other => throw new ZarrException(
          s"ranged_reads option '$other' is not one of always|never|auto" +
            " (true/false accepted as aliases of always/never)")
      }
      "graft.zarr.ranged.reads" -> v
    }.toSeq
    ZarrStore(path, hadoopPairs ++ rangedPairs)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val store = storeFor(options)
    ZarrDataSource.schemaOf(ZarrDataSource.metasOf(store))
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val store = storeFor(options)
    // `dims` marks an N-D CUBE write target and `append_dim` a cube
    // APPEND: either way the table declares the V1_BATCH_WRITE
    // capability so Spark routes the write through the V1Write
    // whole-query seam (ZarrWriteBuilder returns one); read
    // capabilities are unchanged, and tables resolved WITHOUT the
    // options (every read, every tabular write) keep the pure-V2 path
    val cubeWrite = options.containsKey("dims") ||
      options.containsKey("append_dim") || options.containsKey("region_dim")
    // a missing/empty store with a caller-supplied schema is a WRITE
    // target (df.write.format("zarr").save(path))
    val metas =
      try ZarrDataSource.metasOf(store)
      catch {
        case _: ZarrException if schema != null && schema.nonEmpty => Seq.empty[ZarrArrayMeta]
      }
    if (metas.isEmpty) return new ZarrTable(store, schema, Seq.empty, cubeWrite = cubeWrite)
    val inferred = ZarrDataSource.schemaOf(metas)
    // a user-supplied schema is a column selection + type assertion for
    // READS (reference `table_provider.rs:147-163`) — but the same entry
    // point also serves schema-changing OVERWRITE writes, so a mismatch
    // is only an error if the table is then scanned (validated lazily in
    // newScanBuilder)
    if (schema == null || schema.isEmpty || schema == inferred)
      return new ZarrTable(store, inferred, metas, cubeWrite = cubeWrite)
    val byName = inferred.fields.map(f => f.name -> f).toMap
    val mismatch: Option[String] = schema.fields.iterator.flatMap { f =>
      byName.get(f.name) match {
        case None => Some(s"Column ${f.name} not found in zarr store")
        case Some(inf) if inf.dataType != f.dataType =>
          Some(s"Column ${f.name}: requested type ${f.dataType.sql} does not match " +
            s"stored type ${inf.dataType.sql}")
        case _ => None
      }
    }.take(1).toSeq.headOption
    mismatch match {
      case Some(err) => new ZarrTable(store, schema, metas, Some(err), cubeWrite = cubeWrite)
      case None =>
        val effective = StructType(schema.fields.map(f => byName(f.name)))
        val selected = effective.fields.map(_.name).toSet
        new ZarrTable(store, effective, metas.filter(m => selected(m.name)), cubeWrite = cubeWrite)
    }
  }
}

object ZarrDataSource {
  def schemaOf(metas: Seq[ZarrArrayMeta]): StructType =
    StructType(metas.map { m =>
      // v2 datetime64/timedelta64 decode as raw int64 counts; the
      // kind/unit ride the field metadata so a reader can interpret
      // (e.g. `timestamp_micros(ts DIV 1000)` for zarr_time_unit 'ns')
      val md = m.timeMeta match {
        case Some((kind, unit)) => new org.apache.spark.sql.types.MetadataBuilder()
          .putString("zarr_time_kind", kind)
          .putString("zarr_time_unit", unit)
          .build()
        case None => org.apache.spark.sql.types.Metadata.empty
      }
      StructField(m.name, m.dataType.sparkType, nullable = true, metadata = md)
    })

  /** All array metadata of a store: ONE root-document read on
    * consolidated stores (ZarrWrite output), falling back to the
    * reference's list-then-GET-per-array shape (`config.rs:201-258`)
    * everywhere else. */
  def metasOf(store: ZarrStore): Seq[ZarrArrayMeta] =
    store.readConsolidatedMetas()
      .getOrElse(store.listArrays().map(store.readMeta))
}

class ZarrTable(
    store: ZarrStore, tableSchema: StructType, metas: Seq[ZarrArrayMeta],
    schemaError: Option[String] = None, cubeWrite: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"zarr:${store.root}"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
    // V1_BATCH_WRITE re-routes DataSourceV2Strategy to the V1Write
    // whole-query seam, and a table declaring it MUST return V1Write
    // from every write build — so it is declared only on tables
    // resolved with the cube `dims` option (whose builder always does).
    // BATCH_WRITE stays declared: DataFrameWriter's save() gate checks
    // it regardless of which write seam the strategy then picks.
    if (cubeWrite) caps.add(TableCapability.V1_BATCH_WRITE)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    schemaError.foreach(e => throw new ZarrException(e))
    // a missing/empty store with a user schema is tolerated at getTable
    // time (it may be a write target); actually SCANNING it must fail
    // here with a clear error, not a key-not-found deep in geometry
    // resolution
    if (metas.isEmpty)
      throw new ZarrException(
        s"zarr store not found or empty at ${store.root}: nothing to read " +
          "(the user-supplied schema deferred this check so the path could be a write target)")
    new ZarrScanBuilder(store, tableSchema, metas, options)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new ZarrWriteBuilder(store, info)
}

class ZarrScanBuilder(
    store: ZarrStore,
    tableSchema: StructType,
    metas: Seq[ZarrArrayMeta],
    options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var aggResult: Option[(StructType, Seq[Any])] = None

  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.NamedReference

  /** Metadata-only aggregates — a capability the reference cannot have
    * (its statistics are empty, `opener.rs:171-173`): ungrouped
    * COUNT(*)/COUNT(col) answer from array shapes alone (zarr reads never
    * produce nulls, SURVEY §1.3), and MIN/MAX(col) answer from the
    * `_stats` sidecar when its segments cover every chunk of the scan
    * grid (1-D tabular or N-D via `analyze`'s grid-signed segments) with
    * a recorded range. On a 100 TB store that turns a full scan into a
    * handful of driver-side metadata reads. Anything not provably
    * answerable (filters, grouping, partial stats coverage, a selection
    * resolving to a grid the segments don't describe) declines the
    * pushdown and scans. */
  private def answerAggregation(agg: Aggregation): Option[(StructType, Seq[Any])] = {
    if (pushed.nonEmpty || limit >= 0 || agg.groupByExpressions.nonEmpty) return None
    if (metas.isEmpty) return None
    val byName = metas.map(m => m.name -> m).toMap
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: NamedReference if f.fieldNames.length == 1 &&
          byName.contains(f.fieldNames.head) => Some(f.fieldNames.head)
        case _ => None
      }
    val funcs = agg.aggregateExpressions.toSeq
    val refCols: Set[String] = funcs.flatMap {
      case m: Min => colOf(m.column)
      case m: Max => colOf(m.column)
      case c: Count => colOf(c.column)
      case s: Sum => colOf(s.column)
      case a: Avg => colOf(a.column)
      case _ => None
    }.toSet
    // same cardinality semantics as the pruned scan would have: the grid
    // of the referenced columns (full table for pure COUNT(*))
    val aggMetas = if (refCols.nonEmpty) metas.filter(m => refCols(m.name)) else metas
    val geom =
      try ScanGeometry.resolve(aggMetas)
      catch { case _: ZarrException => return None }
    lazy val covSegs: Option[Seq[ChunkStats.Segment]] = fullCoverageSegments(geom)
    // Lone-coordinate MIN/MAX on an N-D analyzed store (SURVEY §7.11
    // lever 2): a coordinate-only selection resolves to its own 1-D (or
    // cross-product) grid, which the sidecar's grid-signed segments do
    // not describe — but MIN/MAX are ORDER statistics, invariant under
    // broadcast multiplicity, so a full-coverage segment set over the
    // STORE grid bounds every axis value exactly. Served only when every
    // min/max column is a coordinate axis of the store geometry and the
    // store-grid coverage proof holds. COUNT still answers from shapes
    // (pruned-grid semantics); SUM/AVG stay declined — their values DO
    // depend on broadcast multiplicity, which differs between the pruned
    // grid and the store grid.
    lazy val coordAxisRanges: Option[Map[String, (Any, Any)]] = {
      val minMaxCols = funcs.flatMap {
        case m: Min => colOf(m.column)
        case m: Max => colOf(m.column)
        case _ => None
      }.toSet
      if (minMaxCols.isEmpty) None
      else try {
        val fullGeom = ScanGeometry.resolve(metas)
        val dimNames = fullGeom.dimIdentity.toSet
        if (fullGeom.ndim <= geom.ndim || !minMaxCols.forall(dimNames.contains)) None
        else ChunkStats.coverageSegments(store, metas, fullGeom)
          .map(segs => ChunkStats.exactRanges(minMaxCols.toSeq, segs))
      } catch { case _: ZarrException => None }
    }
    lazy val ranges: Option[Map[String, (Any, Any)]] =
      covSegs.map(rangesFrom).orElse(coordAxisRanges)
    lazy val sums: Option[Map[String, Long]] = covSegs.map(sumsFrom)
    val integerTyped: Set[ZarrType] = Set(ZarrType.Int8, ZarrType.Int16,
      ZarrType.Int32, ZarrType.Int64, ZarrType.UInt8, ZarrType.UInt16,
      ZarrType.UInt32)
    // SUM/AVG over zero rows is NULL, which this path does not model —
    // and a 0-chunk grid trivially "covers fully"; decline instead
    def exactSum(col: String): Option[Long] =
      if (geom.numRows == 0 || !integerTyped(byName(col).dataType)) None
      else sums.flatMap(_.get(col))
    val out = funcs.map {
      case _: CountStar =>
        Some((StructField("count_star", org.apache.spark.sql.types.LongType),
          geom.numRows: Any))
      case c: Count if !c.isDistinct =>
        colOf(c.column).map(n =>
          (StructField(s"count_$n", org.apache.spark.sql.types.LongType),
            geom.numRows: Any))
      case m: Min =>
        colOf(m.column).flatMap(n => ranges.flatMap(_.get(n)).map(r =>
          (StructField(s"min_$n", byName(n).dataType.sparkType), r._1)))
      case m: Max =>
        colOf(m.column).flatMap(n => ranges.flatMap(_.get(n)).map(r =>
          (StructField(s"max_$n", byName(n).dataType.sparkType), r._2)))
      case s: Sum if !s.isDistinct =>
        // integer columns only: the sidecar's per-chunk sums are exact
        // and merge exactly (floats decline — summation order would make
        // the stored sum unreproducible against any engine's scan)
        colOf(s.column).flatMap(n => exactSum(n).map(v =>
          (StructField(s"sum_$n", org.apache.spark.sql.types.LongType), v: Any)))
      case a: Avg if !a.isDistinct =>
        // exact long sum / exact count, guarded so toDouble is lossless:
        // the pushed AVG is the exactly-rounded true mean. INTENTIONAL
        // semantics note: Spark's fallback Average over integer columns
        // accumulates partials in DOUBLE, so on data whose RUNNING sums
        // transiently exceed 2^53 the scanned result depends on row
        // order/partitioning (plan-dependent rounding); the pushed
        // result is the one exactly-rounded answer every such ordering
        // approximates. We deliberately return the exact mean rather
        // than emulate an unspecifiable accumulation order.
        colOf(a.column).flatMap(n => exactSum(n)
          .filter(v => math.abs(v) <= (1L << 53))
          .map(v =>
            (StructField(s"avg_$n", org.apache.spark.sql.types.DoubleType),
              v.toDouble / geom.numRows: Any)))
      case _ => None
    }
    if (out.exists(_.isEmpty)) None
    else Some((StructType(out.flatten.map(_._1)), out.flatten.map(_._2)))
  }

  /** Shared with the Scan's CBO column statistics — see
    * [[ChunkStats.coverageSegments]] / [[ChunkStats.exactRanges]]. */
  private def fullCoverageSegments(
      geom: ScanGeometry): Option[Seq[ChunkStats.Segment]] =
    ChunkStats.coverageSegments(store, metas, geom)

  private def rangesFrom(
      parsed: Seq[ChunkStats.Segment]): Map[String, (Any, Any)] =
    ChunkStats.exactRanges(metas.map(_.name), parsed)

  /** Exact global sum per integer column — only columns with a recorded
    * chunk sum in EVERY chunk; the merge uses addExact and drops the
    * column on overflow (the pushed value must be the mathematical sum,
    * never a wrapped one). */
  private def sumsFrom(parsed: Seq[ChunkStats.Segment]): Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    metas.map(_.name).foreach { c =>
      var acc = 0L
      var ok = true
      parsed.foreach { seg =>
        var ord = seg.first
        while (ok && ord < seg.first + seg.chunks) {
          seg.sum(c, ord) match {
            case Some(s) =>
              try acc = Math.addExact(acc, s)
              catch { case _: ArithmeticException => ok = false }
            case None => ok = false
          }
          ord += 1
        }
      }
      if (ok) b += c -> acc
    }
    b.result()
  }

  // Spark probes supportCompletePushDown then pushAggregation with the
  // same Aggregation; memoize so the sidecar IO (LIST + segment GETs)
  // runs once per builder, not per probe
  private var aggMemo: Option[(String, Option[(StructType, Seq[Any])])] = None
  private def answerMemo(agg: Aggregation): Option[(StructType, Seq[Any])] = {
    val key = agg.toString
    aggMemo match {
      case Some((k, r)) if k == key => r
      case _ =>
        val r = answerAggregation(agg)
        aggMemo = Some((key, r))
        r
    }
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    answerMemo(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggResult = answerMemo(agg)
    if (aggResult.isDefined) return true
    partialAggScan = answerPartialAggregation(agg)
    partialAggScan.isDefined
  }

  private var partialAggScan: Option[ZarrPartialAggScan] = None

  /** HYBRID aggregate pushdown for PARTIALLY stats-covered stores (a
    * half-analyzed foreign store, a growing store whose tail appends
    * postdate the last `analyze`): chunks whose segment records every
    * needed statistic are served from metadata with zero chunk IO; only
    * the uncovered chunks are read — so after `analyze` backfills 90%
    * of a 100 TB store, MIN/MAX/SUM pay 10% of the scan instead of
    * declining to a full one. Spark contract: `supportCompletePushDown`
    * = false, so Spark plans its own FINAL aggregation over the rows
    * this scan emits — one pre-merged row for all stats-served chunks
    * plus one partial row per scanned-ordinal partition. Works on 1-D
    * AND N-D grids (segments carry a grid signature; `analyze` records
    * N-D bounds per row-major target-chunk ordinal). Declines (falling
    * back to the normal scan) on filters/limits/grouping, functions
    * beyond MIN/MAX/SUM/COUNT, stores with no usable segment, or a
    * served-sum overflow (the partial must be the mathematical sum). */
  private def answerPartialAggregation(
      agg: Aggregation): Option[ZarrPartialAggScan] = {
    if (pushed.nonEmpty || limit >= 0 || agg.groupByExpressions.nonEmpty) return None
    if (metas.isEmpty) return None
    val byName = metas.map(m => m.name -> m).toMap
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: NamedReference if f.fieldNames.length == 1 &&
          byName.contains(f.fieldNames.head) => Some(f.fieldNames.head)
        case _ => None
      }
    val integerTyped: Set[ZarrType] = Set(ZarrType.Int8, ZarrType.Int16,
      ZarrType.Int32, ZarrType.Int64, ZarrType.UInt8, ZarrType.UInt16,
      ZarrType.UInt32)
    val parsed: Seq[Option[(String, String)]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(("count_star", ""))
      case c: Count if !c.isDistinct => colOf(c.column).map(("count", _))
      case m: Min => colOf(m.column).map(("min", _))
      case m: Max => colOf(m.column).map(("max", _))
      case s: Sum if !s.isDistinct =>
        // same type discipline as the complete path: only integer
        // columns have exact, order-independent long sums
        colOf(s.column).filter(n => integerTyped(byName(n).dataType)).map(("sum", _))
      case _ => None
    }
    if (parsed.exists(_.isEmpty)) return None
    val fns = parsed.flatten
    // pure counts answer completely from shapes; partial mode only pays
    // off when a stats-backed function is present
    if (!fns.exists(f => f._1 == "min" || f._1 == "max" || f._1 == "sum")) return None
    val refCols = fns.map(_._2).filter(_.nonEmpty).toSet
    val aggMetas = if (refCols.nonEmpty) metas.filter(m => refCols(m.name)) else metas
    val geom =
      try ScanGeometry.resolve(aggMetas)
      catch { case _: ZarrException => return None }
    if (geom.numRows == 0) return None
    val segs = ChunkStats.partialSegments(store, aggMetas, geom)
    if (segs.isEmpty) return None
    val sorted = segs.sortBy(_.first)
    def extent(ord: Long): Long =
      geom.chunkExtent(geom.chunkIndex(ord)).map(_.toLong).product
    // walk the grid once: a chunk is SERVED iff its segment records
    // every needed statistic exactly; anything else is scanned
    val mins = scala.collection.mutable.Map.empty[String, Any]
    val maxs = scala.collection.mutable.Map.empty[String, Any]
    val sums = scala.collection.mutable.Map.empty[String, Long]
    val needMin = fns.collect { case ("min", c) => c }.distinct
    val needMax = fns.collect { case ("max", c) => c }.distinct
    val needSum = fns.collect { case ("sum", c) => c }.distinct
    var servedRows = 0L
    var servedChunks = 0L
    val uncovered = Seq.newBuilder[(Long, Long)]
    var runStart = -1L
    var si = 0
    var ord = 0L
    try {
      while (ord < geom.numChunks) {
        while (si < sorted.length && sorted(si).first + sorted(si).chunks <= ord) si += 1
        val seg = if (si < sorted.length && sorted(si).contains(ord)) Some(sorted(si)) else None
        val answers = seg.exists { s =>
          needMin.forall(c => s.exactRange(c, ord).isDefined) &&
            needMax.forall(c => s.exactRange(c, ord).isDefined) &&
            needSum.forall(c => s.sum(c, ord).isDefined)
        }
        if (answers) {
          val s = seg.get
          needMin.foreach { c =>
            val lo = s.exactRange(c, ord).get._1
            if (!mins.contains(c) || ChunkFilter.cmp(lo, mins(c)) < 0) mins(c) = lo
          }
          needMax.foreach { c =>
            val hi = s.exactRange(c, ord).get._2
            if (!maxs.contains(c) || ChunkFilter.cmp(hi, maxs(c)) > 0) maxs(c) = hi
          }
          needSum.foreach { c =>
            sums(c) = Math.addExact(sums.getOrElse(c, 0L), s.sum(c, ord).get)
          }
          servedRows += extent(ord)
          servedChunks += 1
          if (runStart >= 0) { uncovered += ((runStart, ord)); runStart = -1L }
        } else if (runStart < 0) runStart = ord
        ord += 1
      }
    } catch { case _: ArithmeticException => return None }
    if (runStart >= 0) uncovered += ((runStart, geom.numChunks))
    if (servedChunks == 0) return None // nothing served: the plain scan wins
    val fields = fns.map {
      case ("count_star", _) => StructField("count_star", org.apache.spark.sql.types.LongType)
      case ("count", c) => StructField(s"count_$c", org.apache.spark.sql.types.LongType)
      case ("min", c) => StructField(s"min_$c", byName(c).dataType.sparkType)
      case ("max", c) => StructField(s"max_$c", byName(c).dataType.sparkType)
      case ("sum", c) => StructField(s"sum_$c", org.apache.spark.sql.types.LongType)
      case other => throw new IllegalStateException(other.toString)
    }
    val servedRow: Seq[Any] = fns.map {
      case ("count_star", _) | ("count", _) => servedRows: Any
      case ("min", c) => mins(c)
      case ("max", c) => maxs(c)
      case ("sum", c) => sums(c): Any
      case other => throw new IllegalStateException(other.toString)
    }
    Some(new ZarrPartialAggScan(store, aggMetas, StructType(fields),
      fns, servedRow, servedChunks, uncovered.result(), options))
  }

  /** LIMIT pushdown (the reference accepts and ignores limit,
    * `table_provider.rs:103` — here a pushed limit stops each partition
    * after `limit` rows, and partition planning shrinks to the chunks
    * that can possibly be needed). Partial: Spark keeps its own global
    * limit above the scan. */
  override def pushLimit(l: Int): Boolean = {
    // only safe without filters: a chunk-skipping scan cannot know how
    // many chunks satisfy the predicate
    if (pushed.isEmpty) { limit = l; true } else false
  }

  override def isPartiallyPushed: Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** All filters are residual (kept by Spark for exact evaluation); the
    * supported subset is additionally used reader-side for chunk skipping
    * — the reference's Inexact pushdown contract. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val names = metas.map(_.name).toSet
    pushed = filters.filter(f =>
      ChunkFilter.supported(f) && ChunkFilter.references(f).forall(names))
    filters // Spark must re-evaluate everything exactly
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = aggResult match {
    case Some((schema, values)) => new ZarrAggScan(store.root, schema, values)
    case None => partialAggScan.getOrElse(
      new ZarrScan(store, metas, required, pushed, options, limit))
  }
}

/** One-row scan carrying a completely-pushed aggregate answered from
  * metadata (shapes + stats sidecar) — no chunk is ever read. */
class ZarrAggScan(root: String, schema: StructType, values: Seq[Any])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"ZarrAggScan $root metadata-only [${schema.fieldNames.mkString(",")}]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(ZarrInputPartition(0L, 1L))
  override def createReaderFactory(): PartitionReaderFactory =
    ZarrAggReaderFactory(schema.json, values.map {
      case s: String => s
      case d: java.math.BigDecimal => d.toPlainString
      case other => other
    })
}

final case class ZarrAggReaderFactory(schemaJson: String, values: Seq[Any])
    extends PartitionReaderFactory {
  override def createReader(
      p: InputPartition): org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.catalyst.InternalRow] = {
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[StructType]
    // re-box JVM values as Catalyst internal values for the row
    val internal = schema.fields.zip(values).map {
      case (f, v) => f.dataType match {
        case org.apache.spark.sql.types.StringType =>
          org.apache.spark.unsafe.types.UTF8String.fromString(v.asInstanceOf[String])
        case d: org.apache.spark.sql.types.DecimalType =>
          org.apache.spark.sql.types.Decimal(
            new java.math.BigDecimal(v.asInstanceOf[String]), d.precision, d.scale)
        case _ => v
      }
    }
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(internal.toIndexedSeq)
      override def close(): Unit = ()
    }
  }
}

/** Hybrid partial-aggregate scan (see
  * [[ZarrScanBuilder.answerPartialAggregation]]): one partition emits
  * the driver-merged row for every stats-served chunk (zero chunk IO);
  * the uncovered ordinal ranges are read and reduced executor-side, one
  * partial row per partition. Spark's FINAL aggregate merges them. */
class ZarrPartialAggScan(
    store: ZarrStore,
    aggMetas: Seq[ZarrArrayMeta],
    schema: StructType,
    fns: Seq[(String, String)],
    servedRow: Seq[Any],
    servedChunks: Long,
    uncovered: Seq[(Long, Long)],
    options: CaseInsensitiveStringMap)
    extends Scan with Batch {

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"ZarrPartialAggScan ${store.root} served=$servedChunks " +
      s"uncoveredChunks=${uncovered.map(r => r._2 - r._1).sum} " +
      s"[${schema.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    // partition the uncovered ordinals like the plain scan would; the
    // served row rides a sentinel partition (lo = -1)
    val totalUncovered = uncovered.map(r => r._2 - r._1).sum
    val requested = Option(options.get("partitions")).map(_.toInt)
    val default =
      try math.max(2 * SparkSession.active.sparkContext.defaultParallelism, 1)
      catch { case _: Throwable => 32 }
    val n = math.max(1L, math.min(totalUncovered, requested.getOrElse(default).toLong))
    val per = math.max(1L, (totalUncovered + n - 1) / n)
    val parts = Array.newBuilder[InputPartition]
    parts += ZarrInputPartition(-1L, -1L)
    uncovered.foreach { case (lo, hi) =>
      var s = lo
      while (s < hi) {
        val e = math.min(hi, s + per)
        parts += ZarrInputPartition(s, e)
        s = e
      }
    }
    parts.result()
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val metaJsons = aggMetas.map(m => m.name -> m.sourceJson)
    val mparts = ChunkManifest.requiredParts(store, metaJsons.map(_._2))
    // overflow semantics of the executor-side partial SUM must match
    // what Spark's Sum over the same scanned rows would do: throw under
    // ANSI (the 4.x default), wrap otherwise — resolved at plan time
    // because executors cannot read the session conf
    val ansi =
      try org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
      catch { case _: Throwable => true }
    ZarrPartialAggReaderFactory(store, metaJsons, schema.json, fns,
      servedRow.map(ZarrPartialAggScan.box), mparts, ansi)
  }
}

object ZarrPartialAggScan {
  /** JVM-serializable boxing for served values (same trick as
    * [[ZarrAggScan]]: strings/decimals travel as strings). */
  def box(v: Any): Any = v match {
    case d: java.math.BigDecimal => d.toPlainString
    case other => other
  }

  /** Re-box a JVM value as the Catalyst internal value for `dt`. */
  def internal(dt: org.apache.spark.sql.types.DataType, v: Any): Any = dt match {
    case org.apache.spark.sql.types.StringType =>
      org.apache.spark.unsafe.types.UTF8String.fromString(v.asInstanceOf[String])
    case d: org.apache.spark.sql.types.DecimalType =>
      org.apache.spark.sql.types.Decimal(v match {
        case s: String => new java.math.BigDecimal(s)
        case b: java.math.BigDecimal => b
      }, d.precision, d.scale)
    case _ => v
  }
}

final case class ZarrPartialAggReaderFactory(
    store: ZarrStore,
    metaJsons: Seq[(String, String)],
    schemaJson: String,
    fns: Seq[(String, String)],
    servedRow: Seq[Any],
    manifestParts: Vector[(Long, String, Int)],
    ansiSum: Boolean)
    extends PartitionReaderFactory {

  override def createReader(
      p: InputPartition): org.apache.spark.sql.connector.read.PartitionReader[
      org.apache.spark.sql.catalyst.InternalRow] = {
    val part = p.asInstanceOf[ZarrInputPartition]
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[StructType]
    val row: Seq[Any] =
      if (part.lo < 0) {
        schema.fields.zip(servedRow).toSeq.map { case (f, v) =>
          ZarrPartialAggScan.internal(f.dataType, v)
        }
      } else {
        val metas = metaJsons.map { case (n, j) => ZarrMeta.parse(n, j) }
        val byName = metas.map(m => m.name -> m).toMap
        val mani = ChunkManifest(manifestParts)
        // same geometry the planner walked: ordinals are row-major over
        // this grid, and coordinate columns broadcast via the mapping
        val geom = ScanGeometry.resolve(metas)
        val roleOf: Map[String, ColumnRole] =
          metas.map(_.name).zip(geom.roles).toMap
        val coordCache = new java.util.HashMap[String, ChunkColumn]()
        // COUNT needs no chunk bytes (row counts come from the extent;
        // zarr reads never produce nulls) — fetch/decode only the
        // columns whose VALUES a function consumes
        val needCols = fns.collect {
          case ("min", c) => c
          case ("max", c) => c
          case ("sum", c) => c
        }.distinct
        val mins = scala.collection.mutable.Map.empty[String, Any]
        val maxs = scala.collection.mutable.Map.empty[String, Any]
        val sums = scala.collection.mutable.Map.empty[String, Long]
        var rows = 0L
        // data-column bytes ride a depth-bounded prefetch window so
        // decode overlaps IO across the uncovered range (same
        // discipline as the scan pipeline and analyze)
        val pf = new ChunkPrefetcher[Long, Map[String, Option[Array[Byte]]]](
          (part.lo until part.hi).iterator,
          o => {
            val idx = geom.chunkIndex(o)
            needCols.flatMap { c =>
              roleOf(c) match {
                case role: DataCol =>
                  Some(c -> store.readChunk(c, mani.chunkKeyOf(role, idx, o)))
                case CoordCol(_, _) => None // tiny + cached below
              }
            }.toMap
          })
        try {
        var ord = part.lo
        while (ord < part.hi) {
          val idx = geom.chunkIndex(ord)
          val extent = geom.chunkExtent(idx)
          val nRows = extent.map(_.toLong).product
          rows += nRows
          val raw = pf.next()
          needCols.foreach { c =>
            val m = byName(c)
            val role = roleOf(c)
            val col = role match {
              case CoordCol(_, dim) =>
                val ck = s"$c/${idx(dim)}"
                val cached = coordCache.get(ck)
                if (cached != null) cached
                else {
                  val cc = ChunkColumn.decode(
                    m, store.readChunk(c, mani.chunkKeyOf(role, idx, ord)))
                  coordCache.put(ck, cc)
                  cc
                }
              case DataCol(_) => ChunkColumn.decode(m, raw(c))
            }
            val mapping = ChunkColumn.mapping(role, geom.targetChunk, extent)
            val wantMin = fns.contains(("min", c))
            val wantMax = fns.contains(("max", c))
            val wantSum = fns.contains(("sum", c))
            var e = 0
            while (e < nRows) {
              val v = col.get(if (mapping == null) e.toInt else mapping(e.toInt))
              if (wantMin && (!mins.contains(c) || ChunkFilter.cmp(v, mins(c)) < 0))
                mins(c) = v
              if (wantMax && (!maxs.contains(c) || ChunkFilter.cmp(v, maxs(c)) > 0))
                maxs(c) = v
              if (wantSum) {
                val x = (v: Any) match {
                  case n: Number => n.longValue()
                  case other => throw new ZarrException(s"unsummable value $other")
                }
                // overflow matches Spark's Sum over the same rows:
                // throw under ANSI, wrap otherwise
                sums(c) =
                  if (ansiSum) Math.addExact(sums.getOrElse(c, 0L), x)
                  else sums.getOrElse(c, 0L) + x
              }
              e += 1
            }
          }
          ord += 1
        }
        } finally pf.close()
        fns.zip(schema.fields).map {
          case (("count_star", _), _) | (("count", _), _) => rows: Any
          case (("min", c), f) => ZarrPartialAggScan.internal(f.dataType, mins(c))
          case (("max", c), f) => ZarrPartialAggScan.internal(f.dataType, maxs(c))
          case (("sum", c), _) => sums(c): Any
          case other => throw new IllegalStateException(other.toString)
        }
      }
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): org.apache.spark.sql.catalyst.InternalRow =
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(row.toIndexedSeq)
      override def close(): Unit = ()
    }
  }
}

class ZarrScan(
    store: ZarrStore,
    metas: Seq[ZarrArrayMeta],
    required: StructType,
    pushed: Array[Filter],
    options: CaseInsensitiveStringMap,
    limit: Int = -1)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  private val byName = metas.map(m => m.name -> m).toMap

  /** Arrays the reader must open: projected ones first (output order),
    * then any predicate-only columns (reference's filter/projection
    * column sharing, `zarr_data_stream.rs:943-963`). */
  private val readNames: Seq[String] = {
    val proj = required.fields.map(_.name).toSeq
    val predOnly = pushed.flatMap(ChunkFilter.references).distinct
      .filterNot(proj.contains).filter(byName.contains)
    val all = proj ++ predOnly
    if (all.nonEmpty) all else metas.map(_.name) // count(*): grid from full table
  }

  private[sources] lazy val geometry: ScanGeometry =
    ScanGeometry.resolve(readNames.map(byName))

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def toMicroBatchStream(
      checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ZarrMicroBatchStream(
      store, readNames, required.fields.map(_.name).toSeq, pushed.toSeq,
      checkpointLocation,
      maxChunksPerTrigger =
        Option(options.get("max_chunks_per_trigger")).map(_.toLong).getOrElse(-1L),
      emitPartialTail =
        Option(options.get("emit_partial_tail")).exists(_.toBoolean))

  override def description(): String =
    s"ZarrScan ${store.root} cols=[${readNames.mkString(",")}] " +
      s"pushed=[${pushed.mkString(",")}]" +
      (if (limit >= 0) s" limit=$limit" else "")

  override def planInputPartitions(): Array[InputPartition] = {
    // a pushed limit bounds how many chunks can possibly contribute rows
    val total =
      if (limit < 0) geometry.numChunks
      else {
        val rowsPerChunk = math.max(1L, geometry.targetChunk.map(_.toLong).product)
        math.min(geometry.numChunks, (limit + rowsPerChunk - 1) / rowsPerChunk)
      }
    val requested = Option(options.get("partitions")).map(_.toInt)
    val default =
      try math.max(2 * SparkSession.active.sparkContext.defaultParallelism, 1)
      catch { case _: Throwable => 32 }
    val n = math.max(1, math.min(total, requested.getOrElse(default).toLong).toInt)
    // runtime filters (delivered via filter() between the factory-built
    // planning pass and THIS post-filter re-plan) ride on the partitions,
    // with one driver-side stats-sidecar LIST so readers can chunk-skip
    // on them with zero extra metadata round-trips
    val rt = runtimeFilters.toSeq
    val rtSegs =
      if (rt.isEmpty) Nil
      else try store.listStatsSegments() catch { case _: Throwable => Nil }
    geometry.partitionRanges(n)
      .map { case (lo, hi) =>
        // each partition carries ONLY its overlapping slice of the
        // segment index — the full index duplicated across thousands of
        // serialized partitions would dominate task-binary size
        val mySegs = rtSegs.filter { case (first, c) => first < hi && first + c > lo }
        ZarrInputPartition(lo, hi, rt, mySegs): InputPartition
      }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val metaJsons = readNames.map(n => n -> byName(n).sourceJson)
    val effectiveFilters = (pushed ++ runtimeFilters).toSeq
    // one driver-side LIST of the stats sidecar, shipped to every task —
    // readers GET only their overlapping segments, never LIST
    val segIndex =
      if (effectiveFilters.isEmpty) Nil
      else try store.listStatsSegments() catch { case _: Throwable => Nil }
    // rename-free staged commits key chunks through the root-doc
    // manifest; ONE driver-side read covers the whole scan. When any
    // read array carries the manifest storage transformer, an
    // empty/unreadable manifest must be a HARD error: resolving staged
    // ordinals to canonical keys would silently read fill values — the
    // exact failure the must-understand transformer exists to prevent,
    // and it must protect this reader too, not only generic tools.
    val mparts = ChunkManifest.requiredParts(
      store, readNames.map(n => byName(n).sourceJson))
    // one driver-side LIST telling readers whether per-inner-chunk stats
    // docs exist at all — a never-analyzed store must not pay a 404 GET
    // per shard probing for them
    val innerStats = effectiveFilters.nonEmpty &&
      readNames.exists(n => byName(n).shardingSpec.isDefined) &&
      (try store.hasInnerStatsDocs() catch { case _: Throwable => false })
    ZarrReaderFactory(store, metaJsons, required.fields.map(_.name).toSeq,
      effectiveFilters, limit, segIndex, mparts, innerStats)
  }

  /** Runtime (join-derived) filters — e.g. a broadcast join's IN-set on
    * a coordinate — feed the same chunk-skip machinery as static pushed
    * filters: dynamic pruning for array stores. */
  private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fields.map(f =>
      org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(filters: Array[Filter]): Unit = {
    val names = metas.map(_.name).toSet
    runtimeFilters = filters.filter(f =>
      ChunkFilter.supported(f) && ChunkFilter.references(f).forall(names))
  }

  /** Exact row count from array shapes — strictly better than the
    * reference's empty statistics (`opener.rs:171-173`) — plus, under
    * CBO, exact per-column min/max/nullCount from the stats sidecar. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def numRows(): OptionalLong = OptionalLong.of(geometry.numRows)
    override def sizeInBytes(): OptionalLong = {
      val perRow = required.fields.map(_.dataType.defaultSize.toLong).sum
      OptionalLong.of(geometry.numRows * math.max(perRow, 1L))
    }
    override def columnStats(): java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = v2ColumnStats
  }

  /** Exact per-column statistics for Spark's cost-based optimizer, from
    * the chunk-stats sidecar (Catalyst folds them into `ColumnStat` via
    * `DataSourceV2Relation.transformV2Stats`, informing join reorder and
    * filter selectivity over zarr tables). Gated behind
    * `spark.sql.cbo.enabled`: the sidecar read is driver-side IO
    * (LIST + segment GETs) that default planning must not pay on every
    * query. Numeric columns only — their sidecar values are the same
    * boxed primitives catalyst `ColumnStat` carries; strings/decimals
    * are skipped. `nullCount` is exactly 0: zarr reads never produce
    * nulls (fill values, SURVEY §1.3). Memoized per Scan. */
  private lazy val v2ColumnStats: java.util.Map[
    org.apache.spark.sql.connector.expressions.NamedReference,
    org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics]()
    val numeric: Set[ZarrType] = Set(ZarrType.Int8, ZarrType.Int16, ZarrType.Int32,
      ZarrType.Int64, ZarrType.UInt8, ZarrType.UInt16, ZarrType.UInt32,
      ZarrType.Float32, ZarrType.Float64)
    try {
      if (org.apache.spark.sql.internal.SQLConf.get.cboEnabled) {
        val cols = required.fields.map(_.name).filter(n =>
          byName.get(n).exists(m => numeric(m.dataType)))
        if (cols.nonEmpty) {
          ChunkStats.coverageSegments(store, metas, geometry).foreach { parsed =>
            val ranges = ChunkStats.exactRanges(cols.toSeq, parsed)
            cols.foreach { n =>
              ranges.get(n).foreach { case (lo, hi) =>
                out.put(Expressions.column(n), new ColumnStatistics {
                  override def min(): java.util.Optional[Object] =
                    java.util.Optional.of(lo.asInstanceOf[Object])
                  override def max(): java.util.Optional[Object] =
                    java.util.Optional.of(hi.asInstanceOf[Object])
                  override def nullCount(): OptionalLong = OptionalLong.of(0L)
                })
              }
            }
          }
        }
      }
    } catch { case _: Throwable => () } // stats are auxiliary: never fail planning
    out
  }
}

/** A contiguous chunk-ordinal range, plus any runtime (join-derived)
  * filters. Runtime filters travel on the partition because Spark may
  * build the reader factory BEFORE `SupportsRuntimeFiltering.filter`
  * fires, but re-plans partitions after it — `rtSegIndex` carries the
  * matching driver-side stats-segment listing for the same reason. */
final case class ZarrInputPartition(
    lo: Long, hi: Long,
    runtimeFilters: Seq[Filter] = Nil,
    rtSegIndex: Seq[(Long, Int)] = Nil) extends InputPartition
