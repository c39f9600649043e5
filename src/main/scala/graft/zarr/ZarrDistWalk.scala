package graft.zarr

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Sharded walks over a store's stored objects — the 100 TB shape of
  * the maintenance/observability surface. A driver-side recursive LIST
  * is exact but serial: on an object store holding millions of chunk
  * objects it becomes the bottleneck of `vacuum` and
  * `describe(countStored)`. This planner cuts each array's key space
  * into independently walkable units after only TWO driver LIST levels
  * (array dir + its child dirs): every grandchild DIRECTORY becomes a
  * recursive `subtree` unit (for a cube that is one unit per dim-0
  * chunk row — natural, even parallelism), and each child dir
  * additionally yields one files-only unit for its direct file
  * children (1-D layouts: `c/<i>` files). Units are plain strings, so
  * they ship to executors; each task opens its own FileSystem from the
  * same `fs.*` conf pairs every executor-side store access uses.
  *
  * The SAME planner and per-unit visitors serve the driver-side mode —
  * one implementation, two schedulers — so distributed and local
  * results cannot drift. */
private[zarr] object ZarrDistWalk {

  val metaDocNames: Set[String] =
    Set("zarr.json", ".zarray", ".zattrs", ".zgroup")

  /** One independently walkable slice of an array's key space:
    * everything under `rel` when `subtree`, else only the direct FILE
    * children of `rel`. `rel` is relative to the array dir. */
  final case class WalkUnit(array: String, rel: String, subtree: Boolean)

  private def openFs(root: String, pairs: Seq[(String, String)]): (FileSystem, Path) = {
    val conf = new Configuration()
    pairs.foreach { case (k, v) => conf.set(k, v) }
    val p = new Path(root)
    val fs = p.getFileSystem(conf)
    fs.setVerifyChecksum(false)
    fs.setWriteChecksum(false)
    (fs, p)
  }

  /** Chunk-grid indices a key-shaped relative path addresses, or None
    * for non-key-shaped names. Handles every layout the engine reads:
    * v3 '/'-separated (`c/0/1`), v3 '.'-separated flat (`c.0.1`), v2
    * flat (`0.1`). */
  def keyIndices(rel: String): Option[Seq[Long]] = {
    val parts0 = rel.split('/').toSeq.flatMap(_.split('.').toSeq)
    val parts = if (parts0.headOption.contains("c")) parts0.tail else parts0
    if (parts.isEmpty || !parts.forall(p => p.nonEmpty && p.forall(_.isDigit))) None
    else Some(parts.map(_.toLong))
  }

  /** A key-shaped path addressing a slot OUTSIDE the committed grid
    * (wrong rank or any index past its extent). Non-key-shaped names
    * are never orphans — foreign files are surfaced, not deleted. */
  def orphaned(rel: String, grid: Seq[Long]): Boolean =
    keyIndices(rel).exists(idx =>
      idx.length != grid.length ||
        idx.zip(grid).exists { case (i, g) => i >= g })

  /** Split subtree units one LIST level at a time until at least
    * `target` units exist (or nothing further splits): a subtree unit
    * over a dir becomes one files-only unit for its direct files plus
    * one subtree unit per child dir — IDENTICAL coverage, finer tasks.
    * This is how a cube with a short dim-0 (2 chunk rows → 2 first-level
    * units) still fans out across a cluster: the next grid dimension
    * supplies the parallelism. Cost: one LIST per refined unit per
    * round, bounded by `maxLevels` rounds (grids are ≤8-D and each round
    * multiplies units by a grid dimension, so 3 rounds reach target or
    * the file level for any realistic layout). */
  private def refine(
      fs: FileSystem, arrayDir: Path, array: String,
      units: Seq[WalkUnit], target: Int, maxLevels: Int = 3): Seq[WalkUnit] = {
    var cur = units
    var level = 0
    while (level < maxLevels && cur.size < target && cur.exists(_.subtree)) {
      val (subs, rest) = cur.partition(_.subtree)
      val refined = subs.flatMap { u =>
        val base = new Path(arrayDir, u.rel)
        val kids =
          try fs.listStatus(base)
          catch { case _: java.io.FileNotFoundException =>
            Array.empty[org.apache.hadoop.fs.FileStatus] }
        val childDirs = kids.filter(_.isDirectory)
        if (childDirs.isEmpty) Seq(u) // file level reached: keep as-is
        else WalkUnit(array, u.rel, subtree = false) +: childDirs.map(d =>
          WalkUnit(array, s"${u.rel}/${d.getPath.getName}", subtree = true)).toSeq
      }
      val progressed = refined.size != subs.size || refined != subs
      cur = rest ++ refined
      level = if (progressed) level + 1 else maxLevels // fixpoint: stop
    }
    cur
  }

  /** Two driver LISTs deep (more when `targetUnits` asks for finer
    * fan-out — see [[refine]]): returns (direct non-metadata FILE names
    * of the array dir, `c.part*` child-dir names, walk units over every
    * other child dir). Staging dirs are excluded from the units — the
    * caller owns the manifest-aware staging decision (vacuum) or adds
    * them back as subtree units (stored-object counting, which counts
    * manifest part files too). */
  def planArray(
      fs: FileSystem, root: Path, array: String,
      targetUnits: Int = 0): (Seq[String], Seq[String], Seq[WalkUnit]) = {
    val dir = new Path(root, array)
    val children =
      try fs.listStatus(dir)
      catch { case _: java.io.FileNotFoundException =>
        Array.empty[org.apache.hadoop.fs.FileStatus] }
    val topFiles = children.collect {
      case st if !st.isDirectory && !metaDocNames.contains(st.getPath.getName) =>
        st.getPath.getName
    }.toSeq
    val staging = children.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("c.part") =>
        st.getPath.getName
    }.toSeq
    val units = children.toSeq
      .filter(st => st.isDirectory && !st.getPath.getName.startsWith("c.part"))
      .flatMap { st =>
        val c = st.getPath.getName
        val grandkids =
          try fs.listStatus(st.getPath)
          catch { case _: java.io.FileNotFoundException =>
            Array.empty[org.apache.hadoop.fs.FileStatus] }
        WalkUnit(array, c, subtree = false) +: grandkids.collect {
          case g if g.isDirectory =>
            WalkUnit(array, s"$c/${g.getPath.getName}", subtree = true)
        }.toSeq
      }
    val fanned =
      if (targetUnits > 0 && units.size < targetUnits)
        refine(fs, dir, array, units, targetUnits)
      else units
    (topFiles, staging, fanned)
  }

  /** Count the unit's stored files (metadata-document names excluded at
    * any depth — the [[ZarrStore.countStoredChunkObjects]] contract). */
  def countUnit(root: String, pairs: Seq[(String, String)], u: WalkUnit): Long = {
    val (fs, rp) = openFs(root, pairs)
    val base = new Path(new Path(rp, u.array), u.rel)
    var n = 0L
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (!metaDocNames.contains(st.getPath.getName)) n += 1
    }
    try {
      if (u.subtree) walk(base)
      else fs.listStatus(base).foreach { st =>
        if (!st.isDirectory && !metaDocNames.contains(st.getPath.getName)) n += 1
      }
    } catch { case _: java.io.FileNotFoundException => () }
    n
  }

  /** Stream the `_stats/` sidecar listing and reduce it to the
    * dashboard's counts: (raw segment docs, live segments, inner docs,
    * covered chunks). One implementation, two schedulers
    * ([[graft.zarr.ZarrInfo.describeStats]]): inline on the driver for
    * small stores, or as the single task of a Spark job when the
    * LISTING itself is the cost (10⁶+ segments pre-compaction) — the
    * paginated requests and the O(segments) name materialization then
    * live in an executor, and only four longs return to the driver.
    * The live rule is [[ZarrStore.liveSegments]] — shared with sidecar
    * compaction, never a private copy. */
  def describeStatsUnit(
      root: String, pairs: Seq[(String, String)],
      numChunks: Long): (Long, Long, Long, Long) = {
    val (fs, rp) = openFs(root, pairs)
    val dir = new Path(rp, ChunkStats.dirName)
    val segs = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    var nInner = 0L
    try {
      // RemoteIterator: pages stream through a bounded buffer instead of
      // materializing every FileStatus up front (S3A lists lazily here)
      val it = fs.listStatusIterator(dir)
      while (it.hasNext) {
        val name = it.next().getPath.getName
        ChunkStats.parseSegmentName(name) match {
          case Some(p) => segs += p
          case None => if (ChunkStats.parseInnerName(name).isDefined) nInner += 1
        }
      }
    } catch { case _: java.io.FileNotFoundException => () }
    val raw = segs.sortBy(_._1).toSeq
    val live = ZarrStore.liveSegments(raw, numChunks)
    val covered = math.min(live.map(_._2.toLong).sum, numChunks)
    (raw.size.toLong, live.size.toLong, nInner, covered)
  }

  /** Validate-and-reclaim a batch of per-inner-chunk stats docs
    * (`_stats/i<ord>.json`): a doc is a PHANTOM — deleted, counted —
    * when its ordinal is past the committed grid, it is unreadable,
    * its shape/chunk/dims signature is incompatible with the store's
    * geometry under [[ChunkStats.innerDocCompatible]] (a smaller
    * LEADING extent is compatible: docs survive dim-0 appends by
    * design), or EVERY recorded column fails the reader's
    * length/mtime/etag freshness rule against one live HEAD — object
    * mtimes only move forward, so an all-stale doc is PERMANENTLY
    * declined by every reader and is dead weight each scan re-HEADs
    * forever. A doc with ANY fresh column stays live (the reader still
    * uses that column's bounds). One visitor for both schedulers
    * (driver loop and the distributed vacuum job): names are
    * driver-LISTed once, but the per-doc GET+parse+HEAD is the
    * O(shards) cost this shards out. */
  def vacuumInnerDocsUnit(
      root: String, pairs: Seq[(String, String)], ords: Seq[Long],
      metaJsons: Seq[(String, String)],
      manifestParts: Vector[(Long, String, Int)]): Long = {
    val store = ZarrStore(root, pairs)
    val ms = metaJsons.map { case (nm, j) => ZarrMeta.parse(nm, j) }
    val g = ScanGeometry.resolve(ms)
    val mani = ChunkManifest(manifestParts)
    val ztOf: String => Option[ZarrType] =
      n => ms.find(_.name == n).map(_.dataType)
    val byName: Map[String, ZarrArrayMeta] = ms.map(m => m.name -> m).toMap
    val numChunks = g.numChunks
    var reclaimed = 0L
    ords.foreach { ord =>
      val live = ord < numChunks &&
        (store.readText(ChunkStats.innerKey(ord)) match {
          // the READER's acceptance rule, verbatim (innerDocCompatible
          // + the per-column freshness guard): vacuum must never
          // reclaim a doc a scan would still trust — in particular
          // docs with a SMALLER leading extent, which stay live across
          // dim-0 appends by design
          case Some(doc) => ChunkStats.parseInner(doc, ztOf)
            .exists(d => ChunkStats.innerDocCompatible(d,
              g.targetShape.toSeq, g.targetChunk.toSeq, g.dimIdentity) &&
              (d.cols.isEmpty || d.cols.exists { case (name, cs) =>
                // the reader's freshness rule (ONE shared definition)
                byName.get(name).exists(m => cs.freshAgainst(store.objectStat(
                  m.name, mani.chunkKeyOf(DataCol(m), g.chunkIndex(ord), ord))))
              }))
          case None => false
        })
      // count only CONFIRMED deletions (the vacuumUnit discipline)
      if (!live && store.deleteKey(ChunkStats.innerKey(ord))) reclaimed += 1
    }
    reclaimed
  }

  /** Validate-and-reclaim a batch of stats SEGMENTS: a segment is a
    * PHANTOM — deleted, counted — when its range reaches past the
    * committed grid, it is unreadable, or its grid signature is
    * incompatible under [[ChunkStats.gridCompatibleWith]]. The segment
    * twin of [[vacuumInnerDocsUnit]]: segment counts scale with WRITE
    * TASKS (a long-lived micro-batch ingest can hold 10^5), and the
    * measured driver pass at that count is ~7 s of pure CPU locally —
    * at object-store latency the per-segment GET serializes into
    * minutes, so the same one-visitor-both-schedulers shape applies. */
  def vacuumSegmentsUnit(
      root: String, pairs: Seq[(String, String)], segs: Seq[(Long, Int)],
      numChunks: Long, ndim: Int, gridShape: Seq[Int], dims: Seq[String],
      colTypes: Map[String, String]): Long = {
    val store = ZarrStore(root, pairs)
    val ztOf: String => Option[ZarrType] =
      n => colTypes.get(n).map(ZarrType.fromName)
    var reclaimed = 0L
    segs.foreach { case (first, n) =>
      val key = ChunkStats.segmentKey(first, n)
      val bad =
        if (first < 0 || first + n > numChunks) true
        else store.readText(key) match {
          case Some(doc) =>
            try !ChunkStats.gridCompatibleWith(
              ChunkStats.parse(first, n, doc, ztOf), ndim, gridShape, dims)
            catch { case _: Exception => true } // unreadable: describes nothing
          case None => false
        }
      // count only CONFIRMED deletions (the vacuumUnit discipline)
      if (bad && store.deleteKey(key)) reclaimed += 1
    }
    reclaimed
  }

  /** Coverage-validate a batch of per-inner-chunk stats docs for
    * INCREMENTAL analyze. Name-presence is NOT coverage: a
    * signature-incompatible or guard-stale doc keeps masking silently
    * declined on its shard while the run reports success — exactly the
    * degradation the sweep exists to repair. An ordinal COVERS iff a
    * full analyze of it would produce nothing better:
    *  - the doc parses and is [[ChunkStats.innerDocCompatible]] with the
    *    store's live geometry;
    *  - EVERY currently-sharded non-binary data column has an entry
    *    whose inner shape matches the live sharding spec (with the
    *    expected per-inner bound count), and whose recorded object
    *    length/mtime match one live HEAD under the READER's exact rule
    *    (recorded len < 0 requires live absence; mt < 0 degrades to
    *    length-only — legacy docs, matching what the reader will
    *    actually accept).
    * Non-covering docs are DELETED — re-analysis of the uncovered range
    * re-emits them fresh (same retire-then-rewrite discipline as the
    * append's edge window). Returns the covering ordinals. Metas ride
    * as (name, sourceJson) pairs and the 1-D manifest as raw parts so
    * the unit is a plain-strings task closure, like every walk unit;
    * one visitor serves both schedulers (driver loop ≤ the inline
    * threshold, Spark job above), so results cannot drift. */
  def analyzeDocsUnit(
      root: String, pairs: Seq[(String, String)], ords: Seq[Long],
      metaJsons: Seq[(String, String)],
      manifestParts: Vector[(Long, String, Int)]): Seq[Long] = {
    val store = ZarrStore(root, pairs)
    val ms = metaJsons.map { case (nm, j) => ZarrMeta.parse(nm, j) }
    val g = ScanGeometry.resolve(ms)
    val mani = ChunkManifest(manifestParts)
    val ztOf: String => Option[ZarrType] =
      n => ms.find(_.name == n).map(_.dataType)
    val roleOf: Map[String, ColumnRole] = ms.map(_.name).zip(g.roles).toMap
    // the columns a fresh analyze of a covered ordinal would record
    val statCols = ms.filter(m => roleOf(m.name) match {
      case DataCol(_) => m.shardingSpec.isDefined && m.dataType != ZarrType.Bytes
      case _ => false
    })
    val numChunks = g.numChunks
    val covered = Seq.newBuilder[Long]
    ords.foreach { ord =>
      val ok = ord >= 0 && ord < numChunks &&
        (store.readText(ChunkStats.innerKey(ord)) match {
          case Some(json) => ChunkStats.parseInner(json, ztOf).exists { d =>
            ChunkStats.innerDocCompatible(d, g.targetShape.toSeq,
              g.targetChunk.toSeq, g.dimIdentity) &&
              statCols.forall { m =>
                d.cols.get(m.name).exists { cs =>
                  val spec = m.shardingSpec.get
                  val inner = spec.innerShape.toArray
                  // expected bound count under the live spec (the
                  // reader's nInner); non-dividing specs cannot occur
                  // in a readable store, but degrade to shape-only
                  val nInner =
                    if (inner.exists(i => i <= 0) || g.targetChunk.zip(inner)
                      .exists { case (c, i) => c % i != 0 }) -1
                    else g.targetChunk.zip(inner).map { case (c, i) => c / i }.product
                  cs.inner.sameElements(inner) &&
                    (nInner < 0 || cs.mins.length == nInner) &&
                    // the reader's freshness rule (ONE shared
                    // definition, one HEAD through the scan's own key
                    // resolution)
                    cs.freshAgainst(store.objectStat(m.name,
                      mani.chunkKeyOf(DataCol(m), g.chunkIndex(ord), ord)))
                }
              }
          }
          case None => false
        })
      if (ok) covered += ord
      else store.deleteKey(ChunkStats.innerKey(ord)): Unit
    }
    covered.result()
  }

  /** Coverage-validate a batch of stats SEGMENTS for INCREMENTAL
    * analyze: `presumed` carries the driver's LIST-derived verdict
    * (unsuppressed, range inside the grid, every ordinal's inner doc
    * covering — all decidable from listings + the doc sweep, no GET).
    * A presumed-live segment covers iff its document GETs, parses and
    * is grid-compatible; everything else is DELETED up front — an
    * invalid segment proves nothing and, left in place, would
    * overlap-suppress the fresh segments re-analysis writes over its
    * range. Returns the covered `[first, end)` ranges. The segment twin
    * of [[analyzeDocsUnit]] and the analyze-side twin of
    * [[vacuumSegmentsUnit]]: segment counts scale with WRITE TASKS
    * (10^5 for a long-lived micro-batch ingest), where a driver-serial
    * GET-per-segment sweep is minutes at object-store latency. */
  def analyzeSegmentsUnit(
      root: String, pairs: Seq[(String, String)],
      segs: Seq[(Long, Int, Boolean)], ndim: Int, gridShape: Seq[Int],
      dims: Seq[String], colTypes: Map[String, String]): Seq[(Long, Long)] = {
    val store = ZarrStore(root, pairs)
    val ztOf: String => Option[ZarrType] =
      n => colTypes.get(n).map(ZarrType.fromName)
    val covered = Seq.newBuilder[(Long, Long)]
    segs.foreach { case (first, n, presumed) =>
      val ok = presumed && (store.readText(ChunkStats.segmentKey(first, n)) match {
        case Some(doc) =>
          try ChunkStats.gridCompatibleWith(
            ChunkStats.parse(first, n, doc, ztOf), ndim, gridShape, dims)
          catch { case _: Exception => false }
        case None => false
      })
      if (ok) covered += ((first, first + n))
      else store.deleteKey(ChunkStats.segmentKey(first, n)): Unit
    }
    covered.result()
  }

  /** Merge a batch of segment GROUPS for sidecar compaction: each group
    * is a contiguous run of committed segments to be rewritten as ONE
    * document. A group is merged only when EVERY source GETs, parses
    * and is grid-compatible — anything else skips the whole group
    * untouched (a compaction must never destroy information; junk is
    * incremental analyze's and vacuum's job). Returns the keys of the
    * source documents each successful merge superseded — the caller
    * deletes them only after ALL merged documents are committed, so a
    * crash mid-compaction leaves overlap-suppressed (degraded, never
    * wrong) coverage that the next incremental analyze heals. */
  def compactStatsUnit(
      root: String, pairs: Seq[(String, String)],
      groups: Seq[Seq[(Long, Int)]], ndim: Int, gridShape: Seq[Int],
      dims: Seq[String], colTypes: Map[String, String]): Seq[String] = {
    val store = ZarrStore(root, pairs)
    val ztOf: String => Option[ZarrType] =
      n => colTypes.get(n).map(ZarrType.fromName)
    val superseded = Seq.newBuilder[String]
    // skipped groups are EXPECTED to be rare and must not be silent: a
    // persistently failing store (permissions, disk-full) would
    // otherwise fragment forever behind a compaction that "succeeds" —
    // one bounded stderr line per unit keeps the signal without a
    // per-group log flood at the 10^5-segment scale
    var skipped = 0
    var lastSkip: String = ""
    groups.foreach { group =>
      val first = group.head._1
      val total = group.map(_._2).sum
      val parsed: Option[Seq[ChunkStats.Segment]] =
        try {
          val ss = group.map { case (f, n) =>
            val doc = store.readText(ChunkStats.segmentKey(f, n))
              .getOrElse(throw new ZarrException(s"segment s${f}_$n vanished"))
            val s = ChunkStats.parse(f, n, doc, ztOf)
            if (!ChunkStats.gridCompatibleWith(s, ndim, gridShape, dims))
              throw new ZarrException(s"segment s${f}_$n grid-incompatible")
            s
          }
          Some(ss)
        } catch { case e: Exception => // skip group untouched
          skipped += 1; lastSkip = String.valueOf(e.getMessage); None
        }
      // the merge+commit sits under its own guard too: an unexpected
      // encode error or transient write failure must skip THIS group
      // (leaving its sources untouched — the promise above) rather
      // than abort the whole compaction job with the other groups'
      // merges half-committed
      parsed.foreach { ss =>
        try {
          store.writeText(ChunkStats.segmentKey(first, total),
            ChunkStats.mergeSegments(first, total, ss, ztOf, gridShape, dims))
          // the merged doc's own key may coincide with the first source's
          // (same first, same total single-source groups are not planned,
          // so total always differs) — every SOURCE key is superseded
          superseded ++= group.map { case (f, n) => ChunkStats.segmentKey(f, n) }
        } catch { case e: Exception => // skip group untouched
          skipped += 1; lastSkip = String.valueOf(e.getMessage)
        }
      }
    }
    if (skipped > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"[zarr-compact] $skipped group(s) skipped " +
          s"unmerged under $root (sources untouched; last cause: $lastSkip)")
    superseded.result()
  }

  /** Delete the unit's orphan key-shaped files (slots outside `grid`);
    * returns how many were deleted. Never touches directories,
    * metadata documents, or non-key-shaped (foreign) files. */
  def vacuumUnit(
      root: String, pairs: Seq[(String, String)], u: WalkUnit,
      grid: Seq[Long]): Long = {
    val (fs, rp) = openFs(root, pairs)
    val base = new Path(new Path(rp, u.array), u.rel)
    var deleted = 0L
    // count only confirmed deletions: a task retry (or a false return
    // for an already-absent file) must not inflate the reclaim report —
    // deletion itself is idempotent, the COUNT is what a re-run could
    // otherwise distort
    def visitFile(p: Path, rel: String): Unit =
      if (orphaned(rel, grid) && fs.delete(p, false)) deleted += 1
    def walk(p: Path, rel: String): Unit = fs.listStatus(p).foreach { st =>
      val childRel = s"$rel/${st.getPath.getName}"
      if (st.isDirectory) walk(st.getPath, childRel)
      else visitFile(st.getPath, childRel)
    }
    try {
      if (u.subtree) walk(base, u.rel)
      else fs.listStatus(base).foreach { st =>
        if (!st.isDirectory) visitFile(st.getPath, s"${u.rel}/${st.getPath.getName}")
      }
    } catch { case _: java.io.FileNotFoundException => () }
    deleted
  }
}
