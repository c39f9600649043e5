package zarrbench

import java.io.{ByteArrayOutputStream, EOFException, FileNotFoundException, IOException}
import java.net.URI
import java.util.concurrent.{ConcurrentLinkedQueue, ConcurrentSkipListMap}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, Path, PositionedReadable, Seekable}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Simulated object store (scheme `simfs`): objects live in memory, keyed
  * by absolute path; directories are key prefixes. Every request the
  * program makes through Hadoop's FileSystem API is counted the way an
  * object store bills it: an `open` is one GET (ranged when its first
  * read is positioned), a `create` one PUT visible at close, a
  * `listStatus` one LIST, a `getFileStatus` one HEAD, a `rename` one
  * copy per object moved and `delete` one request per object removed.
  * A GET pays [[SimStore.latencyMs]] before its first byte and streams
  * at most [[SimStore.bandwidthMiBps]]; writes are unthrottled. Calls the
  * FileSystem base class makes to this class are counted as the requests
  * they are (a glob is its LISTs). */
class SimStoreFs extends FileSystem {
  import SimStore._

  private var wd = new Path("/")
  override def getScheme: String = "simfs"
  override def getUri: URI = URI.create("simfs:///")
  override def getWorkingDirectory: Path = wd
  override def setWorkingDirectory(p: Path): Unit = wd = p

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val t0 = System.nanoTime()
    val ms = latencyMs
    if (ms > 0) Thread.sleep(ms.toLong)
    val k = key(f)
    c.gets.incrementAndGet()
    val o = objects.get(k)
    if (o == null) {
      c.absentGets.incrementAndGet()
      c.getBusyNs.addAndGet(System.nanoTime() - t0)
      throw new FileNotFoundException(k)
    }
    val kind = kindOf(k)
    kind match {
      case Meta => c.metaGets.incrementAndGet()
      case Stats => c.statsGets.incrementAndGet()
      case _ => c.chunkGets.incrementAndGet()
    }
    new FSDataInputStream(new GetStream(o.bytes, t0, kind, arrayOf(k)))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val k = key(f)
    if (!overwrite && objects.containsKey(k)) throw new FileAlreadyExistsException(k)
    if (isDir(k)) throw new FileAlreadyExistsException(s"$k is a directory")
    c.puts.incrementAndGet()
    new FSDataOutputStream(new PutStream(k, System.nanoTime()), null)
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new IOException("simfs objects are immutable")

  override def rename(src: Path, dst: Path): Boolean = {
    val s = key(src)
    val d0 = key(dst)
    val d = if (isDir(d0)) d0 + "/" + src.getName else d0
    if (objects.containsKey(s)) {
      if (objects.containsKey(d) || s == d) return false
      c.renames.incrementAndGet()
      objects.put(d, objects.remove(s))
      true
    } else if (isDir(s)) {
      if (objects.containsKey(d) || isDir(d) || d.startsWith(s + "/")) return false
      under(s).foreach { case (k, o) =>
        c.renames.incrementAndGet()
        objects.put(d + k.substring(s.length), o); objects.remove(k)
      }
      dirsUnder(s).foreach { k => dirs.remove(k); dirs.add(d + k.substring(s.length)) }
      dirs.remove(s)
      dirs.add(d)
      true
    } else false
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val k = key(f)
    if (objects.remove(k) != null) { c.deletes.incrementAndGet(); true }
    else if (isDir(k)) {
      val gone = under(k)
      if (gone.nonEmpty && !recursive) throw new IOException(s"$k is not empty")
      gone.foreach { case (kk, _) => if (objects.remove(kk) != null) c.deletes.incrementAndGet() }
      dirsUnder(k).foreach(dirs.remove)
      dirs.remove(k)
      true
    } else false
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    c.lists.incrementAndGet()
    val k = key(f)
    val o = objects.get(k)
    if (o != null) Array(status(k, o))
    else if (!isDir(k)) throw new FileNotFoundException(k)
    else {
      val prefix = if (k == "/") "/" else k + "/"
      val children = new java.util.TreeMap[String, FileStatus]()
      def child(full: String): String = {
        val rest = full.substring(prefix.length)
        val slash = rest.indexOf('/')
        if (slash < 0) null else prefix + rest.substring(0, slash)
      }
      objects.subMap(prefix, prefix + Char.MaxValue).asScala.foreach { case (kk, oo) =>
        val sub = child(kk)
        if (sub == null) children.put(kk, status(kk, oo))
        else children.putIfAbsent(sub, dirStatus(sub))
      }
      dirs.subSet(prefix, prefix + Char.MaxValue).asScala.foreach { kk =>
        val sub = child(kk + "/")
        children.putIfAbsent(sub, dirStatus(sub))
      }
      children.values.asScala.toArray
    }
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    var k = key(f)
    if (objects.containsKey(k)) throw new FileAlreadyExistsException(s"$k is an object")
    while (k != "/" && k.nonEmpty) { dirs.add(k); k = k.substring(0, k.lastIndexOf('/')) }
    true
  }

  override def getFileStatus(f: Path): FileStatus = {
    c.heads.incrementAndGet()
    val k = key(f)
    val o = objects.get(k)
    if (o != null) status(k, o)
    else if (isDir(k)) dirStatus(k)
    else throw new FileNotFoundException(k)
  }

  private def key(f: Path): String = {
    val p = if (f.isAbsolute) f else new Path(wd, f)
    val s = p.toUri.getPath
    if (s.length > 1 && s.endsWith("/")) s.dropRight(1) else s
  }
  private def qualified(k: String) = new Path(getUri.getScheme, null, k)
  private def status(k: String, o: Obj) =
    new FileStatus(o.bytes.length.toLong, false, 1, 1L << 26, o.mtime, qualified(k))
  private def dirStatus(k: String) = new FileStatus(0L, true, 1, 0L, 0L, qualified(k))
}

object SimStore {
  final case class Obj(bytes: Array[Byte], mtime: Long)
  /** The store's objects by absolute key. */
  val objects = new ConcurrentSkipListMap[String, Obj]()
  /** Directories made by mkdirs or rename, which may hold no object. */
  private[zarrbench] val dirs = new java.util.concurrent.ConcurrentSkipListSet[String]()
  private val clock = new AtomicLong(1700000000000L)

  private[zarrbench] def isDir(k: String): Boolean =
    k == "/" || dirs.contains(k) || {
      val n = objects.ceilingKey(k + "/")
      n != null && n.startsWith(k + "/")
    }
  private[zarrbench] def under(k: String): Seq[(String, Obj)] =
    objects.subMap(k + "/", k + "/" + Char.MaxValue).asScala.toSeq
  private[zarrbench] def dirsUnder(k: String): Seq[String] =
    dirs.subSet(k + "/", k + "/" + Char.MaxValue).asScala.toSeq

  /** Writes an object directly, bypassing the counters (input generation). */
  def put(k: String, bytes: Array[Byte]): Unit = objects.put(k, Obj(bytes, clock.incrementAndGet()))
  /** Bytes stored under the prefix `k`. */
  def bytesUnder(k: String): Long = under(k).map(_._2.bytes.length.toLong).sum
  def deleteUnder(k: String): Unit = {
    under(k).foreach(o => objects.remove(o._1))
    dirsUnder(k).foreach(dirs.remove)
    dirs.remove(k)
  }

  /** Exact request counters. */
  final class Counters {
    val gets, rangedGets, absentGets, metaGets, statsGets, chunkGets, getBytes, getBusyNs,
      puts, putBytes, putBusyNs, lists, heads, renames, deletes = new AtomicLong
    private def all = Seq(gets, rangedGets, absentGets, metaGets, statsGets, chunkGets, getBytes,
      getBusyNs, puts, putBytes, putBusyNs, lists, heads, renames, deletes)
    def snapshot: Snap = Snap(all.map(_.get).toVector)
  }
  /** Counter values in [[Counters]] field order. */
  final case class Snap(v: Vector[Long]) {
    def -(o: Snap): Snap = Snap(v.zip(o.v).map { case (a, b) => a - b })
    def +(o: Snap): Snap = Snap(v.zip(o.v).map { case (a, b) => a + b })
    def gets = v(0); def rangedGets = v(1); def absentGets = v(2); def metaGets = v(3)
    def statsGets = v(4); def chunkGets = v(5); def getBytes = v(6); def getBusyNs = v(7)
    def puts = v(8); def putBytes = v(9); def putBusyNs = v(10); def lists = v(11)
    def heads = v(12); def renames = v(13); def deletes = v(14)
    /** Every billed request. */
    def requests: Long = gets + puts + lists + heads + renames + deletes
  }
  object Snap { val zero: Snap = Snap(Vector.fill(15)(0L)) }

  val c = new Counters
  @volatile var latencyMs = 0
  @volatile var bandwidthMiBps = 0

  /** One GET or PUT as seen by the store: the array of a chunk object
    * ("" otherwise), task attempt id (-1 off a task thread), the
    * benchmark operation it served, its interval and bytes. */
  final case class Span(kind: String, array: String, task: Long, op: Long, startNs: Long, endNs: Long,
      bytes: Long)
  @volatile var tracing = false
  @volatile var currentOp = -1L
  val spans = new ConcurrentLinkedQueue[Span]()

  val Chunk = 0
  val Meta = 1
  val Stats = 2
  def kindOf(k: String): Int = {
    val name = k.substring(k.lastIndexOf('/') + 1)
    if (name == "zarr.json" || name.startsWith(".z")) Meta
    else if (k.contains("/_stats/")) Stats
    else Chunk
  }
  /** The array of a chunk object key: the component before `/c/`. */
  def arrayOf(k: String): String = {
    val i = k.indexOf("/c/")
    if (i < 0) "" else k.substring(k.lastIndexOf('/', i - 1) + 1, i)
  }

  /** Task attempt id of the running task, inherited by the threads a task
    * thread starts (a reader's prefetch pool), so their GETs are tied to
    * the task too. Set and cleared by [[TaskTagPlugin]]. */
  private[zarrbench] val inheritedTask = new InheritableThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = -1L
  }

  private def taskId: Long = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) tc.taskAttemptId() else inheritedTask.get().longValue
  }

  /** GET body: counts bytes, applies the bandwidth cap in ≥1 ms sleeps,
    * marks the GET ranged on a positioned first read, and ends the GET's
    * busy interval at close. */
  private[zarrbench] final class GetStream(data: Array[Byte], t0: Long, kind: Int, array: String)
      extends java.io.InputStream with Seekable with PositionedReadable {
    private val task = taskId
    private var pos = 0
    private var first = true
    private var bytes = 0L
    private var owedNs = 0.0
    private var closed = false

    private def got(n: Int, positioned: Boolean): Unit = {
      if (first && positioned) c.rangedGets.incrementAndGet()
      first = false
      if (n > 0) {
        bytes += n
        val bw = bandwidthMiBps
        if (bw > 0) {
          owedNs += n * 1e9 / (bw * 1048576.0)
          if (owedNs >= 1e6) {
            val ms = (owedNs / 1e6).toLong
            owedNs -= ms * 1e6
            Thread.sleep(ms)
          }
        }
      }
    }
    override def read(): Int =
      if (pos >= data.length) -1 else { val b = data(pos) & 0xff; pos += 1; got(1, false); b }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0
      else if (pos >= data.length) -1
      else {
        val n = math.min(len, data.length - pos)
        System.arraycopy(data, pos, b, off, n); pos += n; got(n, false); n
      }
    override def read(at: Long, b: Array[Byte], off: Int, len: Int): Int =
      if (at >= data.length) -1
      else {
        val n = math.min(len.toLong, data.length - at).toInt
        System.arraycopy(data, at.toInt, b, off, n); got(n, true); n
      }
    override def readFully(at: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      if (at < 0 || at + len > data.length) throw new EOFException(s"range $at+$len of ${data.length}")
      System.arraycopy(data, at.toInt, b, off, len); got(len, true)
    }
    override def readFully(at: Long, b: Array[Byte]): Unit = readFully(at, b, 0, b.length)
    override def seek(p: Long): Unit = {
      if (p < 0 || p > data.length) throw new EOFException(s"seek $p of ${data.length}")
      pos = p.toInt
    }
    override def getPos: Long = pos
    override def seekToNewSource(p: Long): Boolean = false
    override def available(): Int = data.length - pos
    override def close(): Unit = if (!closed) {
      closed = true
      c.getBytes.addAndGet(bytes)
      c.getBusyNs.addAndGet(System.nanoTime() - t0)
      if (tracing) spans.add(Span(if (kind == Chunk) "get" else "get_meta", array, task, currentOp, t0,
        System.nanoTime(), bytes))
    }
  }

  private[zarrbench] final class PutStream(k: String, t0: Long) extends java.io.OutputStream {
    private val buf = new ByteArrayOutputStream()
    private var closed = false
    override def write(b: Int): Unit = buf.write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = buf.write(b, off, len)
    override def close(): Unit = if (!closed) {
      closed = true
      val bytes = buf.toByteArray
      put(k, bytes)
      c.putBytes.addAndGet(bytes.length.toLong)
      c.putBusyNs.addAndGet(System.nanoTime() - t0)
      if (tracing) spans.add(Span("put", arrayOf(k), taskId, currentOp, t0, System.nanoTime(),
        bytes.length.toLong))
    }
  }
}
