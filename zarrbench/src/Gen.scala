package zarrbench

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest

/** Seeded input generator. Stores are put straight into the simulated
  * object store ([[SimStore.put]], uncounted) as Zarr v3 documents and
  * blosc-lz4 chunk frames built here with lz4-java, never through the program's writer or codecs: the inputs of the read
  * workloads stay byte-identical when those change, and set-up stays in
  * seconds (the program's array writer needs minutes for the 32,768
  * objects of the reference store).
  *
  * Every value is an integer or a multiple of 1/16 small enough that any
  * summation order is exact, so expected sums are closed-form. */
object Gen {

  /** A generated store: its root key, a content checksum over every
    * object in write order, and the logical and stored sizes. */
  final case class Store(root: String, checksum: String, objects: Int,
      storedBytes: Long, rawBytes: Long)

  private final class Writer(root: String) {
    private val md = MessageDigest.getInstance("SHA-256")
    var objects = 0
    var bytes = 0L
    def put(key: String, data: Array[Byte]): Unit = {
      SimStore.put(s"$root/$key", data)
      md.update(key.getBytes("UTF-8")); md.update(0.toByte); md.update(data)
      objects += 1; bytes += data.length
    }
    def putText(key: String, s: String): Unit = put(key, s.getBytes("UTF-8"))
    def done(raw: Long): Store = Store(root, md.digest().take(8).map(b => f"$b%02x").mkString,
      objects, bytes, raw)
  }

  // ---- blosc (c-blosc v1 frame, lz4, byte shuffle, one stream per block) ----

  private val lz4 = net.jpountz.lz4.LZ4Factory.fastestJavaInstance().fastCompressor()
  private val BlockSize = 256 * 1024

  def blosc(raw: Array[Byte], typesize: Int): Array[Byte] = {
    val n = raw.length
    val bs = math.min(n, BlockSize)
    val nblocks = (n + bs - 1) / bs
    val blocks = Array.tabulate(nblocks) { b =>
      val off = b * bs
      val len = math.min(bs, n - off)
      val sh = new Array[Byte](len)
      val elems = len / typesize
      var i = 0
      while (i < elems) {
        var k = 0
        while (k < typesize) { sh(k * elems + i) = raw(off + i * typesize + k); k += 1 }
        i += 1
      }
      val out = new Array[Byte](lz4.maxCompressedLength(len))
      val m = lz4.compress(sh, 0, len, out, 0)
      if (m >= len) sh else java.util.Arrays.copyOf(out, m)
    }
    val header = 16 + 4 * nblocks
    val cbytes = header + blocks.map(_.length + 4).sum
    val bb = ByteBuffer.allocate(cbytes).order(ByteOrder.LITTLE_ENDIAN)
    // version 2, lz-version 1, flags: shuffle | dont-split | lz4 compressor
    bb.put(2.toByte).put(1.toByte).put((0x1 | 0x10 | (1 << 5)).toByte).put(typesize.toByte)
      .putInt(n).putInt(bs).putInt(cbytes)
    var pos = header
    blocks.foreach { b => bb.putInt(pos); pos += 4 + b.length }
    blocks.foreach { b => bb.putInt(b.length); bb.put(b) }
    bb.array()
  }

  private val bloscJson =
    """{"name":"blosc","configuration":{"cname":"lz4","clevel":5,"shuffle":"shuffle","typesize":8,"blocksize":0}}"""
  private val bytesJson = """{"name":"bytes","configuration":{"endian":"little"}}"""

  def arrayMeta(dtype: String, shape: Seq[Long], chunk: Seq[Int], dims: Seq[String],
      fill: String, inner: Option[Seq[Int]] = None): String = {
    val codecs = inner match {
      case None => s"$bytesJson,$bloscJson"
      case Some(in) =>
        s"""{"name":"sharding_indexed","configuration":{"chunk_shape":[${in.mkString(",")}],""" +
          s""""codecs":[$bytesJson,$bloscJson],""" +
          s""""index_codecs":[$bytesJson,{"name":"crc32c"}],"index_location":"end"}}"""
    }
    s"""{"zarr_format":3,"node_type":"array","shape":[${shape.mkString(",")}],""" +
      s""""data_type":"$dtype","chunk_grid":{"name":"regular","configuration":""" +
      s"""{"chunk_shape":[${chunk.mkString(",")}]}},"chunk_key_encoding":{"name":"default",""" +
      s""""configuration":{"separator":"/"}},"fill_value":$fill,"codecs":[$codecs],""" +
      s""""dimension_names":[${dims.map("\"" + _ + "\"").mkString(",")}]}"""
  }

  private val groupJson = """{"zarr_format":3,"node_type":"group"}"""

  private def le(n: Int): ByteBuffer = ByteBuffer.allocate(n * 8).order(ByteOrder.LITTLE_ENDIAN)

  /** Shard object: inner chunks in row-major inner-grid order, then the
    * (offset, nbytes) index and its crc32c. */
  private def shard(inners: Seq[Array[Byte]]): Array[Byte] = {
    val body = inners.map(_.length).sum
    val idx = ByteBuffer.allocate(16 * inners.size).order(ByteOrder.LITTLE_ENDIAN)
    var off = 0L
    inners.foreach { b => idx.putLong(off).putLong(b.length.toLong); off += b.length }
    val crc = new java.util.zip.CRC32C()
    crc.update(idx.array())
    val out = ByteBuffer.allocate(body + idx.capacity + 4).order(ByteOrder.LITTLE_ENDIAN)
    inners.foreach(out.put)
    out.put(idx.array()).putInt(crc.getValue.toInt)
    out.array()
  }

  // ---- the reference store: var1..var8, 512×512 int64 in 8×8 chunks ----

  val RefSide = 512
  val RefChunk = 8
  val RefCells: Long = RefSide.toLong * RefSide

  /** Offset of array `k` (1-based): each array is the row-major ramp of
    * the reference rotated by a seeded offset, so every array is a
    * permutation of 0 until 512·512 and compresses like the reference. */
  def refOffset(seed: Long, k: Int): Long = Math.floorMod(mix(seed * 31 + k), RefCells)

  def refValue(seed: Long, k: Int, i: Int, j: Int): Long =
    (i.toLong * RefSide + j + refOffset(seed, k)) % RefCells

  def refStore(root: String, seed: Long): Store = {
    val w = new Writer(root)
    w.putText("zarr.json", groupJson)
    val g = RefSide / RefChunk
    for (k <- 1 to 8) {
      w.putText(s"var$k/zarr.json", arrayMeta("int64", Seq(RefSide, RefSide),
        Seq(RefChunk, RefChunk), Seq("x", "y"), "0"))
      val buf = le(RefChunk * RefChunk)
      for (ci <- 0 until g; cj <- 0 until g) {
        buf.clear()
        for (i <- 0 until RefChunk; j <- 0 until RefChunk)
          buf.putLong(refValue(seed, k, ci * RefChunk + i, cj * RefChunk + j))
        w.put(s"var$k/c/$ci/$cj", blosc(buf.array(), 8))
      }
    }
    w.done(8 * RefCells * 8)
  }

  // ---- climate cubes: temp[time, lat, lon] float64 with 1-D coords ----

  /** Cube shape, chunking and optional shard shape (chunk = inner chunk
    * when sharded). */
  final case class Cube(nt: Int, ny: Int, nx: Int, ct: Int, cy: Int, cx: Int,
      shard: Option[(Int, Int, Int)] = None) {
    def cells: Long = nt.toLong * ny * nx
  }

  val T0 = 19000L // time coordinate: days since epoch
  def lat(i: Int): Double = -64.0 + i * 0.5
  def lon(j: Int): Double = -128.0 + j * 0.5

  /** temp in sixteenths: a smooth field plus seeded noise in [0, 64), so
    * the low mantissa bytes are zero and lz4 finds realistic matches. */
  def tempK(seed: Long, t: Long, i: Int, j: Int): Long =
    2048L + (t % 24) * 8 + i / 4 + j / 8 + (mix(seed ^ (t * 1000003L + i * 7919L + j)) & 63L)
  def temp(seed: Long, t: Long, i: Int, j: Int): Double = tempK(seed, t, i, j) / 16.0

  /** Sum of tempK over times [t0, t1) and the index box (inclusive). */
  def sumK(seed: Long, c: Cube, t0: Long, t1: Long, i0: Int = 0, i1: Int = -1,
      j0: Int = 0, j1: Int = -1): Long = {
    val ie = if (i1 < 0) c.ny - 1 else i1
    val je = if (j1 < 0) c.nx - 1 else j1
    var s = 0L
    var t = t0
    while (t < t1) {
      var i = i0
      while (i <= ie) { var j = j0; while (j <= je) { s += tempK(seed, t, i, j); j += 1 }; i += 1 }
      t += 1
    }
    s
  }

  def cubeStore(root: String, seed: Long, c: Cube): Store = {
    val w = new Writer(root)
    w.putText("zarr.json", groupJson)
    val (st, sy, sx) = c.shard.getOrElse((c.ct, c.cy, c.cx))
    val inner = c.shard.map(_ => Seq(c.ct, c.cy, c.cx))
    def coord(name: String, dtype: String, n: Int, ch: Int, put: (ByteBuffer, Int) => Unit): Unit = {
      w.putText(s"$name/zarr.json", arrayMeta(dtype, Seq(n), Seq(ch), Seq(name), "0"))
      for (b <- 0 until n / ch) {
        val buf = le(ch)
        for (k <- 0 until ch) put(buf, b * ch + k)
        w.put(s"$name/c/$b", blosc(buf.array(), 8))
      }
    }
    w.putText("temp/zarr.json", arrayMeta("float64", Seq(c.nt, c.ny, c.nx),
      Seq(st, sy, sx), Seq("time", "lat", "lon"), "0.0", inner))
    val buf = le(c.ct * c.cy * c.cx)
    def innerChunk(ti: Int, yi: Int, xi: Int): Array[Byte] = {
      buf.clear()
      for (t <- 0 until c.ct; i <- 0 until c.cy; j <- 0 until c.cx)
        buf.putDouble(temp(seed, ti * c.ct + t, yi * c.cy + i, xi * c.cx + j))
      blosc(buf.array(), 8)
    }
    for (a <- 0 until c.nt / st; b <- 0 until c.ny / sy; d <- 0 until c.nx / sx) {
      val obj =
        if (c.shard.isEmpty) innerChunk(a, b, d)
        else shard(for (ta <- 0 until st / c.ct; yb <- 0 until sy / c.cy; xd <- 0 until sx / c.cx)
          yield innerChunk(a * (st / c.ct) + ta, b * (sy / c.cy) + yb, d * (sx / c.cx) + xd))
      w.put(s"temp/c/$a/$b/$d", obj)
    }
    coord("time", "int64", c.nt, st, (bb, t) => bb.putLong(T0 + t))
    coord("lat", "float64", c.ny, sy, (bb, i) => bb.putDouble(lat(i)))
    coord("lon", "float64", c.nx, sx, (bb, j) => bb.putDouble(lon(j)))
    w.done(c.cells * 8)
  }

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}
