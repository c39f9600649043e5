package graft.zarr

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[ChunkPrefetcher]] — the ordered fetch window shared by the scan
  * reader, `analyze` and the hybrid aggregate scan. The contract under
  * test: items are pulled lazily on the CALLER thread, and items an
  * upstream filter drops take no window slot; results arrive in
  * SUBMISSION order regardless of completion order, at most `depth`
  * fetches are ever in flight, fetch failures surface as the original
  * exception at the failing item's `next()` (not wrapped, not
  * reordered), `hasNext` agrees with `next()` at exhaustion, and
  * close() is safe mid-range. */
class ChunkPrefetcherSpec extends AnyFunSuite {

  test("results arrive in submission order even when completions invert") {
    // later items complete FASTER (sleep decreasing with index)
    val pf = new ChunkPrefetcher[Int, Int](
      (0 until 16).iterator,
      i => { Thread.sleep(math.max(0, 8 - i).toLong); i * 10 },
      depth = 4)
    try {
      val got = (0 until 16).map(_ => pf.next())
      assert(got == (0 until 16).map(_ * 10))
    } finally pf.close()
  }

  test("at most `depth` fetches run concurrently") {
    val inFlight = new AtomicInteger(0)
    val maxSeen = new AtomicInteger(0)
    val pf = new ChunkPrefetcher[Int, Int](
      (0 until 32).iterator,
      i => {
        val now = inFlight.incrementAndGet()
        maxSeen.accumulateAndGet(now, math.max)
        Thread.sleep(2)
        inFlight.decrementAndGet()
        i
      },
      depth = 3)
    try {
      (0 until 32).foreach(i => assert(pf.next() == i))
      assert(maxSeen.get() <= 3, s"window overflowed: ${maxSeen.get()} in flight")
    } finally pf.close()
  }

  test("items are pulled lazily on the caller thread; filtered items take no slot") {
    val caller = Thread.currentThread()
    val pulled = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Thread)]()
    // the reader's stats-skip shape: an upstream filterNot. Filling the
    // window of 3 pulls 0..4 — the two dropped odd items take no slot,
    // and nothing past the third kept item is pulled yet
    val pf = new ChunkPrefetcher[Int, Int](
      (0 until 32).iterator.map { i => pulled.add((i, Thread.currentThread())); i }
        .filterNot(_ % 2 == 1),
      identity, depth = 3)
    try {
      assert(pulled.asScala.map(_._1).toSeq == (0 to 4))
      (0 until 32 by 2).foreach(i => assert(pf.next() == i))
      assert(pulled.size == 32)
      pulled.asScala.foreach { case (i, t) =>
        assert(t eq caller, s"item $i pulled on ${t.getName}")
      }
    } finally pf.close()
  }

  test("a fetch failure surfaces as the ORIGINAL exception at its item, after good ones") {
    val pf = new ChunkPrefetcher[Int, Int](
      (0 until 8).iterator,
      i => if (i == 5) throw new ZarrException("boom at 5") else i,
      depth = 4)
    try {
      (0 until 5).foreach(i => assert(pf.next() == i))
      val e = intercept[ZarrException](pf.next())
      assert(e.getMessage == "boom at 5")
    } finally pf.close()
  }

  test("exhaustion is loud; close mid-range is safe and idempotent") {
    val pf = new ChunkPrefetcher[Int, Int]((0 until 3).iterator, identity)
    assert(pf.next() == 0)
    pf.close()
    pf.close() // idempotent
    // an exact-size input, a lazy one whose tail the filter drops, and
    // one the filter empties: hasNext turns false exactly at exhaustion
    Seq(Iterator(1) -> Seq(1), Iterator(1, 2, 3).filterNot(_ > 1) -> Seq(1),
        Iterator(2, 3).filterNot(_ > 1) -> Nil).foreach { case (in, want) =>
      val pf2 = new ChunkPrefetcher[Int, Int](in, identity)
      try {
        val got = Iterator.continually(pf2).takeWhile(_.hasNext).map(_.next()).toList
        assert(got == want)
        assert(!pf2.hasNext)
        intercept[IllegalStateException](pf2.next())
      } finally pf2.close()
    }
  }
}
