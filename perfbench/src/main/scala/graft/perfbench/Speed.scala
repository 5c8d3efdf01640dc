package graft.perfbench

import scala.collection.mutable

/** The machine's current speed, sampled between calls.
  *
  * On a shared host the same fixed loop takes up to twice as long in a busy
  * minute as in a quiet one (steal, and neighbours on the same physical
  * cores). `probe` runs a fixed chunk of integer and cache work a few times
  * and records each chunk's wall time. It runs only while the benchmark is
  * otherwise idle (after a call and its release), so the benchmark's own
  * load does not slow it. `run.py` scales every time by a reference chunk time
  * over this run's chunk time, which turns it into time at a fixed
  * reference speed.
  */
object Speed {
  private val buf = new Array[Int](1 << 16) // 256 KB: fits L2, misses L1
  private val samples = mutable.ArrayBuffer.empty[Long]
  @volatile private var sink = 0L

  private def chunk(): Long = {
    var x = 0x9E3779B9L
    var s = 0L
    var i = 0
    while (i < 200000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      val j = (x & 0xFFFF).toInt
      buf(j) += i
      s += buf(j ^ 0x5A5A)
      i += 1
    }
    s
  }

  /** Runs `n` chunks, records their wall times in ns when `record`, and
    * returns the seconds spent, so callers can leave it out of their own
    * timings. */
  def probe(n: Int = 32, record: Boolean = true): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) {
      val c0 = System.nanoTime()
      sink += chunk()
      val ns = System.nanoTime() - c0
      if (record) samples += ns
      i += 1
    }
    (System.nanoTime() - t0) / 1e9
  }

  def recorded: Seq[Long] = samples.toSeq
}

