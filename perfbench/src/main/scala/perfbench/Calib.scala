package perfbench

import java.nio.charset.StandardCharsets.US_ASCII

/** A fixed reference workload of the benchmark's own, timed between the
  * workload's calls to gauge how fast the host runs at that moment. It does
  * the kinds of work the extraction does (scan bytes into words, count them
  * in a hash map larger than the caches, sort, evaluate a Gaussian density
  * with `exp`) on as many
  * threads as the session has slots, on inputs that never change, and no
  * program code runs in it. So a change to the program cannot move it, and
  * a change of host speed moves it and the program alike. */
object Calib {
  private val UnitsPerThread = 8

  /** One unit of reference work; returns a checksum so the JIT keeps it. */
  def unit(seed: Int): Long = {
    val rnd = new java.util.SplittableRandom(seed)
    val bytes = Array.fill[Byte](512 * 1024)(
      if (rnd.nextInt(6) == 0) ' '.toByte else ('a' + rnd.nextInt(6)).toByte)
    val counts = new java.util.HashMap[String, Integer]()
    val lens = Array.newBuilder[Double]
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (i > start) {
          counts.merge(new String(bytes, start, i - start, US_ASCII), 1, (a: Integer, b: Integer) => a + b)
          lens += (i - start).toDouble
        }
        start = i + 1
      }
      i += 1
    }
    val xs = lens.result()
    java.util.Arrays.sort(xs)
    var acc = 0.0
    var g = 0
    while (g < 16) {
      val x = g * 1.0
      var k = 0
      while (k < xs.length) {
        val d = (x - xs(k)) / 0.7
        acc += math.exp(-0.5 * d * d)
        k += 1
      }
      g += 1
    }
    counts.size.toLong + acc.toLong
  }

  /** Reference units per second over `threads` threads, each running the
    * same fixed number of units. */
  def rate(threads: Int): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        var s = 0L
        var u = 0
        while (u < UnitsPerThread) { s += unit(t * UnitsPerThread + u); u += 1 }
        sink.addAndGet(s)
      })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    ts.foreach(_.join())
    val s = (System.nanoTime() - t0) / 1e9
    require(sink.get != 0L)
    threads * UnitsPerThread / s
  }
}
