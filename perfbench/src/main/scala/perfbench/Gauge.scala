package perfbench

import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}

/** A gauge of the host's speed at the moment: a fixed amount of JVM work
  * that uses no program code (building, scanning and hashing short
  * markup-like strings, as the extraction kernel does, and sorting), on
  * `threads` threads. Its time moves with the host's speed and with
  * nothing the program does.
  *
  * The benchmark runs it before every timed pass (every query on the mix)
  * and reports each pass's (query's) time scaled by `RefSeconds` / the
  * gauge time read just before it: the time the pass would take while the
  * gauge reads `RefSeconds`.
  * On the shared host the benchmark was built on, the host's speed moved
  * the wall time of whole runs by up to a half within minutes, and the
  * gauge moved with it (see LAYERS.md). */
object Gauge {
  /** Untimed runs in set-up: the JIT has compiled the gauge after them. */
  val WarmupRuns = 8
  /** About the gauge's median time on the four-core host the benchmark
    * was built on; it sets only the scale of the reported times. */
  val RefSeconds = 0.12

  /** `wallS` at the host speed where the gauge reads `RefSeconds`. */
  def scale(wallS: Double, gaugeS: Double): Double = wallS * RefSeconds / gaugeS

  /** Seconds for one gauge run on `threads` threads. */
  def seconds(threads: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val t0 = System.nanoTime()
      (0 until threads).map(k => pool.submit(new Callable[Long] { def call(): Long = work(k) }))
        .foreach(_.get())
      (System.nanoTime() - t0) / 1e9
    } finally pool.shutdown()
  }

  private def work(seed: Int): Long = {
    val r = new SplittableRandom(seed)
    val counts = new java.util.HashMap[String, Integer]()
    val sb = new java.lang.StringBuilder
    var acc = 0L
    var i = 0
    while (i < 120000) {
      sb.setLength(0)
      sb.append("<div class=\"c").append(r.nextInt(4000)).append("\"><p>")
      var w = 0
      while (w < 8) { sb.append(" word").append(r.nextInt(100)); w += 1 }
      sb.append("</p></div>")
      val s = sb.toString
      var j = 0
      while (j < s.length) { if (s.charAt(j) == '<') acc += j; j += 1 }
      counts.merge(s.substring(0, s.indexOf('>')), 1, (x: Integer, y: Integer) => x + y)
      i += 1
    }
    val xs = Array.fill(400000)(r.nextLong())
    java.util.Arrays.sort(xs)
    acc + counts.size + xs(xs.length / 2)
  }
}
