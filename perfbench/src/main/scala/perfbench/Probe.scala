package perfbench

/** Host-speed probe: a fixed integer kernel timed on one thread and on
  * `threads` threads at once. Recorded at the start and the end of every
  * run, beside the metrics, so that a slower or busier host shows as a
  * slower probe instead of passing for a code effect. */
object Probe {
  private val Iters = 50000000

  private def kernel(n: Int, seed: Long): Long = {
    var x = seed | 1L
    var acc = 0L
    var i = 0
    while (i < n) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xffff
      i += 1
    }
    acc
  }

  @volatile private var sink = 0L

  def run(threads: Int): Map[String, Double] = {
    sink += kernel(Iters / 100, 1L) // compile the kernel before timing it
    val t0 = System.nanoTime()
    sink += kernel(Iters, 2L)
    val single = (System.nanoTime() - t0) / 1e6
    val workers = (1 to threads).map { k =>
      new Thread(() => { val r = kernel(Iters, k.toLong); synchronized(sink += r) })
    }
    val t1 = System.nanoTime()
    workers.foreach(_.start())
    workers.foreach(_.join())
    val multi = (System.nanoTime() - t1) / 1e6
    Map("single_thread_ms" -> single, "all_threads_ms" -> multi, "threads" -> threads.toDouble)
  }
}
