package perfbench

import java.nio.file.{Files, Paths}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Milliseconds of [lo, hi] covered by the union of the intervals. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { total += b - from; reach = b }
      }
    total.toDouble
  }

  /** Machine-wide busy ticks, this process's own ticks and steal ticks
    * (Linux /proc, 100 ticks per second), or null elsewhere. */
  def cpuTicks(): Array[Long] =
    try {
      val c = Files.readString(Paths.get("/proc/stat")).linesIterator.next().trim.split("\\s+")
      val busy = c(1).toLong + c(2).toLong + c(3).toLong + c(6).toLong + c(7).toLong
      val self = Files.readString(Paths.get("/proc/self/stat")).split("\\)\\s+")(1).split("\\s+")
      Array(busy, self(11).toLong + self(12).toLong, c(8).toLong)
    } catch { case _: Throwable => null }

  /** Cores used by other processes, and cores stolen by the hypervisor,
    * on average between two [[cpuTicks]] samples taken `seconds` apart. */
  def externalAndSteal(a: Array[Long], b: Array[Long], seconds: Double): (Double, Double) =
    if (a == null || b == null || seconds <= 0) (-1.0, -1.0)
    else (((b(0) - a(0)) - (b(1) - a(1))).max(0L) / 100.0 / seconds,
      (b(2) - a(2)).max(0L) / 100.0 / seconds)

  /** Heap still in use after full collections, in MiB. Collects until
    * the figure settles, so blocks that Spark's cleaner releases
    * asynchronously after a collection are gone too. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); Thread.sleep(200L); mx.getHeapMemoryUsage.getUsed.toDouble }
    var last = used()
    var now = used()
    var rounds = 2
    while (rounds < 10 && math.abs(now - last) > 0.005 * last) {
      last = now; now = used(); rounds += 1
    }
    math.min(now, last) / (1024.0 * 1024.0)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.fold("null")(apply)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case p: Product => apply(p.productIterator.toSeq)
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}
