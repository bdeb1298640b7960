package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable

/** Order statistics over a sample, by linear interpolation between ranks. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Peak live driver heap: the heap in use right after a full collection,
  * sampled between timed operations (never inside one). */
object Heap {
  private var peak = 0.0
  /** Live heap in MB, right after a full collection. The first collection
    * hands Spark's ContextCleaner the broadcasts and shuffles that became
    * unreachable; the second, after the cleaner has had time to drop
    * them, frees their blocks. With one, two runs of the same seed read
    * up to 17 % apart on `bi_refresh`. */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
  /** [[liveMb]], counted toward the peak. */
  def sample(): Double = {
    val mb = liveMb()
    peak = math.max(peak, mb)
    mb
  }
  def peakMb: Double = peak
}

object Clock {
  private val start = System.nanoTime()
  def now: Double = System.nanoTime() / 1e9
  /** Progress note on stderr, with seconds since the JVM's benchmark start. */
  def note(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - start) / 1e9}%7.2fs $what")
  def time[A](f: => A): (A, Double) = { val t0 = now; val a = f; (a, now - t0) }
}

object Files2 {
  def delete(f: File): Unit = if (f.exists()) {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
  def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }
}

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What one workload run hands back to [[Main]]. `e2e` holds the
  * benchmark's end-to-end metrics, `named` the workload's own names for
  * them (plus the ones that only apply to it), `layer` the traced
  * per-layer metrics. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  val named = mutable.LinkedHashMap.empty[String, Metric]
  val layer = mutable.LinkedHashMap.empty[String, Metric]
  val info = mutable.LinkedHashMap.empty[String, String]
  def check(name: String, ok: Boolean): Unit = checks(name) = checks.getOrElse(name, true) && ok
}

/** Minimal JSON rendering for the result file (no library dependency). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(m: Iterable[(String, Metric)]): String =
    obj(m.map { case (k, v) => k -> obj(Seq("value" -> num(v.value), "unit" -> str(v.unit))) })
}
