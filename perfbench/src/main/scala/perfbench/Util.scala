package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Minimal JSON rendering: the benchmark emits flat objects of numbers,
  * strings, booleans, lists and nested maps, and needs no parser.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Stats {
  /** Nearest-rank percentile of an unsorted sample (p in (0, 1]). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-insensitive content hash of string rows: (count, sum of per-row
    * 64-bit hashes). Both the program's outputs and the generator's
    * bookkeeping are reduced through this one function.
    */
  def rowsHash(rows: Iterator[Seq[String]]): (Long, Long) = {
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      n += 1
      h += rowHash(r)
    }
    (n, h)
  }

  def rowHash(r: Seq[String]): Long = {
    val s = r.map(v => if (v == null) "\u0000" else v).mkString("\u0001")
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }
}

/** JVM probes: GC time and the live heap after an explicit full collection. */
object Jvm {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Force a full collection (outside any timed region) and record the heap
    * still in use: the live set at this checkpoint.
    */
  def sampleLiveHeap(): Double = {
    // state stores of finished streams stay loaded until a maintenance
    // timer unloads them; unload them now so the sample does not depend
    // on where that timer stands
    Class.forName("org.apache.spark.sql.execution.streaming.state.StateStore$")
      .getMethod("unloadAll")
      .invoke(Class.forName("org.apache.spark.sql.execution.streaming.state.StateStore$")
        .getField("MODULE$").get(null))
    // twice, with a pause: the first collection lets Spark's context
    // cleaner drop what only weak references kept
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    Main.log(f"live heap $used%.1f MB")
    used
  }

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)

  def loadAverage: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Bytes of data files under `root`: not checksums or markers. */
  def dataBytes(root: java.io.File): Long =
    java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith(".") || n.startsWith("_")
      }
      .map(p => java.nio.file.Files.size(p)).sum
}
