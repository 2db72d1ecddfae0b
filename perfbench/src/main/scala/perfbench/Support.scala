package perfbench

import org.apache.spark.sql.SparkSession

/** Session settings, argument parsing and JSON output shared by the
  * benchmark's JVM entry points. The engine settings come in from
  * perfbench/settings.json, so both sides of a comparison run the same
  * engine configuration. */
object Support {

  /** `--key value` pairs; every key is required unless a default is given. */
  final class Args(args: Array[String]) {
    private val m: Map[String, String] =
      args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def long(k: String): Long = apply(k).toLong
    def int(k: String): Int = apply(k).toInt
    def double(k: String): Double = apply(k).toDouble
    def flag(k: String): Boolean = apply(k) == "1"
  }

  def session(master: String, shufflePartitions: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      // in local mode the executor lives in the driver JVM: heartbeat
      // eviction can only kill the run, never recover anything
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "120s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Wall-clock milliseconds with sub-millisecond resolution: the epoch
    * anchor is taken once, the rest comes from the monotonic clock. */
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def wallMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** Minimal JSON writer for numbers, strings, booleans, maps and sequences. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(json).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def writeFile(path: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, text)
  }

  /** Value at quantile q (0..1) of weighted samples, nearest-rank. */
  def weightedQuantile(samples: Seq[(Double, Long)], q: Double): Double = {
    val sorted = samples.filter(_._2 > 0).sortBy(_._1)
    if (sorted.isEmpty) Double.NaN
    else {
      val total = sorted.map(_._2).sum
      val rank = math.max(1L, math.ceil(q * total).toLong)
      var acc = 0L
      sorted.find { case (_, w) => acc += w; acc >= rank }.get._1
    }
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    weightedQuantile(xs.map(_ -> 1L), q)
}
