package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced interval. `parent` is 0 for a root span. Times are wall-clock
  * milliseconds, the clock Spark's own events use. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    startMs: Double, var endMs: Double)

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def add(name: String, layer: String, parent: Int, startMs: Double, endMs: Double): Int =
    synchronized {
      val id = buf.size + 1
      buf += Span(id, name, layer, parent, startMs, endMs)
      id
    }
  def open(name: String, layer: String, parent: Int): Int =
    add(name, layer, parent, Support.wallMs, Double.NaN)
  def close(id: Int): Double = synchronized {
    val t = Support.wallMs
    buf(id - 1).endMs = t
    t
  }
  /** Run `body` inside a span; returns its result and the span id. */
  def around[T](name: String, layer: String, parent: Int)(body: => T): (T, Int) = {
    val id = open(name, layer, parent)
    try (body, id) finally close(id)
  }
  def spans: Seq[Span] = synchronized(buf.toVector)
  def jsonl(taskAttrs: Int => Map[String, Double]): String =
    spans.map { s =>
      Support.json(Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++
        taskAttrs(s.id))
    }.mkString("", "\n", "\n")
}

/** Task-metric totals for one attribution key. */
final class TaskAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0.0
  var gcMs = 0.0
  var shuffleBytes = 0.0
  var spillBytes = 0.0
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    gcMs += m.jvmGCTime
    shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
  }
  def toMap: Map[String, Double] = Map("tasks" -> tasks.toDouble, "task_ms" -> runMs,
    "gc_ms" -> gcMs, "shuffle_mb" -> shuffleBytes / 1e6, "spill_mb" -> spillBytes / 1e6)
}

/** SQL execution as Spark reports it: the action's call site and plan. */
final case class SqlExec(id: Long, rootId: Long, startMs: Double, var endMs: Double,
    description: String, details: String, plan: String)

/** Listener the benchmark attaches from outside the program. Jobs are
  * attributed to the benchmark span that submitted them through the
  * `perfbench.span` local property, and to the SQL execution that ran them
  * through Spark's own `spark.sql.execution.id` property. */
final class TraceListener extends SparkListener {
  val SpanProp = "perfbench.span"

  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobExec = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  val total = new TaskAgg
  val bySpan = mutable.Map.empty[Int, TaskAgg]
  val byExec = mutable.Map.empty[Long, TaskAgg]
  /** span id -> ids of cached (persisted) RDDs its stages read. */
  val cachedReads = mutable.Map.empty[Int, mutable.Set[Int]]
  val execs = mutable.LinkedHashMap.empty[Long, SqlExec]
  var jobs = 0L
  var stages = 0L
  private val blockBytes = mutable.Map.empty[String, Long]
  private var storedBytes = 0L
  var peakStoredBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(SpanProp))).foreach(s => jobSpan(e.jobId) = s.toInt)
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).foreach { x =>
      jobExec(e.jobId) = x.toLong
      val agg = byExec.getOrElseUpdate(x.toLong, new TaskAgg)
      agg.jobs += 1
      agg.stages += e.stageIds.size
    }
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val cached = e.stageInfo.rddInfos.filter(_.storageLevel.isValid).map(_.id)
    for (j <- stageJob.get(e.stageInfo.stageId); s <- jobSpan.get(j); if cached.nonEmpty)
      cachedReads.getOrElseUpdate(s, mutable.Set.empty[Int]) ++= cached
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      total.add(m)
      val job = stageJob.get(e.stageId)
      job.flatMap(jobSpan.get).foreach(s => bySpan.getOrElseUpdate(s, new TaskAgg).add(m))
      job.flatMap(jobExec.get).foreach(x => byExec.getOrElseUpdate(x, new TaskAgg).add(m))
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Double]) +=
        m.executorRunTime.toDouble
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    if (id.startsWith("rdd_")) {
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      storedBytes += now - blockBytes.getOrElse(id, 0L)
      if (now == 0L) blockBytes.remove(id) else blockBytes(id) = now
      peakStoredBytes = math.max(peakStoredBytes, storedBytes)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = SqlExec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.time.toDouble, Double.NaN,
          s.description, s.details, s.physicalPlanDescription)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_.endMs = s.time.toDouble)
      case _ => ()
    }
  }

  /** Task-time-weighted mean over stages of (max ÷ median task time); stages
    * with fewer than two tasks have no skew and are left out. */
  def skew: Double = synchronized {
    val per = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val med = Support.quantile(ts.toSeq, 0.5)
      (if (med > 0) ts.max / med else 1.0, ts.sum)
    }.toSeq
    val w = per.map(_._2).sum
    if (w <= 0) 1.0 else per.map { case (k, t) => k * t }.sum / w
  }
}

object TraceListener {
  /** Block until every event posted so far has reached the listeners. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
}
