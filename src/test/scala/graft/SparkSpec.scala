package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("graft-test")
    .getOrCreate()

  val Sf0001 = "/root/testdata/sf0.001"

  /** Stage the sf0.001 events table into a fresh temp dir, deleted after
    * the suite, for streaming file-source specs (one copied file -> one
    * AvailableNow micro-batch). One definition for every streaming spec's
    * fixture. */
  def stageEventsDir(): String = {
    val work = scratchDir("graft-events-")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$Sf0001/events.parquet"),
      java.nio.file.Paths.get(s"$work/events-part1.parquet"))
    work
  }

  /** Run `body` under a fresh job group; return its result and the call
    * site of every Spark job it ran (empty when `body` only plans). */
  def jobsRunBy[T](label: String)(body: => T): (T, Seq[String]) = {
    val group = s"$label-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, label)
    val out = try body finally sc.clearJobGroup()
    val tracker = sc.statusTracker
    (out, tracker.getJobIdsForGroup(group).toSeq.sorted.map { id =>
      tracker.getJobInfo(id).flatMap(j => j.stageIds.headOption)
        .flatMap(tracker.getStageInfo).map(_.name).getOrElse(s"job $id")
    })
  }

  @volatile private var scratchDirs: List[String] = Nil

  /** A fresh temp dir, deleted after the suite. */
  def scratchDir(prefix: String): String =
    deleteAfterAll(java.nio.file.Files.createTempDirectory(prefix).toString)

  /** Delete `dir`, made elsewhere, after the suite; returns it. */
  def deleteAfterAll(dir: String): String = {
    scratchDirs = dir :: scratchDirs
    dir
  }

  /** A copy-heavy corpus: three byte-identical stripes of the sf0.001
    * documents and/or embeddings with shifted ids (+5M per stripe), in a
    * temp dir deleted after the suite. Every text or vector group becomes
    * a 3-clique, so the within-group and bipartite arithmetic of the
    * rep-collapsed operators fires; striped vectors also shift their
    * label per stripe, so identical vectors carry DIFFERENT labels. A
    * table not striped is copied as is. Never pass the result to
    * Knobs.noteDir (or through SparkEntry.queries): the tripled corpus
    * derives other knob values and would trip the one-corpus-per-JVM
    * flip guard. */
  def stripeCorpus(docs: Boolean, vecs: Boolean): String = {
    import org.apache.spark.sql.functions._
    val out = scratchDir("graft-stripes-")
    def stripes(df: org.apache.spark.sql.DataFrame, id: String,
        extra: Int => Seq[org.apache.spark.sql.Column]) =
      (0 until 3).map { k =>
        df.select((col(id) + lit(k * 5000000L)).as(id) +: extra(k): _*)
      }.reduce(_ unionByName _)
    val d = spark.read.parquet(s"$Sf0001/documents.parquet")
    (if (docs) stripes(d, "doc_id",
      _ => Seq(col("text"), col("lang"), col("source"), col("n_chars"))) else d)
      .coalesce(1).write.parquet(s"$out/documents.parquet")
    val e = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    (if (vecs) stripes(e, "vec_id",
      k => Seq(col("embedding"), ((col("label") + lit(k)) % lit(4)).cast("int").as("label")))
     else e)
      .coalesce(1).write.parquet(s"$out/embeddings.parquet")
    out
  }

  override def afterAll(): Unit = {
    // keep the session for the other suites in the same JVM; drop only
    // this suite's scratch dirs
    def rm(p: java.io.File): Unit = {
      val kids = p.listFiles()
      if (kids != null) kids.foreach(rm)
      p.delete(): Unit
    }
    scratchDirs.foreach(d => rm(new java.io.File(d)))
    scratchDirs = Nil
  }
}
