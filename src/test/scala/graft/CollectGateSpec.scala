package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Driver-collect whitelist gate (round-12 verdict ask #9).
  *
  * SURVEY §5's rule: no `.collect()` in any query path EXCEPT bounded,
  * N-independent aggregates — today the centroid pull NearestCellExpr
  * embeds (which also serves Lloyd training), the 2080-value Gram buffer
  * behind embed_pca_power, the ≤ NumQueries×k retrieval lists
  * ann_agreement intersects. A new collect/toLocalIterator added without
  * review is how a distributed operator quietly becomes a driver loop at
  * 100 TB, so the invariant is enforced structurally: every occurrence in
  * main source must carry a `bounded-collect` marker within the five
  * preceding lines, and the total whitelisted-site count is pinned — a
  * new site fails this spec until the marker AND the pinned count are
  * both updated, i.e. until it has been argued N-independent on the
  * record.
  */
class CollectGateSpec extends AnyFunSuite {

  /** Spark driver-materialization calls. `.head`/`.first` on DataFrames
    * are excluded: they are single-row scalar probes by construction and
    * the tokens are ubiquitous on Scala collections. `.rdd` is gated too:
    * it is the exit ramp from Catalyst. */
  private val gated = Seq(
    raw"\.collect\(\)".r -> "collect()",
    raw"\.toLocalIterator".r -> "toLocalIterator",
    raw"\.collectAsList".r -> "collectAsList",
    raw"\.collectAsMap".r -> "collectAsMap",
    raw"\.rdd\b".r -> ".rdd")

  private val Marker = "bounded-collect"

  /** The reviewed whitelist size. Adding a legitimate bounded collect
    * means: write the marker comment with the N-independence argument,
    * then bump this constant in the same change. */
  private val ExpectedSites = 4

  private def mainSources: Seq[Path] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq.sortBy(_.toString)

  test("every driver collect in main source is marker-whitelisted and the site count is pinned") {
    var sites = List.empty[String]
    var violations = List.empty[String]
    for (path <- mainSources) {
      val lines = Files.readAllLines(path).asScala.toVector
      for (i <- lines.indices; (re, what) <- gated) {
        val line = lines(i)
        val t = line.trim
        val inComment = t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
        if (!inComment && re.findFirstIn(line).isDefined) {
          val window = lines.slice(math.max(0, i - 5), i + 1)
          if (window.exists(_.contains(Marker)))
            sites ::= s"$path:${i + 1} [$what]"
          else
            violations ::= s"$path:${i + 1} [$what] $line"
        }
      }
    }
    assert(violations.isEmpty,
      s"unwhitelisted driver materialization (add a '$Marker' marker with " +
        s"the N-independence argument, or make the operator distributed):\n" +
        violations.mkString("\n"))
    assert(sites.size == ExpectedSites,
      s"whitelisted collect-site count changed (${sites.size} != $ExpectedSites) — " +
        s"review and re-pin ExpectedSites:\n" + sites.mkString("\n"))
  }
}
