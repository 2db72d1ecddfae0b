package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Cartesian-product whitelist gate (round-13 verdict ask #7).
  *
  * SURVEY §5's no-unbounded-crossJoin invariant — every pair search is
  * bucketed; a cross join is legal ONLY against a bounded side (a 1-row
  * aggregate, a broadcast ≤NumQueries/≤NumCells seed table) — was
  * previously verified by grep + EXPLAIN_AUDIT prose. Enforce it
  * structurally, mirroring CollectGateSpec: every `crossJoin` call site
  * in main source must carry a reviewed `bounded-cross` marker within
  * the five preceding lines stating why the joined side is N-independent
  * (or N-bounded by a fixed knob), and the total whitelisted-site count
  * is pinned. A new crossJoin fails this spec until it has been argued
  * bounded on the record AND the pinned count is bumped in the same
  * change — an unbounded cartesian can no longer slip in as a one-line
  * edit. */
class CrossJoinGateSpec extends AnyFunSuite {

  private val Marker = "bounded-cross"

  /** The reviewed whitelist size (line-sites: a line with several chained
    * crossJoins over 1-row aggregates counts once). Adding a legitimate
    * bounded cross join means: write the marker comment with the
    * boundedness argument, then bump this constant in the same change. */
  private val ExpectedSites = 27

  private def mainSources: Seq[Path] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq.sortBy(_.toString)

  test("every crossJoin in main source is marker-whitelisted and the site count is pinned") {
    var sites = List.empty[String]
    var violations = List.empty[String]
    for (path <- mainSources) {
      val lines = Files.readAllLines(path).asScala.toVector
      for (i <- lines.indices) {
        val line = lines(i)
        val t = line.trim
        val inComment = t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
        if (!inComment && line.contains("crossJoin")) {
          val window = lines.slice(math.max(0, i - 5), i + 1)
          if (window.exists(_.contains(Marker)))
            sites ::= s"$path:${i + 1}"
          else
            violations ::= s"$path:${i + 1} $line"
        }
      }
    }
    assert(violations.isEmpty,
      s"unwhitelisted crossJoin (add a '$Marker' marker arguing the joined " +
        s"side is bounded/N-independent, or bucket the pair search):\n" +
        violations.mkString("\n"))
    assert(sites.size == ExpectedSites,
      s"whitelisted crossJoin-site count changed (${sites.size} != $ExpectedSites) — " +
        s"review and re-pin ExpectedSites:\n" + sites.mkString("\n"))
  }
}
