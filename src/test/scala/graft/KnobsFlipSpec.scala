package graft

import org.apache.spark.sql.functions._

/** Knobs.noteDir flip hardening (round-10 advice): the current-corpus var
  * is process-wide, so a flip between corpora whose DERIVED knob values
  * differ must fail loud instead of silently re-knobbing plans built for
  * the other corpus. Flips between knob-equal corpora (all the test
  * suites' dirs sit below the derivation knees) stay allowed — that is
  * what lets these very suites share one JVM. */
class KnobsFlipSpec extends SparkSpec {

  test("noteDir allows knob-equal flips and rejects knob-changing ones") {
    // establish a below-knee corpus as current
    Knobs.noteDir(Sf0001)

    // a second below-knee dir (no tables at all -> counts 0 -> floors):
    // knob-equal, so the flip is allowed and takes effect
    val empty = scratchDir("graft-knobs-eq-")
    Knobs.noteDir(empty)
    Knobs.noteDir(Sf0001) // flip back for the other suites

    // a corpus ABOVE the ivfCells knee (4096 embeddings -> linear = 16
    // beats the floor 8): derived knobs differ, the flip must throw,
    // and the current dir must stay untouched
    val big = scratchDir("graft-knobs-big-")
    spark.range(4096).select(col("id").as("vec_id"))
      .coalesce(1).write.parquet(s"$big/embeddings.parquet")
    val e = intercept[IllegalStateException](Knobs.noteDir(big))
    assert(e.getMessage.contains("changes derived knob"))
    // still the old corpus: a floor-valued derivation proves no flip
    assert(Knobs.ivfCells == 8)
  }
}
