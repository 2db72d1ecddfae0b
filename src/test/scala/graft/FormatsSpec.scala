package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Non-parquet source/sink coverage: the documents table round-trips
  * through JSONL and CSV with EXPLICIT schemas (schema inference is a
  * whole extra pass over 100 TB and can silently re-type columns, so
  * the engine's contract is schema-on-read). CSV carries free text, so
  * the writer must quote/escape and the reader must honor multiline
  * fields — exactly the options pinned here. */
class FormatsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("text", StringType)))

  /** Corpus + adversarial rows: the synthetic corpus text is plain
    * words, so rows with embedded quotes, commas, and newlines are
    * unioned in — without them the escape/multiLine options below would
    * be pinned but never exercised. */
  private def docs = {
    import spark.implicits._
    Tables.documents(spark, Sf0001)
      .select("doc_id", "lang", "source", "text")
      .unionByName(Seq(
        (9000001L, "en", "srcq", "says \"hello, world\" and more"),
        (9000002L, "en", "srcq", "line one\nline two, still one doc"),
        (9000003L, "en", "srcq", "trailing comma, and a \"quoted, comma\""))
        .toDF("doc_id", "lang", "source", "text"))
  }

  private def key(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))

  test("documents round-trip through ORC and filters push to the scan") {
    val out = scratchDir("graft-orc-")
    docs.write.mode("overwrite").orc(out)
    val back = spark.read.schema(schema).orc(out)
      .select("doc_id", "lang", "source", "text")
    assert(back.schema === schema)
    assert(back.collect().map(key).sorted === docs.collect().map(key).sorted)
    // the same scan-level contract parquet gets: an ORC scan must carry
    // the predicate down (PushedFilters) and prune to the read columns
    val plan = back.where(col("doc_id") === 42L).select("doc_id", "lang")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("doc_id"),
      s"ORC scan did not push the doc_id filter:\n$plan")
  }

  test("documents round-trip through JSONL with explicit schema") {
    val out = scratchDir("graft-jsonl-")
    docs.write.mode("overwrite").json(out)
    val back = spark.read.schema(schema).json(out)
      .select("doc_id", "lang", "source", "text")
    assert(back.schema === schema)
    assert(back.collect().map(key).sorted === docs.collect().map(key).sorted)
  }

  test("parquet schema evolution: mergeSchema unions columns across files") {
    import spark.implicits._
    val out = scratchDir("graft-evolve-")
    // generation 1: (doc_id, lang); generation 2 adds quality_e4 — the
    // additive-column evolution a long-lived corpus directory accretes
    Seq((1L, "en"), (2L, "de")).toDF("doc_id", "lang")
      .write.parquet(s"$out/gen=1")
    Seq((3L, "fr", 812L), (4L, "en", 455L)).toDF("doc_id", "lang", "quality_e4")
      .write.parquet(s"$out/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.sorted === Array("doc_id", "gen", "lang", "quality_e4"))
    val rows = merged.select("doc_id", "quality_e4").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted
    // old-generation rows surface the new column as null, new rows keep it
    assert(rows === Array((1L, -1L), (2L, -1L), (3L, 812L), (4L, 455L)))
  }

  test("documents round-trip through quoted CSV with explicit schema") {
    val out = scratchDir("graft-csv-")
    docs.write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .csv(out)
    val back = spark.read.schema(schema)
      .option("header", "true").option("escape", "\"").option("multiLine", "true")
      .csv(out)
      .select("doc_id", "lang", "source", "text")
    assert(back.schema === schema)
    assert(back.collect().map(key).sorted === docs.collect().map(key).sorted)
  }
}
