package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.functions._

import graft.sources.{Jsonl, Tables}

/** JSONL corpus ingestion: lossless roundtrip against the parquet documents
  * table and corrupt-line quarantine semantics. */
class JsonlSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("documents roundtrip parquet -> jsonl -> parquet is lossless") {
    val out = Files.createTempDirectory("graft-jsonl").toString
    val docs = Tables.documents(spark, sf)
    Jsonl.write(docs, out)
    val back = Jsonl.read(spark, out, Jsonl.DocumentsSchema)
    val (good, bad) = Jsonl.quarantine(back)
    bad.count() shouldBe 0L
    good.columns.toSeq shouldBe docs.columns.toSeq
    rows(good.orderBy("doc_id")) shouldBe rows(docs.orderBy("doc_id"))
  }

  test("malformed lines are quarantined with the raw line, not dropped or fatal") {
    val dir = Files.createTempDirectory("graft-jsonl-bad")
    val f = dir.resolve("part-0.jsonl")
    Files.writeString(f,
      """{"doc_id": 1, "text": "ok one", "lang": "en", "source": "a", "n_chars": 6}
        |this is not json at all
        |{"doc_id": 2, "text": "ok two", "lang": "de", "source": "b", "n_chars": 6}
        |{"doc_id": 3, "text": "truncated
        |""".stripMargin)
    val df = Jsonl.read(spark, dir.toString, Jsonl.DocumentsSchema)
    val (good, bad) = Jsonl.quarantine(df)
    good.count() shouldBe 2L
    rows(good.select("doc_id").orderBy("doc_id")) shouldBe Seq(Seq(1L), Seq(2L))
    val badLines = bad.collect().map(_.getString(0)).toSeq
    // each malformed line reaches the bad side once, with its raw text
    badLines.sorted shouldBe Seq("this is not json at all", "{\"doc_id\": 3, \"text\": \"truncated")
    // schema of good side carries no capture column
    good.columns should not contain Jsonl.CorruptCol
  }

  test("read and both quarantine sides parse a line once: one JsonToStructs per plan") {
    // plan-only: a filter on a parsed field must not inline another copy
    // of from_json below the parse
    val dir = Files.createTempDirectory("graft-jsonl-plan")
    Files.writeString(dir.resolve("part-0.jsonl"), "{\"doc_id\": 1}\n")
    val df = Jsonl.read(spark, dir.toString, Jsonl.DocumentsSchema)
    val (good, bad) = Jsonl.quarantine(df)
    Seq(df, good, bad, df.filter(col("lang") === "en"))
      .map(optimizedExprCount[JsonToStructs](_)) shouldBe Seq(1, 1, 1, 1)
  }
}
