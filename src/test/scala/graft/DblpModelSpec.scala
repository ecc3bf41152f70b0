package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.model.Dblp

/** Exercises the line-XML parse path and every venue-CASE branch
  * (SURVEY.md §1.4, quirks Q1/P1/P2/P3). */
class DblpModelSpec extends SparkTestBase {
  import spark.implicits._

  private val fixture = Seq(
    // article with journal
    """<article key="journals/tods/X1"><author>Alice</author><title>T1</title><journal>TODS</journal><year>2000</year></article>""",
    // article without journal falls back to booktitle
    """<article key="journals/x/X2"><author>Bob</author><title>T2</title><booktitle>FallbackBT</booktitle><year>2001</year></article>""",
    // inproceedings -> booktitle
    """<inproceedings key="conf/sigmod/X3"><author>Alice</author><author>Bob</author><title>T3</title><booktitle>SIGMOD</booktitle><year>2001</year></inproceedings>""",
    // book -> publisher
    """<book key="books/b1"><author>Carol</author><title>T4</title><publisher>Springer</publisher><year>1999</year></book>""",
    // proceedings without publisher -> booktitle fallback; editor-only record
    """<proceedings key="conf/vldb/P1"><editor>Eve</editor><title>T5</title><booktitle>VLDB</booktitle><year>1998</year></proceedings>""",
    // phdthesis -> school
    """<phdthesis key="phd/t1"><author>Dan</author><title>T6</title><school>MIT</school><year>1997</year></phdthesis>""",
    // www -> first 3 '/'-segments of key
    """<www key="homepages/a/Alice/extra"><author>Alice</author><title>Home</title></www>""",
    // unknown type -> "No venue available"
    """<person key="p/1"><author>Zed</author><title>T7</title><year>1996</year></person>""",
    // Q1: comma-bearing author and venue survive as real columns
    """<article key="journals/c/C1"><author>Smith, John</author><title>T8</title><journal>Comm, ACM</journal><year>2002</year></article>""",
    // P3: zero years and two years (dropped by t2 only)
    """<article key="journals/y/Y0"><author>NoYear</author><title>T9</title><journal>J0</journal></article>""",
    """<article key="journals/y/Y2"><author>TwoYears</author><title>T10</title><journal>J2</journal><year>1990</year><year>1991</year></article>"""
  )

  private lazy val pubs = Dblp.normalize(fixture.toDF("value")).cache()

  test("record type comes from the element label") {
    pubs.select("recordType").distinct().as[String].collect().sorted shouldBe
      Seq("article", "book", "inproceedings", "person", "phdthesis", "proceedings", "www")
  }

  test("venue CASE covers every branch") {
    val venueByKey = pubs.select("key", "venue").as[(String, String)].collect().toMap
    venueByKey("journals/tods/X1") shouldBe "TODS"
    venueByKey("journals/x/X2") shouldBe "FallbackBT"   // journal-missing fallback
    venueByKey("conf/sigmod/X3") shouldBe "SIGMOD"
    venueByKey("books/b1") shouldBe "Springer"
    venueByKey("conf/vldb/P1") shouldBe "VLDB"          // publisher-missing fallback
    venueByKey("phd/t1") shouldBe "MIT"
    venueByKey("homepages/a/Alice/extra") shouldBe "homepages/a/Alice" // www key prefix
    venueByKey("p/1") shouldBe "No venue available"
  }

  test("editor fallback fills authors when no <author> exists (P2)") {
    val r = pubs.filter($"key" === "conf/vldb/P1")
      .select("authors").as[Seq[String]].collect()(0)
    r shouldBe Seq("Eve")
  }

  test("comma-bearing names stay intact as real columns (Q1)") {
    val r = pubs.filter($"key" === "journals/c/C1")
      .select($"venue", element_at($"authors", 1))
      .as[(String, String)].collect()(0)
    r shouldBe (("Comm, ACM", "Smith, John"))
  }

  test("malformed XML lines survive as null-field rows (PERMISSIVE), filtered by garbage guards") {
    val lines = Seq(
      "<article key=\"ok/1\"><author>A</author><title>T</title><journal>J</journal><year>2000</year></article>",
      "not xml at all",
      "<article key=\"broken/2\"><author>Unclosed",
      "").toDF("value")
    val bad = Dblp.normalize(lines)
    // nothing thrown, nothing silently dropped: one row per line, the
    // blank one included, with or without the entity pass
    bad.count() shouldBe 4L
    Dblp.normalize(lines, expandEntities = true).count() shouldBe 4L
    // non-XML gets venue "No venue available" (reference parity) but empty
    // authors; the unclosed record parses to all-null fields — the combined
    // venue+author garbage guards drop both junk rows
    val clean = bad.filter($"venue".isNotNull && $"venue" =!= "" &&
      org.apache.spark.sql.functions.size($"authors") > 0 && $"title".isNotNull)
    clean.select("key").as[String].collect().toSeq shouldBe Seq("ok/1")
  }

  test("year arity preserved for the P3 guard") {
    val arities = pubs
      .select($"key", when($"years".isNull, 0)
        .otherwise(org.apache.spark.sql.functions.size($"years")).as("n"))
      .as[(String, Int)].collect().toMap
    arities("journals/y/Y0") shouldBe 0
    arities("journals/y/Y2") shouldBe 2
    arities("journals/tods/X1") shouldBe 1
  }
}
