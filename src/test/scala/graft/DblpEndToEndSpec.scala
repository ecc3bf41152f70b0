package graft

import org.apache.spark.sql.catalyst.expressions.XmlToStructs

import graft.model.Dblp
import graft.queries.DblpQueries
import graft.sources.Sinks

/** End-to-end: line-XML file → readLineXml → queries → CSV sink, the full
  * reference pipeline shape (S2→S3→P*→A*→K*→S4) through the public API. */
class DblpEndToEndSpec extends SparkTestBase {

  private lazy val fixturePath =
    getClass.getResource("/dblp_fixture.txt").getPath

  test("readLineXml → t1 over the golden fixture") {
    val pubs = Dblp.readLineXml(spark, fixturePath)
    pubs.count() shouldBe 12L
    val t1 = rows(DblpQueries.t1TopAuthorsPerVenue(pubs, k = 2))
    t1 shouldBe Seq(
      Seq("BadJ", "NoYear", 1L), // year filter is t2-only (reference parity)
      Seq("Comm, ACM", "Smith, John", 1L), // Q1: comma names intact
      Seq("MIT", "Heidi", 1L),
      Seq("SIGMOD", "Bob", 1L), Seq("SIGMOD", "Carol", 1L), // k=2 eviction
      Seq("Springer", "Grace", 1L),
      Seq("TODS", "Alice", 3L), Seq("TODS", "Bob", 1L),
      Seq("VLDB", "Frank", 1L),               // editor fallback
      Seq("homepages/x/Alice", "Alice", 1L))  // www key-prefix venue
  }

  test("each of t1–t6 parses a line once: one XmlToStructs per optimized plan") {
    // plan-only: a filter pushed below the parse must not inline another
    // copy of from_xml (clean(...), size(authors), explode's inferred
    // filters), so every query plan holds exactly the one parse
    val pubs = Dblp.readLineXml(spark, fixturePath)
    val plans = Seq(
      "t1" -> DblpQueries.t1TopAuthorsPerVenue(pubs),
      "t2" -> DblpQueries.t2ConsecutiveYears(pubs),
      "t3" -> DblpQueries.t3SoloTitlesPerVenue(pubs),
      "t4" -> DblpQueries.t4MaxAuthorPubsPerVenue(pubs),
      "t5" -> DblpQueries.t5TopCoauthorAuthors(pubs),
      "t6" -> DblpQueries.t6TopSoloAuthors(pubs))
    plans.map { case (name, df) => name -> optimizedExprCount[XmlToStructs](df) } shouldBe
      plans.map { case (name, _) => name -> 1 }
  }

  test("t2 finds Alice's 3-year streak; no-year record dropped") {
    val pubs = Dblp.readLineXml(spark, fixturePath)
    rows(DblpQueries.t2ConsecutiveYears(pubs, minStreak = 3)) shouldBe
      Seq(Seq("Alice", 3L))
  }

  test("typed Dataset facade exposes fields with compile-time safety") {
    import spark.implicits._
    val pubs = Dblp.readLineXmlTyped(spark, fixturePath)
    val alice = pubs.filter(_.authors.contains("Alice")).map(_.key).collect().sorted
    alice.toSeq shouldBe Seq("homepages/x/Alice/home", "journals/tods/A1",
      "journals/tods/A2", "journals/tods/A3")
    pubs.filter(_.years.isEmpty).map(_.key).collect().toSeq shouldBe
      Seq("homepages/x/Alice/home", "journals/bad/N1")
  }

  test("whole-file dblp.xml (native rowTag source) ≡ line-per-record path") {
    val wholePath = getClass.getResource("/dblp_fixture.xml").getPath
    val whole = rows(Dblp.readWholeXml(spark, wholePath)
      .orderBy("key", "recordType"))
    val line = rows(Dblp.readLineXml(spark, fixturePath)
      .orderBy("key", "recordType"))
    whole should have size 12
    whole shouldBe line
  }

  test("ISO-8859-1 charset: non-ASCII authors survive the whole-file path") {
    // dblp_fixture.xml is ISO-8859-1 on disk (ü = 0xFC, as in real dblp.xml);
    // without the charset option the XML source would decode it as UTF-8 and
    // mangle every non-ASCII name.
    val wholePath = getClass.getResource("/dblp_fixture.xml").getPath
    val authors = Dblp.readWholeXml(spark, wholePath)
      .where("key = 'journals/tods/U1'")
      .selectExpr("authors[0]", "title").collect().map(r => (r.getString(0), r.getString(1)))
    authors.toSeq shouldBe Seq(("Jürgen Müller", "Über Études"))
  }

  test("whole-file path feeds the same t1 result as the line path") {
    val wholePath = getClass.getResource("/dblp_fixture.xml").getPath
    rows(DblpQueries.t1TopAuthorsPerVenue(Dblp.readWholeXml(spark, wholePath), k = 2)) shouldBe
      rows(DblpQueries.t1TopAuthorsPerVenue(Dblp.readLineXml(spark, fixturePath), k = 2))
  }

  test("DTD entity expansion: &uuml;-style references resolve before the parse") {
    import org.apache.spark.sql.functions.col
    // a record exactly as the real dblp.xml encodes it — pure ASCII with
    // the DTD's named Latin-1 entities (and &amp;, an XML BUILT-IN the
    // expander must leave for the parser)
    val rec = "<article key=\"journals/x/J1\">" +
      "<author>J&uuml;rgen M&uuml;ller</author>" +
      "<title>St&ouml;rung &amp; Signal</title>" +
      "<journal>Notes</journal><year>1999</year></article>"
    val dir = java.nio.file.Files.createTempDirectory("graft-ent")
    val lineFile = dir.resolve("lines.txt")
    java.nio.file.Files.write(lineFile, java.util.Arrays.asList(rec))
    // expanded line path: names decode, the built-in && resolves in the
    // PARSER (not the expander)
    val pubs = Dblp.readLineXml(spark, lineFile.toString, expandEntities = true)
    val r = pubs.filter(col("key") === "journals/x/J1")
      .selectExpr("authors[0]", "title").collect()
    r.map(x => (x.getString(0), x.getString(1))).toSeq shouldBe
      Seq(("Jürgen Müller", "Störung & Signal"))
    // whole-file path: the expand-entities preprocessing verb, then the
    // native rowTag source over the expanded copy ≡ the line path
    val xml = "<?xml version=\"1.0\" encoding=\"ISO-8859-1\"?>\n<dblp>\n" +
      rec + "\n</dblp>"
    val wholeIn = dir.resolve("dblp.xml")
    java.nio.file.Files.write(wholeIn,
      xml.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val expanded = dir.resolve("expanded").toString
    Dblp.expandEntitiesFile(spark, wholeIn.toString, expanded)
    val whole = rows(Dblp.readWholeXml(spark, expanded, charset = "UTF-8")
      .filter(col("key").isNotNull).orderBy("key"))
    whole shouldBe rows(pubs.filter(col("key").isNotNull).orderBy("key"))
  }

  test("XmlEntities.expand: table hits, built-ins kept, unknowns verbatim") {
    import org.apache.spark.sql.graft.XmlEntities.expand
    expand("J&uuml;rgen &amp; M&ouml;") shouldBe "Jürgen &amp; Mö"
    expand("&szlig;&Eacute;&frac12;&reg;&micro;&times;") shouldBe "ßÉ½®µ×"
    // XML built-ins and numeric refs pass through untouched (parser's job)
    expand("&lt;a&gt; &#252; &apos;&quot;") shouldBe "&lt;a&gt; &#252; &apos;&quot;"
    // unknown names, bare '&', unterminated refs: verbatim
    expand("A&nosuchentity; B & C &uuml") shouldBe "A&nosuchentity; B & C &uuml"
    // fast path: an entity-free string returns the SAME instance
    val s = "no references here"
    (expand(s) eq s) shouldBe true
  }

  test("CSV sink round-trips with configurable separator (S4)") {
    val pubs = Dblp.readLineXml(spark, fixturePath)
    val out = java.nio.file.Files.createTempDirectory("graft-csv").toString
    Sinks.writeCsv(DblpQueries.t1TopAuthorsPerVenue(pubs, k = 2), s"$out/t1", sep = "|")
    val back = spark.read.option("sep", "|").option("header", "true").csv(s"$out/t1")
    back.count() shouldBe 10L
    back.columns.toSeq shouldBe Seq("venue", "author", "cnt")
  }
}
