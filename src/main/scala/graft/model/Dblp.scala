package graft.model

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Typed publication record — the case-class facade over the normalized
  * relation (SURVEY.md §1.5). `years` keeps its arity for the P3 guard. */
case class Publication(
    key: String,
    recordType: String,
    venue: String,
    authors: Seq[String],
    title: String,
    years: Seq[Int])

/** DBLP data model — the reference's input format re-expressed as a Spark
  * source (reference: dblpXMLparser.scala whole-DOM preprocessor + per-record
  * `XML.loadString` in every mapper, Homework2.scala:39,155,236,293,374,455).
  *
  * Here the line-per-record file is read with `spark.read.text` (Spark's
  * FileSourceScanExec does the splitting the reference hand-rolls with an
  * 8-thread pool over 800 slices, dblpXMLparser.scala:37-59) and parsed once
  * per query with `from_xml` — a single codegen-friendly expression instead
  * of a DOM load per record per job. Each query plan holds exactly one
  * `from_xml`; the six queries each parse the lines themselves.
  */
object Dblp {

  /** Parsed-record schema (FIXTURES.md §1; dblp.dtd:33-47). Repeatable fields
    * are arrays; `year` keeps its arity for the P3 validity guard
    * (Homework2.scala:163-166: valid iff exactly one <year>). `_key` is the
    * required key attribute (dblp.dtd:40-41; attributePrefix "_"). */
  val recordSchema: StructType = StructType(Seq(
    StructField("_key", StringType),
    StructField("author", ArrayType(StringType)),
    StructField("editor", ArrayType(StringType)),
    StructField("title", StringType),
    StructField("journal", StringType),
    StructField("booktitle", StringType),
    StructField("publisher", StringType),
    StructField("school", StringType),
    StructField("year", ArrayType(IntegerType))))

  private def nonEmpty(c: Column): Column = nullif(c, lit(""))

  /** P1 — venue CASE expression (Homework2.scala:42-51; duplicated verbatim at
    * :239-248 and :296-305 in the reference — defined exactly once here):
    * article → journal (fallback booktitle); inproceedings|incollection →
    * booktitle; book|proceedings → publisher (fallback booktitle);
    * phdthesis|mastersthesis → school; www → first 3 '/'-segments of @key. */
  def venueOf(recordType: Column, key: Column, journal: Column, booktitle: Column,
              publisher: Column, school: Column): Column =
    when(recordType === "article", coalesce(nonEmpty(journal), nonEmpty(booktitle)))
      .when(recordType.isin("inproceedings", "incollection"), nonEmpty(booktitle))
      .when(recordType.isin("book", "proceedings"), coalesce(nonEmpty(publisher), nonEmpty(booktitle)))
      .when(recordType.isin("phdthesis", "mastersthesis"), nonEmpty(school))
      .when(recordType === "www", concat_ws("/", slice(split(key, "/"), 1, 3)))
      .otherwise(lit("No venue available"))

  /** P2 — author list with editor fallback (Homework2.scala:53-57, repeated in
    * five other mappers). Never null: empty array when both are absent. */
  def authorsOrEditors(authors: Column, editors: Column): Column =
    when(authors.isNull || size(authors) === 0, coalesce(editors, array()))
      .otherwise(authors)

  /** The record element names a <dblp> document may contain (dblp.dtd:33-34). */
  val recordTypes: Seq[String] = Seq(
    "article", "inproceedings", "proceedings", "book",
    "incollection", "phdthesis", "mastersthesis", "www")

  /** Shared projection from a parsed record struct column + its type label to
    * the normalized publication relation. */
  private def project(df: DataFrame): DataFrame =
    df.select(
      col("rec._key").as("key"),
      col("recordType"),
      venueOf(col("recordType"), col("rec._key"), col("rec.journal"),
        col("rec.booktitle"), col("rec.publisher"), col("rec.school")).as("venue"),
      authorsOrEditors(col("rec.author"), col("rec.editor")).as("authors"),
      col("rec.title").as("title"),
      col("rec.year").as("years"))

  /** Normalize a DataFrame of line-XML strings (column `value`) into the
    * publication relation: (key, recordType, venue, authors, title, years).
    * The record type is the top-level element's *label* (dblp.dtd:33-34) —
    * extracted by regex since `from_xml` only sees the element body.
    * Year-arity (P3) and garbage (P5) filters are applied per-query, not
    * here, matching the reference's per-task placement.
    *
    * The parse runs once per query: it is the generator of a one-element
    * `explode`, because a filter pushed below a Project would inline the
    * aliased `from_xml` into the Filter, while predicates on a Generate's
    * output stay above it. `array(x)` is never null or empty, so every
    * line, malformed or blank, still yields exactly one row.
    *
    * `expandEntities` resolves the DTD's NAMED entity references
    * (`J&uuml;rgen` — the public ISO 8879 Latin-1 set dblp.dtd declares)
    * before the XML parse, which otherwise rejects them as undefined
    * ([[org.apache.spark.sql.graft.XmlEntities]] — one codegen'd pass,
    * zero-copy on entity-free lines). Off by default: lines already in
    * raw 8-bit or numeric-reference form need no pass. */
  def normalize(lines: DataFrame, expandEntities: Boolean = false): DataFrame = {
    val src =
      if (!expandEntities) lines
      else lines.withColumn("value",
        org.apache.spark.sql.graft.XmlEntities.expandXmlEntities(col("value")))
    project(src
      .withColumn("recordType", regexp_extract(col("value"), "^<([a-zA-Z]+)", 1))
      .withColumn("rec", explode(array(from_xml(col("value"), recordSchema)))))
  }

  /** Whole-file `dblp.xml` ingestion — what the reference's parser module
    * exists for (dblpXMLparser.scala:24 whole-DOM load + :37-59 hand-rolled
    * 8-thread/800-split fan-out). Here: Spark 4's NATIVE XML source, one
    * `rowTag` scan per record type, unioned.
    *
    * Scale shape: each scan is `TextInputXmlDataSource` — record boundaries
    * are found lexically so a single multi-GB file splits across tasks; no
    * driver DOM, no entityExpansionLimit, bounded memory per task. The cost
    * of the DTD's heterogeneous element names is |recordTypes| = 8 passes
    * over the bytes; a one-pass alternative is the line-per-record layout
    * ([[readLineXml]]) this method's output is tested to be identical to.
    *
    * `charset` defaults to ISO-8859-1 because that is what the real
    * `dblp.xml` prolog declares (the Spark XML source defaults to UTF-8, so
    * without the option every non-ASCII author name — Jürgen, Müller… —
    * decodes to replacement garbage). DTD-DEFINED entity references
    * (`&uuml;` etc., dblpXMLparser/dblp.dtd) are NOT resolved by the
    * native source (it parses without the DTD — the reference sidesteps
    * this via `XML.loadFile`'s DTD handling, dblpXMLparser.scala:14,24);
    * run the [[expandEntitiesFile]] preprocessing pass first (`graft.Run
    * expand-entities <in> <out>`) and read its output with
    * `charset = "UTF-8"`. */
  def readWholeXml(spark: SparkSession, path: String,
                   charset: String = "ISO-8859-1"): DataFrame =
    recordTypes.map { t =>
      project(spark.read.format("xml")
        .option("rowTag", t)
        .option("attributePrefix", "_")
        .option("charset", charset)
        .schema(recordSchema)
        .load(path)
        .select(lit(t).as("recordType"), struct(col("*")).as("rec")))
    }.reduce(_.unionByName(_))

  /** Read a line-per-record DBLP file (the parser module's output format,
    * dblpXMLparser.scala:96) into the normalized publication relation.
    * `expandEntities` resolves DTD named entities first (see
    * [[normalize]]). */
  def readLineXml(spark: SparkSession, path: String,
                  expandEntities: Boolean = false): DataFrame =
    normalize(spark.read.text(path).toDF("value"), expandEntities)

  /** The `sed`-style ENTITY-EXPANSION preprocessing pass for whole-file
    * ingest (`graft.Run expand-entities <in> <out>`): stream `in`'s
    * lines through [[org.apache.spark.sql.graft.XmlEntities]] and write
    * them back as text. Bytes are DECODED per `charset` (default the
    * dblp prolog's ISO-8859-1 — read through the splittable Hadoop line
    * reader with an explicit per-task decode, since the text source
    * fixes UTF-8) and the output is WRITTEN as UTF-8, the JVM text-sink
    * contract — so downstream [[readWholeXml]] of the expanded copy must
    * pass `charset = "UTF-8"` regardless of what the embedded prolog
    * still claims (the explicit option overrides it). Fully distributed:
    * record boundaries are line boundaries, one pass, no driver data. */
  def expandEntitiesFile(spark: SparkSession, in: String, out: String,
                         charset: String = "ISO-8859-1"): Unit = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
    java.nio.charset.Charset.forName(charset) // validate on the driver
    val csName = charset // Charset itself is not serializable
    val lines = spark.sparkContext.newAPIHadoopFile(
        in, classOf[TextInputFormat], classOf[LongWritable], classOf[Text])
      .map { case (_, t) =>
        new String(t.getBytes, 0, t.getLength,
          java.nio.charset.Charset.forName(csName))
      }
    import spark.implicits._
    val expanded = org.apache.spark.sql.graft.XmlEntities
      .expandXmlEntities(col("value"))
    // the pass re-encodes the bytes, so the XML DECLARATION must follow:
    // the source trusts an embedded encoding over the reader option
    // (probed), and a prolog still claiming ISO-8859-1 would mis-decode
    // the expanded UTF-8 copy
    val prologFixed = when(expanded.startsWith("<?xml"),
        regexp_replace(
          regexp_replace(expanded, "encoding=\"[^\"]+\"", "encoding=\"UTF-8\""),
          "encoding='[^']+'", "encoding='UTF-8'"))
      .otherwise(expanded)
    lines.toDF("value")
      .select(prologFixed.as("value"))
      .write.mode("overwrite").text(out)
  }

  /** Typed view of the same relation (`Dataset[Publication]`) for callers
    * who want compile-time field safety; nulls become empty values so the
    * typed API never NPEs on absent fields. */
  def readLineXmlTyped(spark: SparkSession, path: String): Dataset[Publication] = {
    import spark.implicits._
    readLineXml(spark, path)
      .na.fill("", Seq("key", "recordType", "venue", "title"))
      .withColumn("authors", coalesce(col("authors"), array()))
      .withColumn("years", coalesce(col("years"), array().cast("array<int>")))
      .as[Publication]
  }
}
