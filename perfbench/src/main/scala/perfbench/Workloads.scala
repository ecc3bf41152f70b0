package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XmlToStructs
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.model.Dblp
import graft.ops.Relational
import graft.queries.DblpQueries
import graft.sources.{LakeTable, Sinks}

/** dblp_xml_six: parse the line-XML corpus with `Dblp.readLineXml`, run
  * `DblpQueries` t1..t6 over the one relation and write each result with
  * `Sinks.writeCsv`. The first batch is the warm-up; the last batch's CSVs
  * are what run.py checks. */
final class DblpSix(spark: SparkSession, data: String, work: String)
    extends Workload(spark) {
  private val corpus = s"$data/dblp.xml"
  private val out = s"$work/out"
  private val queries: Seq[(String, DataFrame => DataFrame, String)] = Seq(
    ("t1", DblpQueries.t1TopAuthorsPerVenue(_), ","),
    ("t2", DblpQueries.t2ConsecutiveYears(_), ","),
    ("t3", DblpQueries.t3SoloTitlesPerVenue(_), ","),
    ("t4", DblpQueries.t4MaxAuthorPubsPerVenue(_), "|"),
    ("t5", DblpQueries.t5TopCoauthorAuthors(_), ","),
    ("t6", DblpQueries.t6TopSoloAuthors(_), ","))
  private val extras = mutable.Map[String, Double]()

  override def nominalBatchS: Double = 3.4

  /** Untimed batches, so code generation and JIT are warm: batch times
    * keep falling for several batches after the first. */
  def warmup(): Unit = (0 until 3).foreach { _ =>
    val b = six(s"$work/warm", new Tracer(false))
    warmupAttempted += b.ops.size
    warmupErrors ++= b.errors
  }

  def batch(i: Int, tr: Tracer, probe: Option[SparkProbe]): Batch = six(out, tr)

  private def six(outDir: String, tr: Tracer): Batch = {
    val ops = mutable.ArrayBuffer[Op]()
    val errors = mutable.ArrayBuffer[String]()
    val t0 = System.nanoTime()
    val pubs = tr.span("model.readLineXml")(Dblp.readLineXml(spark, corpus))
    queries.foreach { case (name, q, sep) =>
      runOp(tr, name, ops, errors) {
        val df = tr.span("queries.build")(q(pubs))
        tr.span("queries.exec")(tr.span("sinks.writeCsv")(
          Sinks.writeCsv(df, s"$outDir/$name", sep)))
      }
    }
    Batch(Harness.since(t0), ops.toSeq, errors.toSeq, 0)
  }

  override def traceExtras(tr: Tracer, n: Int): Unit = {
    // parse only: the relation materialized through the noop sink
    (0 until n).foreach(_ =>
      tr.span("model.parse")(noop(Dblp.readLineXml(spark, corpus))))
    val pubs = Dblp.readLineXml(spark, corpus)
    extras("model.xml_parse_exprs") =
      queries.map { case (_, q, _) => xmlParses(q(pubs).queryExecution.executedPlan) }.sum
    extras("model.records_in") = pubs.count().toDouble
    extras("model.input_bytes") = new java.io.File(corpus).length.toDouble
    extras("sinks.bytes_written") = n * Disk.bytesUnder(out).toDouble
    // graft.ops over inputs materialized beforehand, so only the operator runs
    def keep(df: DataFrame) = df.localCheckpoint(eager = true)
    val counts = keep(pubs.select(col("venue"), explode(col("authors")).as("author"))
      .filter(col("venue").isNotNull && col("author").isNotNull)
      .groupBy("venue", "author").agg(count(lit(1)).as("cnt")))
    val ay = keep(pubs.filter(size(col("years")) === 1)
      .select(explode(col("authors")).as("author"), element_at(col("years"), 1).as("yr")))
    val na = keep(pubs.filter(col("venue").isNotNull && col("title").isNotNull)
      .select(col("venue"), col("title"), size(col("authors")).as("na")))
    (0 until n).foreach { _ =>
      tr.span("ops.relational") {
        noop(Relational.topKPerGroup(counts, Seq(col("venue")),
          Seq(col("cnt").desc, col("author").asc), 10))
        noop(Relational.longestRunPerKey(ay, col("author"), col("yr")))
        noop(Relational.argMaxPerGroup(na, Seq(col("venue")), col("na")))
        noop(na.filter(col("na") === 1).groupBy("venue")
          .agg(Relational.sortedStringAgg(col("title"), "|").as("titles")))
      }
    }
  }

  /** `from_xml` expressions in a physical plan, stages and subqueries
    * included: each one is a parse of the record text. */
  private def xmlParses(p: SparkPlan): Int = {
    def nodes(x: SparkPlan): Seq[SparkPlan] = x match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    nodes(p).map(_.expressions.map(_.collect { case e: XmlToStructs => e }.size).sum).sum
  }

  override def layers(tr: Tracer): Map[String, Double] =
    extras.toMap ++ Map(
      "model.parse_s" -> tr.seconds("model.parse"),
      "ops.relational_s" -> tr.seconds("ops.relational"))

  def check(): Map[String, Any] = Map("out" -> out)
}

/** lake_commit_mv: a named lake table over `orders` plus a materialized
  * view over it; one closed-loop client runs the seeded rounds of
  * run.py's plan (MERGE, DELETE, REFRESH, key-range point reads, a
  * group-by read). Warm-up rounds run before timing. Reads are
  * summarized for run.py's replay check. */
final class LakeCommitMv(spark: SparkSession, data: String, work: String, planPath: String)
    extends Workload(spark) {
  private case class Stmt(kind: String, sql: String, src: String)

  private val plan = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(planPath))
  private val warmRounds = plan.get("warmup_rounds").asInt
  private val rounds: IndexedSeq[Seq[Stmt]] = plan.get("rounds").elements.asScala
    .map(_.elements.asScala.map(s => Stmt(s.get("kind").asText, s.get("sql").asText,
      Option(s.get("src")).map(_.asText).orNull)).toSeq).toIndexedSeq
  override def nominalBatchS: Double = 4.5
  override def tracedBatches: Int = 2
  override def hasBatch(i: Int): Boolean = warmRounds + i < rounds.size

  private var table, mv, root = ""
  private var done = 0 // rounds executed, warm-up included
  private val reads = mutable.ArrayBuffer[Map[String, Any]]()
  private val acc = mutable.Map[String, Double]().withDefaultValue(0.0)

  override def setup(rep: Int): Unit = {
    spark.read.parquet(s"$data/orders.parquet").createOrReplaceTempView("orders_src")
    table = s"bench_orders_$rep"
    mv = s"bench_mv_$rep"
    spark.sql(s"CREATE TABLE $table KEY o_orderkey FILES 8 AS SELECT * FROM orders_src").collect()
    spark.sql(s"CREATE MATERIALIZED VIEW $mv AS SELECT o_orderstatus, o_orderpriority, " +
      s"count(*) AS n, sum(o_totalprice) AS total FROM $table " +
      "GROUP BY o_orderstatus, o_orderpriority").collect()
    root = spark.sql(s"SELECT target FROM graft_catalog() WHERE name = '$table'")
      .collect()(0).getString(0)
  }

  def warmup(): Unit = (0 until warmRounds).foreach { _ =>
    val b = round(new Tracer(false), None)
    warmupAttempted += b.ops.size
    warmupErrors ++= b.errors
  }

  def batch(i: Int, tr: Tracer, probe: Option[SparkProbe]): Batch = {
    val before = if (tr.active) Disk.bytesUnder(root) else 0L
    val b = round(tr, probe)
    if (tr.active) acc("root_bytes_added") += Disk.bytesUnder(root) - before
    b
  }

  private def round(tr: Tracer, probe: Option[SparkProbe]): Batch = {
    val ops = mutable.ArrayBuffer[Op]()
    val errors = mutable.ArrayBuffer[String]()
    var extraNs = 0L
    def extra[A](body: => A): A = {
      val t0 = System.nanoTime()
      try body finally extraNs += System.nanoTime() - t0
    }
    var records = 0.0
    val t0 = System.nanoTime()
    rounds(done).zipWithIndex.foreach { case (st, k) =>
      val sql = st.sql.replace("{T}", table).replace("{MV}", mv)
      if (st.src != null)
        spark.read.parquet(st.src).createOrReplaceTempView("merge_src")
      if (tr.active) extra(tr.span("sql.parsePlan")(spark.sessionState.sqlParser.parsePlan(sql)))
      val jobs0 = if (tr.active && st.kind == "refresh") extra(jobCount(probe)) else 0.0
      runOp(tr, st.kind, ops, errors) {
        val span = st.kind match {
          case "merge" => "lake.merge"
          case "delete" => "lake.delete"
          case "refresh" => "mv.refresh"
          case _ => "lake.read"
        }
        val rows = tr.span(span)(spark.sql(sql).collect())
        st.kind match {
          case "merge" | "delete" =>
            val r = rows(0) // version, kept, rewritten, added, affected
            records += r.getLong(4)
            tr.count("lake.files_kept", r.getInt(1))
            tr.count("lake.files_rewritten", r.getInt(2))
            tr.count("lake.files_added", r.getInt(3))
            tr.count("lake.changed_rows", r.getLong(4))
          case "point" =>
            reads += Map("round" -> done, "idx" -> k, "kind" -> "point",
              "n" -> rows.length,
              "key_sum" -> rows.map(_.getAs[Long]("o_orderkey")).sum,
              "price_sum" -> rows.map(_.getAs[Double]("o_totalprice")).sum)
          case "scan" =>
            reads += Map("round" -> done, "idx" -> k, "kind" -> "scan",
              "groups" -> rows.map(r => Seq(r.getString(0), r.getString(1),
                r.getLong(2), r.getDouble(3))).toSeq)
          case _ =>
        }
      }
      if (tr.active && st.kind == "refresh")
        tr.count("mv.refresh_jobs", extra(jobCount(probe)) - jobs0)
      if (tr.active && st.kind == "point") extra {
        tr.count("lake.point_files_read", dataFiles(spark.sql(sql)))
        tr.count("lake.point_files_live", dataFiles(spark.table(table)))
      }
    }
    done += 1
    Batch(Harness.since(t0) - extraNs / 1e9, ops.toSeq, errors.toSeq, records)
  }

  private def jobCount(probe: Option[SparkProbe]): Double =
    probe.map(_.snapshot()._1.getOrElse("spark.jobs", 0.0)).getOrElse(0.0)

  /** Data files a read plans to scan, after the lake's file pruning. */
  private def dataFiles(df: DataFrame): Double =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location.inputFiles
          .count(_.contains("/data/"))
    }.sum.toDouble

  override def layers(tr: Tracer): Map[String, Double] = {
    val t = new LakeTable(spark, root)
    val live = t.filesDf().filter(col("kind") === "data").select("path", "n_rows").collect()
    val liveBytes = live.map(r => Disk.size(new Path(new Path(root), r.getString(0)).toString))
      .sum.toDouble
    val liveRows = live.map(_.getLong(1)).sum.toDouble
    val c = tr.counts
    Map(
      "lake.merge_s" -> tr.seconds("lake.merge"),
      "lake.delete_s" -> tr.seconds("lake.delete"),
      "lake.read_s" -> tr.seconds("lake.read"),
      "lake.files_added" -> c("lake.files_added"),
      "lake.files_rewritten" -> c("lake.files_rewritten"),
      "lake.files_kept" -> c("lake.files_kept"),
      "lake.write_amp" -> acc("root_bytes_added") /
        math.max(1.0, c("lake.changed_rows") * liveBytes / liveRows),
      "lake.space_amp" -> Disk.bytesUnder(root) / liveBytes,
      "lake.live_files" -> live.length.toDouble,
      "lake.versions" -> t.latestVersion.toDouble,
      "lake.point_files_read" -> c("lake.point_files_read"),
      "lake.prune_ratio" ->
        (1.0 - c("lake.point_files_read") / math.max(1.0, c("lake.point_files_live"))),
      "mv.refresh_s" -> tr.seconds("mv.refresh"),
      "mv.refresh_jobs" -> c("mv.refresh_jobs"),
      "sql.parse_ms" -> 1000.0 * tr.seconds("sql.parsePlan") /
        math.max(1.0, tr.spanCount("sql.parsePlan")))
  }

  def check(): Map[String, Any] = {
    spark.table(table).write.mode("overwrite").parquet(s"$work/check/table")
    spark.table(mv).write.mode("overwrite").parquet(s"$work/check/mv")
    Map("rounds_done" -> done, "reads" -> reads.toSeq,
      "table" -> s"$work/check/table", "mv" -> s"$work/check/mv")
  }
}

/** Bytes on local disk, for the lake's space and write amplification. */
object Disk {
  private def local(path: String) = Paths.get(new Path(path).toUri.getPath)

  def bytesUnder(dir: String): Long = {
    val p = local(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def size(path: String): Long = Files.size(local(path))
}
