package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** `spark.read.format("graft-lake")` — the lake as a first-class Spark
  * data source, so SQL/DataFrame users read snapshots without touching
  * the [[LakeTable]] API:
  *
  * {{{
  * spark.read.format("graft-lake").load(root)                    // latest
  * spark.read.format("graft-lake")
  *      .option("versionAsOf", 3).load(root)                     // time travel
  * }}}
  *
  * Implemented as a V1 `RelationProvider` that resolves the snapshot's
  * manifest and hands back the underlying multi-file parquet relation —
  * deliberately, because that plans as an ordinary `LogicalRelation` over
  * `HadoopFsRelation`, which is exactly the shape [[LakeManifestPrune]]
  * matches: format reads get manifest data skipping, parquet pushdown,
  * and vectorized scanning for free. (A DSv2 Table would need its own
  * scan builder and would bypass the prune rule.)
  *
  * Snapshots a raw file relation CANNOT represent — renamed/remapped
  * columns (column mapping: files speak physical names, readers must see
  * logical ones) or outstanding [[LakeTable.deleteDeferred]] tombstones
  * (merge-on-read needs the read-time anti-join) — are served through
  * [[LakeProjectedRelation]] instead: the exact API-read semantics with
  * filter pushdown and column pruning intact, at the cost of whole-stage
  * fusion across the relation boundary. Every surface now reads every
  * snapshot; the fast path stays the fast path.
  *
  * The STREAMING half (`spark.readStream.format("graft-lake")`) serves the
  * change feed with per-commit micro-batches — see
  * [[LakeChangeFeedSource]]. */
class LakeSource extends RelationProvider with DataSourceRegister
    with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "graft-lake"

  /** Every surface accepts a catalog table NAME where it takes a root —
    * a bare bound identifier resolves, anything else is a path verbatim
    * ([[LakeCatalog.resolvePathOrName]]). */
  private def resolved(sqlContext: SQLContext,
                       parameters: Map[String, String]): Map[String, String] =
    parameters.get("path").fold(parameters)(p => parameters.updated("path",
      LakeCatalog.resolvePathOrName(sqlContext.sparkSession, p)))

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), LakeChangeFeedSource.feedSchema(sqlContext.sparkSession,
      resolved(sqlContext, parameters).getOrElse("path",
        throw new IllegalArgumentException(
          "graft-lake stream requires a path"))))

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source =
    new LakeChangeFeedSource(sqlContext, resolved(sqlContext, parameters),
      Some(metadataPath))

  /** `df.writeStream.format("graft-lake").option("path", root)` — the
    * lake as a first-class streaming SINK: every micro-batch MERGEs by
    * key as one COW commit, and the epoch tag (qualified by the
    * checkpoint identity, or an explicit `txnAppId` option) makes a
    * replayed batch a no-op — exactly-once table content with engine-
    * managed offsets, the symmetric twin of the change-feed source. The
    * table must exist (`Lake.create` fixes key and layout); partitionBy
    * on the writer refuses (layout is a table property). Append and
    * update output modes are per-batch upserts (the table is keyed);
    * COMPLETE mode folds each batch as the table's whole intended
    * content — upsert everything, delete keys the batch dropped
    * ([[LakeTable.replaceAllEpoch]]) — the streaming-aggregation
    * materialization mode. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val root = resolved(sqlContext, parameters).getOrElse("path",
      throw new IllegalArgumentException(
        "graft-lake sink requires a path: writeStream.format(\"graft-lake\")" +
          ".option(\"path\", <root or catalog table name>)"))
    require(partitionColumns.isEmpty,
      "graft-lake sink: partition layout is fixed at table create — drop " +
        "the writer's partitionBy")
    // epoch tags qualify per CHECKPOINT (the txnAppId pattern): a fresh
    // checkpoint restarts epochs at 0 and must not collide with or
    // early-exit the old run's chain. A writer identity derived from the
    // TABLE ROOT would be shared by every query writing the table (two
    // writers, one epoch sequence — the second query's batches silently
    // skipped as replays), so a query whose checkpoint came from the
    // session conf (absent here) must refuse rather than fall back.
    // a session-conf checkpoint ROOT + an explicit queryName is just as
    // deterministic as a writer-level checkpointLocation (Spark resolves
    // the query's checkpoint to <root>/<queryName>) — derive the same
    // identity. A conf root WITHOUT a query name resolves to a random
    // UUID subdir per start (no continuity to protect, but also no
    // stable identity two runs could share) — that case still refuses.
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation").map(cp =>
        java.lang.Long.toHexString(new Path(cp).toString.hashCode & 0xffffffffL)))
      .orElse {
        val confRoot = sqlContext.sparkSession.conf
          .getOption("spark.sql.streaming.checkpointLocation")
        val qName = parameters.get("queryName")
        (confRoot, qName) match {
          case (Some(r), Some(q)) =>
            val cp = new Path(new Path(r), q).toString
            Some(java.lang.Long.toHexString(cp.hashCode & 0xffffffffL))
          case _ => None
        }
      }
      .getOrElse(throw new IllegalArgumentException(
        "graft-lake sink requires a stable writer identity: set " +
          ".option(\"checkpointLocation\", …) on the writer, or the session " +
          "checkpoint conf PLUS .queryName(…), or pass " +
          ".option(\"txnAppId\", …) — a shared root-derived identity would " +
          "make concurrent writers skip each other's epochs as replays"))
    // complete mode IS the mode: each batch replaces the table content
    if (outputMode == OutputMode.Complete()) {
      require(!parameters.contains("mode") || parameters("mode") == "aggregate",
        "graft-lake sink: complete output mode folds each batch as the " +
          "whole table (drop the 'mode' option, or set mode=aggregate)")
      return new LakeMergeSink(root, appId, replaceAll = true)
    }
    // mode=merge (default): per-batch keyed upsert. mode=insert: the
    // append fast path — adds-only commits with a PK conflict check,
    // zero rewrite risk for randomly-keyed append-only streams (a keyed
    // merge would rewrite every range-covering file).
    val mode = parameters.getOrElse("mode", "merge")
    require(mode == "merge" || mode == "insert",
      s"graft-lake sink: unknown mode '$mode' (merge | insert — " +
        "mode=aggregate requires complete output mode)")
    new LakeMergeSink(root, appId, insertOnly = mode == "insert")
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val root = resolved(sqlContext, parameters).getOrElse("path",
      throw new IllegalArgumentException(
        "graft-lake requires a path: spark.read.format(\"graft-lake\")" +
          ".load(<root or catalog table name>)"))
    val spark = sqlContext.sparkSession
    val table = new LakeTable(spark, root)
    require(!(parameters.contains("versionAsOf") &&
        parameters.contains("timestampAsOf")),
      "versionAsOf and timestampAsOf are mutually exclusive")
    val version = parameters.get("versionAsOf").map(_.toInt)
      .orElse(parameters.get("timestampAsOf")
        .map(t => table.versionAt(Lake.parseTsMillis(t))))
      .getOrElse(table.latestVersion)
    val m = table.manifest(version)
    // snapshots that are a plain multi-file parquet scan (no renames, no
    // outstanding merge-on-read tombstones) hand back the underlying
    // file relation — the fast path every rule and reader optimization
    // targets (see class doc). Everything else takes the PROJECTED
    // relation below, which serves the exact API-read semantics.
    if (m.columnMap.nonEmpty || m.tombstones.nonEmpty ||
        (m.files.isEmpty && m.schemaDdl.nonEmpty) ||
        // partition-spec evolution: files from several layout eras can't
        // share one hive-discovered scan — serve the projected relation,
        // whose inner frame groups scans per era
        m.files.map(f => Lake.hiveSig(f.path)).distinct.size > 1)
      return new LakeProjectedRelation(sqlContext, root, version)
    require(m.files.nonEmpty,
      s"snapshot v$version is empty with no recorded schema — nothing " +
        "to expose through the format; use LakeTable.read()")
    val paths = m.files.map(f => new Path(root, f.path).toString)
    // the stored schema (when present) replaces footer merging and reads
    // pre-widening files promoted in place — same contract as the API read
    val reader = m.schemaDdl match {
      case Some(ddl) => spark.read.schema(StructType.fromDDL(ddl))
      case None => spark.read.option("mergeSchema", "true")
    }
    // hive-layout files (current spec, or a single pre-evolution era):
    // recover directory values as real columns
    if (m.partitionCols.nonEmpty ||
        m.files.exists(f => Lake.hiveSig(f.path).nonEmpty))
      reader.option("basePath", new Path(root, "data").toString)
    reader.parquet(paths: _*)
      .queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l.relation
      }.getOrElse(throw new IllegalStateException(
        "parquet read did not resolve to a file relation"))
  }
}

/** The format's fallback relation for snapshots a raw file relation
  * cannot represent: COLUMN-MAPPED tables (renames/dropped-name
  * remaps — physical files speak storage names, readers must see
  * logical ones) and MERGE-ON-READ snapshots (outstanding deferred-
  * delete tombstones need the read-time anti-join). A V1
  * `PrunedFilteredScan` whose scan plans the exact API-read frame
  * ([[LakeTable.snapshot]]) and lets Catalyst compile it:
  *
  *  - FILTERS Spark pushes here are re-applied as `Column` predicates
  *    on the inner frame (logical names — the aliasing projection
  *    rewrites them onto the physical scan), so parquet pushdown AND
  *    [[LakeManifestPrune]] data skipping fire exactly as they do for
  *    an API read. Unconvertible filters are skipped — Spark
  *    re-evaluates every pushed filter above a V1 scan, so skipping
  *    costs I/O, never correctness.
  *  - COLUMN PRUNING maps `requiredColumns` to a select on the inner
  *    frame — the physical scan reads only the needed columns.
  *  - the returned rows are the inner plan's InternalRows
  *    (`needConversion = false`): no per-row external conversion; the
  *    one real cost vs. the fast path is losing whole-stage fusion
  *    ACROSS the relation boundary, which is the honest price of
  *    semantics a file relation cannot carry. */
private[sources] class LakeProjectedRelation(
    override val sqlContext: SQLContext, root: String, version: Int)
    extends BaseRelation
    with org.apache.spark.sql.sources.PrunedFilteredScan {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.functions.{col, lit}

  private def snap: DataFrame =
    new LakeTable(sqlContext.sparkSession, root).snapshot(version)

  // lazy: relation construction is also the fast-path REJECTION probe —
  // resolving the snapshot frame there would plan it twice for every
  // read that ends up here, and once for snapshots that never get read
  override lazy val schema: StructType = snap.schema

  override def needConversion: Boolean = false

  /** sources.Filter → Column on the logical frame; None = not convertible
    * (safe: Spark re-applies all pushed filters above the scan). */
  private def toColumn(f: Filter): Option[org.apache.spark.sql.Column] =
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
      case Not(c) => toColumn(c).map(!_)
      case _ => None
    }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val filtered = filters.foldLeft(snap)((df, f) =>
      toColumn(f).map(df.filter).getOrElse(df))
    val projected = filtered.select(
      requiredColumns.toIndexedSeq.map(col): _*)
    // needConversion=false contract: the RDD really carries InternalRows
    projected.queryExecution.toRdd
      .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
  }
}

/** The V1 sink behind `writeStream.format("graft-lake")` — one
  * [[LakeTable.mergeEpoch]] (or `replaceAllEpoch` / `insertEpoch`) per
  * micro-batch. The incoming DataFrame is the streaming plan; it
  * re-plans as a batch frame, and each verb materializes its source
  * once itself, so a streaming batch never re-executes. */
private[sources] class LakeMergeSink(root: String, appId: String,
                                      insertOnly: Boolean = false,
                                      replaceAll: Boolean = false)
    extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val batch = org.apache.spark.sql.graft.StreamBridge.batchDataFrame(data)
    val t = new LakeTable(spark, root)
    if (replaceAll) t.replaceAllEpoch(batch, batchId, appId)
    else if (insertOnly) t.insertEpoch(batch, batchId, appId)
    else t.mergeEpoch(batch, batchId, appId)
    // AUTO-BINPACK (off by default): streaming micro-batches are what
    // fragment a table — with spark.graft.lake.autoBinpack.minRows set,
    // the sink folds accumulated sub-threshold files back to ~2x-target
    // files once enough pile up, as its own ordinary commit (an
    // incremental O(small files) sweep, never a full compact). A lost
    // race or concurrent sweep is harmless: binpack is idempotent and
    // no-ops when nothing is small.
    val minRows = spark.conf
      .get("spark.graft.lake.autoBinpack.minRows", "0").toLong
    if (minRows > 0) {
      val minFiles = spark.conf
        .get("spark.graft.lake.autoBinpack.minFiles", "4").toInt
      val m = t.manifest(t.latestVersion)
      if (m.files.count(_.rows < minRows) >= minFiles)
        t.withRetry(t.compactBinPack(minRows))
    }
    ()
  }
}
